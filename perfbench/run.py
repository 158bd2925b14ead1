#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Starts a Spark session on ``local[$(nproc)]`` with a fixed 2 GB heap
touched at start, generates the workload's inputs from ``--seed``, warms
up, then runs closed-loop timed passes for ``--seconds`` seconds (always
at least one) and checks the outputs
outside the timed window. Everything it writes stays under
``perfbench/.work/``; a run's inputs and outputs are deleted at its end.

With ``--trace 0`` every pass is untraced and the last stdout line
carries the end-to-end metrics. With ``--trace 1`` passes alternate
untraced and traced, starting and ending untraced; the last line carries
the per-layer metrics (medians over traced passes) including
``tracing.overhead_s``, and the spans are written to
``perfbench/.work/results/``. The line before the last holds the full
record: end-to-end metrics, set-up phases, operation-latency tail with
its percentile and sample count, peak RSS, output checks, failures and
the machine block; ``perfbench/.work/results/`` also keeps it with the
per-pass figures. See ``perfbench/metrics.py`` for what each metric
means.

Exits non-zero without a result line when the engine or Spark cannot be
imported, or when set-up fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: The JVM heap: fixed in size and touched at start, so no timed pass
#: pays page faults for heap growth; those cost more, and more unevenly,
#: when other guests press the host's memory.
HEAP = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="default", help="input sizes: default or tiny")
    return ap.parse_args(argv)


def session_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory and
    retain enough status-store history for a whole run."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData (here and for the launcher JVM): HotSpot would
        # otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            f" -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        from streaming_etl_pipeline_spark.machine_state import (
            machine_state, sibling_processes)
        from streaming_etl_pipeline_spark.session import build_session
        from streaming_etl_pipeline_spark.sources import io

        from perfbench.measure import ProcTree, SparkStores, Tracer, cpu_steal, median, tail
        from perfbench.metrics import END_TO_END, PER_LAYER
        from perfbench.workloads import SCALES, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or Spark: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS or args.scale not in SCALES:
        print(f"perfbench: unknown workload {args.workload!r} or scale {args.scale!r}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    results = os.path.join(WORK, "results")
    for d in (os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin both, and
    # the Python temp dir, inside the run's work directory.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP

    spark = None
    try:
        spark = build_session(app_name=f"perfbench-{args.workload}",
                              extra_conf=session_conf(work))
        session_s = time.perf_counter() - T_START
        proc = ProcTree()
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"),
                                      args.seed, args.scale)
        wl.setup()
        setup_s = time.perf_counter() - T_START

        stores = SparkStores(spark) if args.trace else None
        tracer = Tracer(T_START) if args.trace else None
        targets = {"sources.read_table": io.read_table, "sources.spread": io.spread}
        passes = []
        t_loop = time.perf_counter()
        steal0 = cpu_steal()
        k = 0
        while True:
            traced = bool(args.trace) and k % 2 == 1
            first_span = len(tracer.spans) if tracer else 0
            calls_before = {n: len(v) for n, v in tracer.calls.items()} if tracer else {}
            mark = stores.mark() if traced else None
            cpu0 = proc.cpu_s()
            with tracer.wrap_functions(targets) if traced else nullcontext():
                r = wl.run_pass(k, tracer if traced else None, stores if traced else None)
            cpu = proc.cpu_s() - cpu0
            if traced:
                r.layers.update(stores.stage_metrics(mark))
                r.layers.update(span_layers(tracer, first_span, calls_before))
            passes.append({"k": k, "traced": traced, "wall_s": r.wall_s, "cpu_s": cpu,
                           "ops": r.ops, "failed": r.failed, "layers": r.layers})
            k += 1
            # a traced run brackets each traced pass by untraced ones, so
            # the JIT still warming up does not bias tracing.overhead_s
            if time.perf_counter() - t_loop >= args.seconds and (not args.trace or (k >= 3 and k % 2)):
                break

        steal1 = cpu_steal()
        checks = wl.check()
        peak_rss = proc.peak_rss_mb()
        machine = machine_state()
        machine.update({
            "nproc": len(os.sched_getaffinity(0)),
            "steal_pct_timed": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "spark_master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "siblings": sibling_processes(
                patterns=("bench.py", "bench_regress.py", "soak_", "check_oracle.py",
                          "perfbench/run.py")),
        })
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)

    plain = [p for p in passes if not p["traced"]]
    ops = [dt for p in plain for name, dt in p["ops"] if name.startswith(wl.latency_prefix)]
    tail_v, tail_pct, n_ops = tail(ops)
    wall = median([p["wall_s"] for p in plain])
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "op_p50_s": median(ops),
        "rows_per_s": wl.input_rows / wall if wall > 0 else 0.0,
    }
    attempted = sum(len(p["ops"]) + p["failed"] for p in passes) + len(checks)
    failed = sum(p["failed"] for p in passes) + sum(1 for c in checks if not c[1])

    layers = {}
    span_file = None
    if args.trace:
        layers, exchanges = per_layer(passes, wl)
        layers["tracing.overhead_s"] = (
            median([p["wall_s"] for p in passes if p["traced"]]) - wall)
        span_file = os.path.join(results, f"{run_id}-spans.json")
        tracer.dump(span_file)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "seconds": args.seconds,
        "end_to_end": {n: {"value": v, "unit": END_TO_END[n][0]} for n, v in e2e.items()},
        "setup_phases": {"session_s": session_s, "inputs_s": wl.inputs_s,
                         "warmup_s": setup_s - session_s - wl.inputs_s},
        "peak_rss_mb": peak_rss,
        "op_tail": {"value": tail_v, "unit": "s", "percentile": tail_pct,
                    "samples": n_ops},
        "error_rate": failed / attempted if attempted else 0.0,
        "attempted": attempted, "failed": failed,
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        "checks": [{"name": c[0], "ok": c[1], "detail": c[2]} for c in checks],
        "failures": wl.failures,
        "machine": machine,
        "span_file": span_file and os.path.relpath(span_file, ROOT),
    }
    if args.trace:
        record["per_layer"] = {n: {"value": v, "unit": PER_LAYER[n][0],
                                   "moves": PER_LAYER[n][1]} for n, v in layers.items()}
        record["per_query_exchanges"] = exchanges
        record["span_self_s"] = tracer.self_time()
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    metrics = ({n: {"value": layers.get(n, 0.0), "unit": PER_LAYER[n][0]} for n in PER_LAYER}
               if args.trace else record["end_to_end"])
    print(json.dumps({k: v for k, v in record.items() if k != "passes"}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def span_layers(tracer, first_span: int, calls_before: dict) -> dict[str, float]:
    """Per-layer times of one traced pass from its spans and wrapped calls."""
    out: dict[str, float] = {}
    for s in tracer.spans[first_span:]:
        if s["end"] is None:
            continue
        key = {"plans.build": "plans.build_s", "catalyst.plan": "catalyst.plan_s",
               "exec": "exec_s"}.get(s["name"])
        if key:
            out[key] = out.get(key, 0.0) + s["end"] - s["start"]
    for name, times in tracer.calls.items():
        new = times[calls_before.get(name, 0):]
        out[f"{name}_s"] = sum(new)
        if name == "sources.spread":
            out["sources.spread_calls"] = float(len(new))
    return out


def per_layer(passes: list[dict], workload) -> tuple[dict[str, float], dict[str, float]]:
    """(per-layer metrics, exchanges per query): medians over the traced
    passes, plus the counts the workload read from its outputs."""
    from perfbench.measure import median
    from perfbench.metrics import DOCUMENT, PER_LAYER, RELATIONAL

    traced = [p["layers"] for p in passes if p["traced"]]

    def med(key: str) -> float:
        return median([lay.get(key, 0.0) for lay in traced])

    def med_sum(keys) -> float:
        return median([sum(lay.get(k, 0.0) for k in keys) for lay in traced])

    out = {n: med(n) for n in PER_LAYER if any(n in lay for lay in traced)}
    exchanges = {q: med(f"sql.exchanges.{q}") for q in RELATIONAL + DOCUMENT
                 if any(f"sql.exchanges.{q}" in lay for lay in traced)}
    out["sql.exchanges"] = med_sum([f"sql.exchanges.{q}" for q in exchanges])
    out["queries.relational_s"] = med_sum([f"query.{q}.s" for q in RELATIONAL])
    out["queries.document_s"] = med_sum([f"query.{q}.s" for q in DOCUMENT])
    near_dup = ("dedup_ngram_jaccard", "dedup_minhash_lsh")
    results = med_sum([f"query.{q}.result_rows" for q in near_dup])
    candidates = med_sum([f"query.{q}.candidate_rows" for q in near_dup])
    out["dedup.candidates_per_result"] = candidates / results if results else 0.0
    out.update({k: v for k, v in workload.layers.items() if k in PER_LAYER})
    return out, exchanges


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
