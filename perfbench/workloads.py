"""The benchmark's two workloads, driven through the engine's public API.

Each workload generates its inputs from the seed in :meth:`setup`, which
also runs untimed warm-up passes; runs closed-loop timed passes with
one client in :meth:`run_pass`; and reports output checks made outside
the timed window from :meth:`check`. A pass returns the latency of every
operation it ran: a query, a micro-batch or a medallion stage. Queries
and micro-batches are the latency samples.
"""

from __future__ import annotations

import datetime
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import datagen
from perfbench.measure import SparkStores, Tracer, row_count
from perfbench.metrics import DOCUMENT, RELATIONAL

from streaming_etl_pipeline_spark.pipelines import medallion
from streaming_etl_pipeline_spark.plans import differential
from streaming_etl_pipeline_spark.plans.corpus import QUERIES
from streaming_etl_pipeline_spark.quality import expectations
from streaming_etl_pipeline_spark.streaming import ingest

#: Queries whose final filter keeps near-dup pairs out of a candidate set.
CANDIDATE_QUERIES = ("dedup_ngram_jaccard", "dedup_minhash_lsh")

#: Input sizes per workload and scale; "tiny" is the self-check scale.
SCALES = {
    "default": {
        "queries": {"sf": 0.005},
        "ingest_pipeline": {"events": 8_000, "event_files": 4,
                            "docs": 100, "doc_files": 2},
    },
    "tiny": {
        "queries": {"sf": 0.001},
        "ingest_pipeline": {"events": 2_000, "event_files": 2,
                            "docs": 80, "doc_files": 2},
    },
}


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops: list[tuple[str, float]] = field(default_factory=list)
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _prime(path: str) -> None:
    """Read every input file once so no timed pass pays cold-file I/O."""
    for root, _dirs, names in os.walk(path):
        for n in names:
            with open(os.path.join(root, n), "rb") as fh:
                while fh.read(1 << 20):
                    pass


class Workload:
    name = ""
    #: operations whose name starts with this give the latency samples
    latency_prefix = ""

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SCALES[scale][self.name]
        self.failures: list[str] = []
        self.input_rows = 0
        #: seconds set-up spent generating inputs (the rest is warm-up)
        self.inputs_s = 0.0
        #: per-layer counts read from the outputs by :meth:`check`
        self.layers: dict[str, float] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, k: int, tracer: Tracer | None, stores: SparkStores | None) -> PassResult:
        raise NotImplementedError

    def check(self) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def _fail(self, what: str, exc: BaseException) -> None:
        self.failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


class Queries(Workload):
    """The registry's bench queries over a generated corpus, in a
    seed-permuted order per pass, with the cache cleared before every
    query; each query is materialised through the ``noop`` sink."""

    name = "queries"
    queries = RELATIONAL + DOCUMENT

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.corpus = os.path.join(self.work, "corpus")
        rows = datagen.write_corpus(self.corpus, self.size["sf"], self.seed)
        self.input_rows = sum(rows.values())
        _prime(self.corpus)
        self.inputs_s = time.perf_counter() - t0
        # Two warm-up passes run side by side: the output check, where every
        # query runs once on Spark and on the DuckDB oracle, and a pass
        # through the noop sink like a timed one. Together they fill the
        # JIT and whole-stage codegen caches the timed passes reuse; after
        # the check alone, a timed pass spent about a tenth more CPU (4 CPUs,
        # median of 9 runs), much of it compiling. Run one after the other,
        # the two would add the second's full length to set-up.
        with ThreadPoolExecutor(1) as pool:
            noop_pass = pool.submit(self.run_pass, -1, None, None)
            self.checks = self._oracle_checks()
            noop_pass.result()

    def _order(self, k: int) -> list[str]:
        rng = np.random.default_rng([self.seed, k + 1])
        return [self.queries[i] for i in rng.permutation(len(self.queries))]

    def run_pass(self, k, tracer, stores):
        res = PassResult()
        t_pass = time.perf_counter()
        for name in self._order(k):
            fn = QUERIES[name].fn
            self.spark.catalog.clearCache()
            mark = stores.mark() if stores else None
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    _noop(fn(self.spark, self.corpus))
                else:
                    with tracer.span(f"query:{name}", op=len(tracer.spans)):
                        with tracer.span("plans.build"):
                            df = fn(self.spark, self.corpus)
                        with tracer.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            _noop(df)
            except Exception as exc:  # a failed query is counted, not fatal
                res.failed += 1
                self._fail(f"pass {k} query {name}", exc)
                continue
            dt = time.perf_counter() - t0
            res.ops.append((name, dt))
            if stores is not None:
                res.layers[f"query.{name}.s"] = dt
                execs = stores.executions(mark)
                res.layers[f"sql.exchanges.{name}"] = float(
                    sum(e["exchanges"] for e in execs))
                if name in CANDIDATE_QUERIES:
                    cand, result = max((plan_rows(stores, e["id"]) for e in execs),
                                       default=(0.0, 0.0))
                    res.layers[f"query.{name}.candidate_rows"] = cand
                    res.layers[f"query.{name}.result_rows"] = result
        res.wall_s = time.perf_counter() - t_pass
        return res

    def check(self):
        return self.checks

    def _oracle_checks(self):
        """Each query once on Spark (collected) against its DuckDB oracle:
        row count, column names and order-insensitive value hash. The
        oracle runs in a worker thread, on one core, while Spark runs its
        side."""
        with ThreadPoolExecutor(1) as pool:
            con = pool.submit(_oracle_connect, self.corpus).result()
            oracle = {name: pool.submit(_oracle_rows, con, QUERIES[name].sql)
                      for name in self.queries}
            out = []
            for name in self.queries:
                self.spark.catalog.clearCache()
                try:
                    df = QUERIES[name].fn(self.spark, self.corpus)
                    s_cols, s_rows = differential.canonicalize_rows(
                        list(df.columns), [tuple(r) for r in df.collect()])
                    d_cols, d_rows = oracle[name].result()
                    r = differential.compare_canonical(name, s_cols, s_rows, d_cols, d_rows)
                    out.append((f"oracle:{name}", r.ok, r.detail))
                except Exception as exc:
                    out.append((f"oracle:{name}", False, f"{type(exc).__name__}: {exc}"[:300]))
            pool.submit(con.close).result()
        return out


def _oracle_connect(corpus: str):
    con = differential.duck_connect(corpus)
    con.sql("SET threads=1")
    return con


def _oracle_rows(con, sql: str) -> tuple[list[str], list[str]]:
    rel = con.sql(sql)
    return differential.canonicalize_rows(list(rel.columns), rel.fetchall())


def plan_rows(stores: SparkStores, execution_id: int) -> tuple[float, float]:
    """(candidate rows, result rows) of one execution's final plan.

    Result rows are the output of the first node below the root that
    reports a row count. Candidate rows are the rows entering the
    top-most Filter (the exact-Jaccard verify of the near-dup queries):
    the output of the first counting node below that Filter."""
    graph = stores.sql.planGraph(execution_id)
    values = stores.sql.executionMetrics(execution_id)
    nodes = graph.allNodes()
    edges = graph.edges()
    by_id = {nodes.apply(i).id(): nodes.apply(i) for i in range(nodes.size())}
    children: dict[int, list[int]] = {}
    has_parent = set()
    for i in range(edges.size()):
        e = edges.apply(i)
        children.setdefault(e.toId(), []).append(e.fromId())
        has_parent.add(e.fromId())

    def rows_below(nid: int) -> float:
        queue = list(children.get(nid, []))
        while queue:
            node = by_id[queue.pop(0)]
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    return row_count(v.get()) if v.isDefined() else 0.0
            queue.extend(children.get(node.id(), []))
        return 0.0

    roots = [n for n in children if n not in has_parent]
    result = sum(rows_below(r) for r in roots)
    frontier, seen = list(roots), set(roots)
    while frontier:
        nxt = []
        for nid in frontier:
            if by_id[nid].name() == "Filter":
                return rows_below(nid), result
            for c in children.get(nid, []):
                if c not in seen:
                    seen.add(c)
                    nxt.append(c)
        frontier = nxt
    return 0.0, result


DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
])
STREAM_PARTS = {"addBatch": "stream.add_batch_s", "queryPlanning": "stream.query_planning_s",
                "walCommit": "stream.wal_commit_s", "commitOffsets": "stream.commit_offsets_s",
                "latestOffset": "stream.latest_offset_s"}


class IngestPipeline(Workload):
    """The engine's ingest path end to end, into fresh directories per
    pass: a backlog drain of landed sensor-event files through the
    Structured Streaming ingest (Bronze and dead-letter sinks), the
    medallion batch over that Bronze (Silver, Gold, then the Silver
    quality suite), and a backlog drain of landed document batches
    through the near-dup ingest into a fresh signature store."""

    name = "ingest_pipeline"
    latency_prefix = "batch:"

    def setup(self) -> None:
        t0 = time.perf_counter()
        s = self.size
        self.events_in = os.path.join(self.work, "events_in")
        self.docs_in = os.path.join(self.work, "docs_in")
        self.expect = datagen.write_sensor_jsonl(
            self.events_in, s["events"], s["event_files"], self.seed)
        datagen.write_document_jsonl(self.docs_in, s["docs"], s["doc_files"], self.seed + 1)
        # The warm-up drains a smaller landing of its own through the same
        # code paths (two document batches, so the store probe runs too).
        warm = os.path.join(self.work, "warm")
        datagen.write_sensor_jsonl(f"{warm}/events_in", s["events"] // 4, 1, self.seed + 2)
        datagen.write_document_jsonl(f"{warm}/docs_in", s["docs"] // 4, 2, self.seed + 3)
        self.input_rows = s["events"] + s["docs"]
        _prime(self.work)
        self.inputs_s = time.perf_counter() - t0
        self.outputs: list[tuple[int, str, dict]] = []
        self.run_pass(-1, None, None, inputs=warm)
        self.outputs.clear()

    def run_pass(self, k, tracer, stores, inputs=None):
        res = PassResult()
        out = os.path.join(self.work, f"pass{k}")
        events_in = f"{inputs}/events_in" if inputs else self.events_in
        docs_in = f"{inputs}/docs_in" if inputs else self.docs_in
        span = (lambda name: tracer.span(name, op=len(tracer.spans))) if tracer else (
            lambda name: nullcontext())
        got = {}
        t_pass = time.perf_counter()
        for name, call in (
            ("stream.events", lambda: self._drain_events(events_in, out)),
            ("medallion.b2s", lambda: medallion.bronze_to_silver(
                self.spark, f"{out}/bronze", f"{out}/silver", merge_with_existing=False)),
            ("medallion.s2g", lambda: medallion.silver_to_gold(
                self.spark, f"{out}/silver", f"{out}/gold")),
            ("quality.validate", lambda: expectations.validate(
                self.spark.read.parquet(f"{out}/silver"), expectations.silver_suite())),
            ("stream.docs", lambda: self._drain_docs(docs_in, out)),
        ):
            t0 = time.perf_counter()
            try:
                with span(name):
                    got[name] = call()
                    if name.startswith("stream."):
                        self._batches(got[name], res, tracer, stores)
            except Exception as exc:  # a failed stage is counted, not fatal
                res.failed += 1
                self._fail(f"pass {k} {name}", exc)
                break
            if not name.startswith("stream."):
                dt = time.perf_counter() - t0
                res.ops.append((name, dt))
                res.layers[f"{name}_s"] = dt
        res.wall_s = time.perf_counter() - t_pass
        if res.failed:
            return res
        b2s, s2g = got["medallion.b2s"].metrics, got["medallion.s2g"].metrics
        self.outputs.append((k, out, {"b2s": b2s, "report": got["quality.validate"]}))
        if stores is not None:
            files, size = _count_files(f"{out}/silver")
            gold_files, gold_size = _count_files(f"{out}/gold")
            res.layers.update({
                "medallion.input_rows": float(b2s.get("input_rows", 0)),
                "medallion.output_rows": float(b2s.get("output_rows", 0)),
                "medallion.anomaly_rows": float(b2s.get("anomaly_rows", 0)),
                "medallion.gold_groups": float(s2g.get("sensor_5min_groups", 0)),
                "medallion.files_written": float(files + gold_files),
                "medallion.bytes_written": float(size + gold_size),
                "stream.checkpoint_files": float(sum(
                    _count_files(f"{out}/{c}")[0]
                    for c in ("ckpt_bronze", "ckpt_dead_letter", "ckpt_docs"))),
                "stream.store_files": float(_count_files(f"{out}/store")[0]),
            })
        return res

    def _run(self, queries: list) -> list:
        try:
            for q in queries:
                q.awaitTermination()
        finally:
            for q in queries:
                if q.isActive:
                    q.stop()
        return queries

    def _drain_events(self, events_in: str, out: str) -> list:
        trig = {"availableNow": True}
        raw = ingest.read_json_stream(self.spark, events_in, max_files_per_trigger=1)
        bronze, dead = ingest.parse_events(raw)
        queries = [ingest.start_bronze_sink(
            bronze, f"{out}/bronze", f"{out}/ckpt_bronze", trigger=trig)]
        queries.append(ingest.start_dead_letter_sink(
            dead, f"{out}/dead_letter", f"{out}/ckpt", trigger=trig))
        return self._run(queries)

    def _drain_docs(self, docs_in: str, out: str) -> list:
        docs = ingest.read_jsonl_stream(self.spark, docs_in, DOC_SCHEMA,
                                        max_files_per_trigger=1)
        return self._run([ingest.start_dedup_ingest_sink(
            docs, f"{out}/novel", f"{out}/ckpt_docs", f"{out}/store",
            trigger={"availableNow": True})])

    def _batches(self, queries: list, res: PassResult, tracer, stores) -> None:
        """Micro-batches become operations (and spans) from their
        progress events; their duration parts sum into per-layer times."""
        for q in queries:
            for p in q.recentProgress:
                d = p.durationMs
                trigger_s = d.get("triggerExecution", 0) / 1e3
                res.ops.append((f"batch:{q.id}", trigger_s))
                if stores is not None:
                    for part, key in STREAM_PARTS.items():
                        res.layers[key] = res.layers.get(key, 0.0) + d.get(part, 0) / 1e3
                    res.layers["stream.batches"] = res.layers.get("stream.batches", 0.0) + 1
                if tracer is not None:
                    end = _progress_end(p.timestamp, trigger_s) - tracer.epoch
                    tracer.add(f"stream.batch:{p.batchId}", end - trigger_s, end,
                               rows=p.numInputRows)

    def check(self):
        out = []
        n_docs = self.size["docs"]
        valid, bad = self.expect["valid"], self.expect["malformed"]
        for k, path, got in self.outputs:
            b2s = got["b2s"]
            read = self.spark.read
            c = {
                **read.parquet(f"{path}/bronze").agg(
                    F.count(F.lit(1)).alias("bronze_rows"),
                    F.countDistinct("sensor_id", "event_time").alias("bronze_keys"),
                ).first().asDict(),
                **read.parquet(f"{path}/novel").agg(
                    F.count(F.lit(1)).alias("novel_docs"),
                    F.countDistinct("doc_id").alias("novel_ids"),
                ).first().asDict(),
                "dead_letter_rows": read.json(f"{path}/dead_letter").count(),
                "store_rows": read.parquet(f"{path}/store").count(),
                "gold_readings": read.parquet(f"{path}/gold/sensor_5min").agg(
                    F.sum("reading_count")).first()[0],
            }
            failed = [r["check"] for r in got["report"] if not r["passed"]]
            tag = f"pass{k}"
            out += [
                (f"{tag}:bronze_rows", c["bronze_rows"] == valid, f"{c['bronze_rows']} vs {valid}"),
                (f"{tag}:bronze_unique", c["bronze_keys"] == c["bronze_rows"],
                 f"{c['bronze_keys']} keys"),
                (f"{tag}:dead_letter_rows", c["dead_letter_rows"] == bad,
                 f"{c['dead_letter_rows']} vs {bad}"),
                (f"{tag}:silver_input_rows", b2s.get("input_rows") == valid,
                 f"{b2s.get('input_rows')} vs {valid}"),
                (f"{tag}:silver_rows", b2s.get("output_rows") == valid,
                 f"{b2s.get('output_rows')} vs {valid}"),
                (f"{tag}:gold_reading_count", c["gold_readings"] == b2s.get("output_rows"),
                 f"{c['gold_readings']} vs {b2s.get('output_rows')}"),
                (f"{tag}:quality_suite", not failed, ",".join(failed)),
                (f"{tag}:novel_unique", c["novel_ids"] == c["novel_docs"]
                 and 0 < c["novel_docs"] <= n_docs, f"{c['novel_docs']} novel"),
                (f"{tag}:store_rows", c["store_rows"] == n_docs, f"{c['store_rows']} vs {n_docs}"),
            ]
            self.layers = {f"stream.{key}": float(c[key]) for key in (
                "bronze_rows", "dead_letter_rows", "novel_docs", "store_rows")}
        return out


def _progress_end(timestamp: str, trigger_s: float) -> float:
    """End of a micro-batch on the perf_counter clock; the progress
    timestamp is the trigger start in UTC ISO-8601."""
    start = datetime.datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()
    return start + trigger_s - time.time() + time.perf_counter()


WORKLOADS = {w.name: w for w in (Queries, IngestPipeline)}

