"""The benchmark's metric catalogue.

``BENCHMARK.json`` lists the same names, units and directions; this
module adds, for each per-layer metric, the end-to-end metric it should
move and on which workload (``moves``). An operation is a query on
``queries``, and a micro-batch or a medallion stage (b2s, s2g, validate)
on ``ingest_pipeline``; latency samples are the queries and the
micro-batches.

Two figures every run records but no bound gates:

- the tail of operation latency (``op_tail`` in the full record, with its
  percentile and sample count): a run short enough for the time budget
  yields 10-18 latency samples, so no percentile above the median has
  ten samples beyond it;
- ``peak_rss_mb``, the summed peak resident set of the process tree: it
  follows the JVM's heap growth, which varied by a third between
  otherwise identical runs.
"""

from __future__ import annotations

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),        # process start to first timed operation
    "wall_s": ("s", "lower"),         # median wall time of a timed pass
    "cpu_s": ("s", "lower"),          # median CPU s of driver+JVM+workers per pass
    "op_p50_s": ("s", "lower"),       # median query or micro-batch latency
    "rows_per_s": ("1/s", "higher"),  # generated input rows / median pass wall
}

_Q = "queries"
_ALL = "every workload"

#: name -> (unit, moves)
PER_LAYER: dict[str, tuple[str, str]] = {
    "plans.build_s": ("s", f"op_p50_s on {_Q}"),
    "catalyst.plan_s": ("s", f"op_p50_s on {_Q}"),
    "exec_s": ("s", f"op_p50_s on {_Q}"),
    "sources.read_table_s": ("s", f"plans.build_s and op_p50_s on {_Q}"),
    "sources.spread_s": ("s", f"plans.build_s and op_p50_s on {_Q}"),
    "sources.spread_calls": ("count", f"plans.build_s and op_p50_s on {_Q}"),
    "sql.exchanges": ("count", "wall_s on queries"),
    "query.dedup_ngram_jaccard.candidate_rows": ("count", "wall_s and op_p50_s on queries"),
    "query.dedup_minhash_lsh.candidate_rows": ("count", "wall_s and op_p50_s on queries"),
    "dedup.candidates_per_result": ("ratio", "wall_s and op_p50_s on queries"),
    "spark.executor_cpu_s": ("s", f"cpu_s on {_ALL}"),
    "spark.gc_s": ("s", f"cpu_s on {_ALL}; wall_s on ingest_pipeline"),
    "spark.shuffle_read_bytes": ("bytes", f"cpu_s on {_ALL}; wall_s on queries"),
    "spark.shuffle_write_bytes": ("bytes", f"cpu_s on {_ALL}; wall_s on queries"),
    "spark.shuffle_records": ("count", f"cpu_s on {_ALL}; wall_s on queries"),
    "spark.spill_bytes": ("bytes", f"cpu_s on {_ALL}; wall_s on ingest_pipeline"),
    "spark.output_bytes": ("bytes", f"cpu_s on {_ALL}; wall_s on ingest_pipeline"),
    "spark.jobs": ("count", f"cpu_s on {_ALL}"),
    "spark.stages": ("count", f"cpu_s on {_ALL}"),
    "spark.tasks": ("count", f"cpu_s on {_ALL}"),
    "spark.task_skew": ("ratio", f"cpu_s on {_ALL}; op_p50_s on queries"),
    "medallion.b2s_s": ("s", "wall_s and rows_per_s on ingest_pipeline"),
    "medallion.s2g_s": ("s", "wall_s and rows_per_s on ingest_pipeline"),
    "quality.validate_s": ("s", "wall_s and rows_per_s on ingest_pipeline"),
    "medallion.input_rows": ("count", "rows_per_s on ingest_pipeline"),
    "medallion.output_rows": ("count", "wall_s on ingest_pipeline"),
    "medallion.anomaly_rows": ("count", "wall_s on ingest_pipeline"),
    "medallion.gold_groups": ("count", "wall_s on ingest_pipeline"),
    "medallion.files_written": ("count", "wall_s and rows_per_s on ingest_pipeline"),
    "medallion.bytes_written": ("bytes", "wall_s and rows_per_s on ingest_pipeline"),
    "stream.add_batch_s": ("s", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.query_planning_s": ("s", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.wal_commit_s": ("s", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.commit_offsets_s": ("s", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.latest_offset_s": ("s", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.batches": ("count", "op_p50_s and rows_per_s on ingest_pipeline"),
    "stream.bronze_rows": ("count", "rows_per_s on ingest_pipeline"),
    "stream.dead_letter_rows": ("count", "rows_per_s on ingest_pipeline"),
    "stream.novel_docs": ("count", "rows_per_s on ingest_pipeline"),
    "stream.store_rows": ("count", "op_p50_s on ingest_pipeline"),
    "stream.checkpoint_files": ("count", "op_p50_s on ingest_pipeline"),
    "stream.store_files": ("count", "op_p50_s on ingest_pipeline"),
    "queries.relational_s": ("s", "wall_s on queries; a relational-operator change moves it"),
    "queries.document_s": ("s", "wall_s on queries; a document-operator change moves it"),
    "tracing.overhead_s": ("s", "none: traced minus untraced wall_s of the same run"),
}

RELATIONAL = (
    "sensor_5min", "location_hourly", "dedup_latest", "rolling_zscore",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_volume",
    "asof_latest_purchase", "q18_large_orders", "q10_returned_items",
    "q13_customer_distribution", "inter_arrival_stats", "user_sessions",
)
DOCUMENT = (
    "text_stats", "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "ann_topk_bruteforce",
)
#: Per-layer counts of rows delivered; they are fixed by the inputs and
#: checked, so "higher" only says which way is more work done. Every other
#: per-layer metric is a cost: lower is better.
DELIVERED = {
    "medallion.input_rows", "medallion.output_rows", "medallion.anomaly_rows",
    "medallion.gold_groups", "stream.bronze_rows", "stream.dead_letter_rows",
    "stream.novel_docs", "stream.store_rows",
}

for _name in RELATIONAL:
    PER_LAYER[f"query.{_name}.s"] = ("s", "wall_s on queries")
for _name in DOCUMENT:
    PER_LAYER[f"query.{_name}.s"] = ("s", "wall_s on queries")


def better(name: str) -> str:
    return "higher" if name in DELIVERED else "lower"
