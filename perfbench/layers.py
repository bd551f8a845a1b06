"""Per-layer metrics of the traced run.

``install`` wraps the package's public functions (see ``SPANS``) so each
call becomes a span; ``metrics`` folds spans, tracer counters, Spark
event-log jobs and streaming progress into the named per-layer metrics.
Every workload reports every metric; a layer a workload never reaches
reads 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench.core import dir_files
from perfbench.trace import SPARK_FIELDS, Tracer, jobs_within, sum_jobs

# (owner path, attribute, span name).  Owners are where the caller looks
# the name up: ``etl`` binds read_sap_export and dedup_keep_last at import,
# the catalog's query runners use ``catalog.load_star``, ``catalog_ext``
# calls ``D.*``/``G.*`` module attributes, and the corpus flows import
# inside their function bodies (so patching the defining module suffices).
SPANS = [
    ("etl", "read_sap_export", "sources.readers.read_sap_export"),
    ("sources.readers", "read_sap_export", "sources.readers.read_sap_export"),
    ("functions.cleaning", "cast_to_schema", "functions.cleaning.cast_to_schema"),
    ("etl", "dedup_keep_last", "operators.relational.dedup_keep_last"),
    ("sources.ledger.ProcessedLedger", "filter_new", "sources.ledger.filter_new"),
    ("sources.ledger.ProcessedLedger", "record_all", "sources.ledger.record_all"),
    ("etl", "etl_movements", "etl.etl_movements"),
    ("etl", "etl_billing_lines", "etl.etl_billing_lines"),
    ("etl", "etl_weekly_sales", "etl.etl_weekly_sales"),
    ("etl", "etl_store_rp_export", "etl.etl_store_rp_export"),
    ("etl", "build_training_corpus", "etl.build_training_corpus"),
    ("etl", "refresh_packed_corpus_incremental", "etl.refresh_packed_corpus_incremental"),
    ("sources.sinks", "export_csv", "sources.sinks.export_csv"),
    ("sources.readers", "load_star", "sources.readers.load_star"),
    ("plans.catalog", "load_star", "sources.readers.load_star"),
    ("operators.dedup", "connected_components", "operators.dedup.connected_components"),
    ("operators.dedup", "minhash_dedup_pairs", "operators.dedup.minhash_dedup_pairs"),
    ("operators.graph", "pagerank", "operators.graph.pagerank"),
    ("operators.graph", "label_propagation", "operators.graph.label_propagation"),
    ("operators.graph", "tree_root_depth", "operators.graph.tree_root_depth"),
    ("operators.sampling", "pack_by_offset", "operators.sampling.pack_by_offset"),
    ("sources.versioned.VersionedParquetTable", "merge", "sources.versioned.merge"),
    ("sources.versioned.VersionedParquetTable", "diff", "sources.versioned.diff"),
]

TIMED = sorted({s for _, _, s in SPANS} | {
    "operators.merge.merge", "plans.build", "plans.plan", "plans.execute",
    "sources.artifacts.build", "streaming.ingest.drain"})
JOB_COUNTED = ["sources.readers.read_sap_export", "operators.dedup.connected_components",
               "operators.graph.pagerank", "operators.graph.label_propagation",
               "operators.graph.tree_root_depth"]
STREAM = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
          "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
          "latest_offset_ms": "latestOffset"}

PER_LAYER: list[tuple[str, str]] = (
    [(f"{s}_s", "s") for s in TIMED]
    + [(f"{s}_jobs", "count") for s in JOB_COUNTED]
    + [("operators.merge.jobs", "count"), ("operators.merge.touched_partitions", "count"),
       ("operators.merge.rows_written_per_source_row", "ratio"),
       ("operators.merge.bytes_written", "B"), ("operators.merge.retries", "count"),
       ("sources.artifacts.hits", "count"), ("sources.artifacts.misses", "count"),
       ("streaming.ingest.batches", "count"), ("streaming.ingest.rows_per_batch", "rows")]
    + [(f"streaming.ingest.{k}", "ms") for k in STREAM]
    + [("session.get_spark_s", "s")]
    + [(f"spark.{k}", "B" if k.endswith("bytes") else "s" if k.endswith("_s") else "count")
       for k in SPARK_FIELDS if k != "output_records"]
    + [("trace.overhead_frac", "ratio"), ("trace.op_span_coverage", "ratio"),
       ("sap_ingest.backfill_failed", "count"), ("sap_ingest.backfill_s", "s")]
)


def _resolve(path: str):
    import importlib

    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module("sap_data_pipeline_spark." + ".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(path)


def install(tracer: Tracer) -> None:
    from sap_data_pipeline_spark import utils
    from sap_data_pipeline_spark.operators import merge
    from sap_data_pipeline_spark.sources import artifacts

    for owner, attr, name in SPANS:
        tracer.wrap(_resolve(owner), attr, name)

    def merge_before(table, *args, **kwargs):
        before = dir_files([table.path])

        def after(_audit):
            changed = set(dir_files([table.path])).symmetric_difference(before)
            created = dir_files([table.path])
            tracer.count("operators.merge.bytes_written",
                         sum(created[k] for k in changed if k in created))
            parts = {os.path.relpath(k.rsplit("@", 1)[0], table.path).split(os.sep)[0]
                     for k in changed}
            parts = {p for p in parts if "=" in p} or ({"*"} if changed else set())
            tracer.count("operators.merge.touched_partitions", len(parts))
        return after

    tracer.wrap(merge.ParquetMergeTable, "merge", "operators.merge.merge", before=merge_before)

    orig_retry = utils.retry_call

    def retry_call(fn, **kwargs):
        calls = [0]

        def counted():
            calls[0] += 1
            return fn()
        try:
            return orig_retry(counted, **kwargs)
        finally:
            tracer.count("operators.merge.retries", max(0, calls[0] - 1))

    utils.retry_call = retry_call
    tracer._patched.append((utils, "retry_call", orig_retry))

    orig_lob = artifacts.load_or_build

    def load_or_build(spark, family, fingerprint, build):
        hit = os.path.isdir(os.path.join(artifacts.artifact_root(), family, fingerprint))
        tracer.count("sources.artifacts.hits" if hit else "sources.artifacts.misses")
        with tracer.span("sources.artifacts.load" if hit else "sources.artifacts.build"):
            return orig_lob(spark, family, fingerprint, build)

    artifacts.load_or_build = load_or_build
    tracer._patched.append((artifacts, "load_or_build", orig_lob))


def metrics(tracer: Tracer, jobs: list[dict], pass_window: tuple[float, float],
            progress: list[dict]) -> dict[str, float]:
    tot = tracer.totals()
    out = {f"{s}_s": tot.get(s, 0.0) for s in TIMED}
    for s in JOB_COUNTED:
        out[f"{s}_jobs"] = float(len(jobs_within(jobs, tracer.intervals(s))))
    merge_jobs = jobs_within(jobs, tracer.intervals("operators.merge.merge"))
    out["operators.merge.jobs"] = float(len(merge_jobs))
    src = tracer.counters.get("operators.merge.source_rows", 0)
    written = sum(j["output_records"] for j in merge_jobs)
    out["operators.merge.rows_written_per_source_row"] = written / src if src else 0.0
    for k in ("operators.merge.touched_partitions", "operators.merge.bytes_written",
              "operators.merge.retries", "sources.artifacts.hits", "sources.artifacts.misses"):
        out[k] = float(tracer.counters.get(k, 0))
    out["streaming.ingest.batches"] = float(len(progress))
    out["streaming.ingest.rows_per_batch"] = (
        float(statistics.median(b["rows"] for b in progress)) if progress else 0.0)
    for k, phase in STREAM.items():
        out[f"streaming.ingest.{k}"] = (
            float(statistics.median(b[phase] for b in progress)) if progress else 0.0)
    in_pass = [j for j in jobs if pass_window[0] <= j["time"] <= pass_window[1]]
    for k, v in sum_jobs(in_pass).items():
        if k != "output_records":
            out[f"spark.{k}"] = v
    return out


def per_op_spark(jobs: list[dict], tracer: Tracer) -> dict[str, dict[str, float]]:
    """Spark totals per op of the traced pass: by job group, else by the op
    span covering the job's submission time (streaming-thread jobs)."""
    ops = {r["op"]: (r["start"], r["end"]) for r in tracer.spans
           if r["name"] == "op" and r["op"]}
    by_op: dict[str, list[dict]] = {}
    for j in jobs:
        op = j["group"] if j["group"] in ops else next(
            (o for o, (a, b) in ops.items() if a <= j["time"] <= b), None)
        if op:
            by_op.setdefault(op, []).append(j)
    return {op: sum_jobs(js) for op, js in by_op.items()}
