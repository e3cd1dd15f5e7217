"""The traced pass's per-layer table.

Times of the stages inside one Spark job come from cumulative noop-forced
prefixes of the production plan (scan, +parse, +enrich, +route, +sink
write): a stage's time is its prefix minus the one before. Counts come from
the event log (``spans.summarize_event_log``), attributed to the spans the
benchmark opened around the program's public functions and Spark actions.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from log_collector_spark.grok.vectorized import VectorizedGrokParser
from log_collector_spark.plans import checkpoint as ck
from log_collector_spark.plans import pipeline as pl

import spans as tr
import workloads as wls

KERNEL_BATCH = 60_000
SINKS = ("transcripts_etl", "failures", "errors")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_times(spark, files: list[str], scratch: str,
                 reps: int = 2) -> dict[str, float]:
    """Min-of-``reps`` seconds of each cumulative prefix of the
    ``run_resumable`` plan over ``files``."""
    scan = spark.read.parquet(*files).withColumn(
        "_src_file",
        F.regexp_replace(F.input_file_name(), "^file:(//)?", ""))
    parse = pl.parse_stage(scan)
    enrich = pl.enrich_stage(parse, spark)
    route = pl.route_stage(enrich)
    steps = {
        "scan": lambda: _noop(scan),
        "parse": lambda: _noop(parse),
        "enrich": lambda: _noop(enrich),
        "route": lambda: _noop(route),
        "write": lambda: (route.filter(F.col("sink").isNotNull()).write
                          .mode("overwrite").partitionBy("sink")
                          .parquet(scratch)),
    }
    out = {}
    for name, fn in steps.items():
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        out[name] = best
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def read_scan_time(spark, out_dir: str, ckpt_dir: str,
                   reps: int = 2) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        _noop(ck.read_output(spark, out_dir, ckpt_dir))
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_rows_per_s(files: list[str], reps: int = 3) -> float:
    """``VectorizedGrokParser.parse_batch`` in-process over one 60 k-row
    batch of the workload's own text (tiled when the input is smaller)."""
    text: list = []
    for f in files:
        text.extend(pq.read_table(f, columns=["text"]).column("text")
                    .to_pylist())
        if len(text) >= KERNEL_BATCH:
            break
    text = (text * (KERNEL_BATCH // len(text) + 1))[:KERNEL_BATCH]
    batch = pd.Series(text, dtype=object)
    parser = VectorizedGrokParser(
        pl.compiled_transcript_grok(),
        provenance={"directory": wls.SOURCE, "host": "spark",
                    "filename": wls.SOURCE})
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        parser.parse_batch(batch)
        best = min(best, time.perf_counter() - t0)
    return KERNEL_BATCH / best


def output_counts(batch_dirs: list[str]) -> dict[str, int]:
    """Rows per sink and enrichment misses over written sink output."""
    globs = [os.path.join(d, "*", "*.parquet") for d in batch_dirs]
    rows = wls.duck_query(
        "SELECT sink, count(*), "
        "count(*) FILTER (WHERE role IS NOT NULL AND role_class IS NULL), "
        "count(*) FILTER (WHERE tool IS NOT NULL AND tool_category IS NULL) "
        "FROM read_parquet(?, hive_partitioning = true) GROUP BY sink",
        [globs])
    out = {f"rows_{s}": 0 for s in SINKS}
    out["role_miss"] = out["tool_miss"] = 0
    for sink, n, rmiss, tmiss in rows:
        out[f"rows_{sink}"] = n
        out["role_miss"] += rmiss
        out["tool_miss"] += tmiss
    return out


def table(tracer: tr.Tracer, roots: set[int], stats: dict,
          n_ops: int, turns_per_op: int, files_per_op: int) -> dict:
    """Per-op averages of span times and event-log counts under ``roots``."""
    spans = tracer.self_times(roots)
    by_name: dict[str, set[str]] = {}
    for s in tracer.spans:
        if tr.under(tracer.spans, s, roots):
            by_name.setdefault(s.name, set()).add(tr.label(s.sid))
    all_labels = set().union(*by_name.values()) if by_name else set()

    def labels(*names: str) -> set[str]:
        return set().union(*(by_name.get(n, set()) for n in names))

    def per_op_s(name: str) -> float:
        return sum(spans.get(name, [])) / n_ops

    def sql(lab: set[str], node: str, metric: str) -> float:
        return tr.sql_sum(stats, lab, node, metric) / n_ops

    def descendants(name: str) -> set[str]:
        tops = {s.sid for s in tracer.spans if s.name == name
                and tr.under(tracer.spans, s, roots)}
        return {tr.label(s.sid) for s in tracer.spans
                if tr.under(tracer.spans, s, tops)}

    udf_rows = sql(all_labels, "ArrowEvalPython", "number of output rows")
    commits = len(spans.get("plans.checkpoint.run_resumable", []))
    read_labels = labels("operators.route.sink_write",
                         "plans.checkpoint.lineage_append",
                         "plans.checkpoint.readback")
    order_labels = descendants("operators.order")
    order_records = [r for lab in order_labels
                     for r in stats[lab].shuffle_read_records]
    return {
        "operators.parse.udf_rows": (udf_rows, "count"),
        "operators.parse.passes": (udf_rows / turns_per_op
                                   if turns_per_op else 0.0, "count"),
        "operators.parse.bytes_to_python": (
            sql(all_labels, "ArrowEvalPython", "data sent to Python workers"),
            "B"),
        "operators.parse.bytes_from_python": (
            sql(all_labels, "ArrowEvalPython",
                "data returned from Python workers"), "B"),
        "operators.parse.python_run_s": (
            sql(all_labels, "ArrowEvalPython", "time to run Python workers")
            / 1e3, "s"),
        "operators.route.files_written": (
            sql(labels("operators.route.sink_write"), "Execute Insert",
                "number of written files"), "count"),
        "operators.route.bytes_written": (
            sql(labels("operators.route.sink_write"), "Execute Insert",
                "written output"), "B"),
        "operators.aggregate.s": (per_op_s("operators.aggregate"), "s"),
        "operators.order.s": (per_op_s("operators.order"), "s"),
        "operators.order.skew": (tr.skew(order_records), "ratio"),
        "plans.checkpoint.clean_orphan_s": (
            per_op_s("plans.checkpoint.clean_orphan_staging"), "s"),
        "plans.checkpoint.pending_files_s": (
            per_op_s("plans.checkpoint.pending_files"), "s"),
        "plans.checkpoint.lineage_s": (
            per_op_s("plans.checkpoint.lineage_append"), "s"),
        "plans.checkpoint.append_s": (
            (sql(labels("plans.checkpoint.lineage_append"), "Execute Insert",
                 "job commit time")
             + sql(labels("plans.checkpoint.lineage_append"),
                   "Execute Insert", "task commit time")) / 1e3, "s"),
        "plans.checkpoint.filestate_s": (
            per_op_s("plans.checkpoint.record_filestate"), "s"),
        "plans.checkpoint.self_s": (
            per_op_s("plans.checkpoint.run_resumable.self"), "s"),
        "plans.checkpoint.readback_s": (
            per_op_s("plans.checkpoint.readback"), "s"),
        "plans.checkpoint.read_output_s": (
            per_op_s("plans.checkpoint.read_output"), "s"),
        "plans.checkpoint.scan_passes": (
            sql(read_labels, "Scan parquet", "number of files read")
            / files_per_op if files_per_op else 0.0, "count"),
        "plans.checkpoint.spark_jobs_per_commit": (
            sum(stats[lab].jobs
                for lab in descendants("plans.checkpoint.run_resumable"))
            / commits if commits else 0.0, "count"),
        "spark.shuffle_bytes": (
            sum(stats[lab].shuffle_read_bytes for lab in all_labels) / n_ops,
            "B"),
        "spark.gc_s": (sum(stats[lab].gc_ms for lab in all_labels)
                       / 1e3 / n_ops, "s"),
        "spark.tasks": (sum(stats[lab].tasks for lab in all_labels) / n_ops,
                        "count"),
    }
