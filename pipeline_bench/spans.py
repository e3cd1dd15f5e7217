"""Spans around the program's public functions and Spark actions, and a
summarizer of Spark's event log keyed by those spans.

Spans live in memory until the run ends. Every span also sets Spark's job
description to its own label while it is open, so each job, task and SQL
metric in the event log can be attributed to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

JOB_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """Records spans and patches the wrapped callables while installed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent)
        self.spans.append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty(JOB_DESC)
        self.sc.setLocalProperty(JOB_DESC, label(s.sid))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_DESC, prev)

    def wrap(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` by a spanned call. ``name`` is a string or
        a function of the call's arguments returning one."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name(*a, **kw) if callable(name) else name):
                return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from log_collector_spark.operators import order as order_ops
        from log_collector_spark.plans import checkpoint as ck
        from log_collector_spark.plans import pipeline as pl

        for attr in ("run_resumable", "clean_orphan_staging",
                     "pending_files", "record_filestate", "read_output"):
            self.wrap(ck, attr, f"plans.checkpoint.{attr}")
        for attr, layer in (("parse_stage", "operators.parse"),
                            ("enrich_stage", "operators.enrich"),
                            ("route_stage", "operators.route"),
                            ("pipeline_aggregates", "operators.aggregate")):
            self.wrap(pl, attr, f"{layer}.plan")
        self.wrap(order_ops, "ordered_by_conversation", "operators.order.plan")
        self.wrap(DataFrameWriter, "parquet", _write_name)
        self.wrap(DataFrameWriter, "save", _write_name)
        self.wrap(DataFrame, "count", self._count_name)
        self.wrap(DataFrame, "collect", "spark.collect")

    def _count_name(self, *a, **kw) -> str:
        names = {s.name for s in self._stack}
        return ("plans.checkpoint.readback"
                if "plans.checkpoint.run_resumable" in names else "spark.count")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self, roots: set[int]) -> dict[str, list[float]]:
        """Per span name: durations; plus ``<name>.self`` minus children."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if under(self.spans, s, roots):
                out[s.name].append(s.end - s.start)
                out[s.name + ".self"].append(s.end - s.start - child[s.sid])
        return out


def label(sid: int) -> str:
    return f"span-{sid}"


def _write_name(writer, path=None, *a, **kw) -> str:
    path = str(path or "")
    if "batch=" in path:
        return "operators.route.sink_write"
    if path.endswith("/checkpoint"):
        return "plans.checkpoint.lineage_append"
    if path.endswith("/filestate"):
        return "plans.checkpoint.filestate_write"
    return "spark.write"


def under(spans: list[Span], s: Span, roots: set[int]) -> bool:
    while s is not None:
        if s.sid in roots:
            return True
        s = spans[s.parent] if s.parent is not None else None
    return False


def uncovered(spans: list[Span], roots: set[int]) -> float:
    """Wall time inside the op spans ``roots`` that no layer span covers."""
    total = 0.0
    for r in roots:
        root = spans[r]
        iv = sorted((s.start, s.end) for s in spans if s.parent == r)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        total += (root.end - root.start) - covered
    return total


@dataclass
class SpanStats:
    """What the event log says one span's jobs did."""
    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: list[int] = field(default_factory=list)
    sql: dict[tuple[str, str], int] = field(default_factory=lambda: defaultdict(int))


def summarize_event_log(log_dir: str) -> dict[str, SpanStats]:
    """Per span label: job/task counts, GC and shuffle from task metrics,
    and SQL metrics summed per (plan node, metric name)."""
    events = []
    for f in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                              recursive=True)):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh)
    acc_name: dict[int, tuple[str, str]] = {}
    exec_label: dict[int, str] = {}
    stage_label: dict[int, str] = {}
    stats: dict[str, SpanStats] = defaultdict(SpanStats)

    def plan_metrics(node: dict) -> None:
        for m in node["metrics"]:
            acc_name[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for c in node["children"]:
            plan_metrics(c)

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan_metrics(e["sparkPlanInfo"])
            if "description" in e:
                exec_label[e["executionId"]] = e["description"]
        elif kind == "SparkListenerJobStart":
            lab = (e.get("Properties") or {}).get(JOB_DESC, "")
            stats[lab].jobs += 1
            for sid in e["Stage IDs"]:
                stage_label[sid] = lab
        elif kind == "SparkListenerTaskEnd":
            st = stats[stage_label.get(e["Stage ID"], "")]
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.gc_ms += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            nbytes = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_read_bytes += nbytes
            if rd.get("Total Records Read", 0):
                st.shuffle_read_records.append(rd["Total Records Read"])
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and a["ID"] in acc_name:
                    st.sql[acc_name[a["ID"]]] += int(a.get("Update") or 0)
        elif kind == "SparkListenerDriverAccumUpdates":
            st = stats[exec_label.get(e["executionId"], "")]
            for aid, v in e["accumUpdates"]:
                if aid in acc_name:
                    st.sql[acc_name[aid]] += int(v)
    return stats


def sql_sum(stats: dict[str, SpanStats], labels: set[str], node: str,
            metric: str) -> int:
    return sum(v for lab in labels for (n, m), v in stats[lab].sql.items()
               if n.startswith(node) and m == metric)


def skew(records: list[int]) -> float:
    """max / median of per-task shuffle-read rows (1.0 = balanced)."""
    if not records:
        return 0.0
    med = statistics.median(records)
    return max(records) / med if med else 0.0
