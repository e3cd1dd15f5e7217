"""The three production-path workloads and their output checks.

Each workload drives the program only through its public functions
(``plans.checkpoint``, ``plans.pipeline``, ``operators.*``) over parquet
that the benchmark generates from the seed with
``sources.transcripts.write_transcripts``. One closed-loop client: the next
operation starts only after the previous one returned.

A workload has four phases, which ``run.py`` times separately:

- ``prepare()``: harness-only input generation (not program work, untimed),
- ``setup(spark)``: the workload's pre-built program state plus warm-up
  operations (part of ``setup_s``),
- ``op(spark)``: one timed operation; ``units`` is what it delivers
  (input turns committed, or committed rows reported),
- ``check(spark)``: output checks after the timed phase, one entry per
  failed operation.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from log_collector_spark.grok import oracle
from log_collector_spark.operators import order as order_ops
from log_collector_spark.plans import checkpoint as ck
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.sources import transcripts as tx

SOURCE = "transcripts"


@dataclass(frozen=True)
class Sizes:
    backfill_turns: int
    backfill_files: int
    history_files: int
    history_turns_per_file: int
    history_batches: int
    tail_turns: int
    store_turns: int
    store_files: int


# Full size is fixed by the run budget: one run (JVM start, warm-up, timed
# phase, checks) must end well inside a minute on a 4-core host.
FULL = Sizes(backfill_turns=120_000, backfill_files=12,
             history_files=96, history_turns_per_file=1_000,
             history_batches=2, tail_turns=10_000,
             store_turns=120_000, store_files=12)
SMALL = Sizes(backfill_turns=6_000, backfill_files=3,
              history_files=4, history_turns_per_file=500,
              history_batches=2, tail_turns=1_000,
              store_turns=6_000, store_files=3)


@dataclass
class Expected:
    """What the pure-Python oracle says a set of input files must yield."""
    turns: int = 0
    success: int = 0
    error: int = 0
    sinks: dict[str, int] = field(default_factory=dict)

    @property
    def non_blank(self) -> int:
        return sum(self.sinks.values())


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def oracle_expected(files: list[str], cache_dir: str) -> Expected:
    """``grok.oracle.process_lines`` over the files' text, with the same
    provenance and size limit as ``plans.pipeline.parse_stage``. Computed
    once per distinct input and oracle (keyed by the files' bytes and the
    ``grok`` package source) and kept in ``cache_dir``, so repeated runs of
    a seed skip the pure-Python pass."""
    grok_dir = os.path.dirname(oracle.__file__)
    grok_src = sorted(os.path.join(grok_dir, f) for f in os.listdir(grok_dir)
                      if f.endswith(".py"))
    h = hashlib.md5()
    for f in files + grok_src:
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return Expected(**json.load(fh))
    lines: list[str] = []
    for f in files:
        lines.extend(pq.read_table(f, columns=["text"]).column("text")
                     .to_pylist())
    _, c = oracle.process_lines(
        pl.compiled_transcript_grok(), lines, source=SOURCE, host="spark",
        filename=SOURCE, max_size=tx.DEFAULT_MAX_SIZE)
    exp = Expected(turns=c.lines, success=c.success, error=c.error,
                   sinks=dict(c.sink_counts))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + f".{os.getpid()}", "w") as fh:
        json.dump(exp.__dict__, fh)
    os.replace(path + f".{os.getpid()}", path)
    return exp


def duck_query(query: str, params: list | None = None) -> list[tuple]:
    with duckdb.connect() as con:
        con.execute("SET threads = 2")
        return con.execute(query, params or []).fetchall()


def check_batch(ckpt_dir: str, out_dir: str, bid: str,
                exp: Expected) -> list[str]:
    """Per-sink rows, lineage sums and success/error of one committed batch
    against the oracle."""
    errs = []
    glob = os.path.join(out_dir, f"batch={bid}", "*", "*.parquet")
    sinks = dict(duck_query("SELECT sink, count(*) FROM read_parquet(?, "
                            "hive_partitioning = true) GROUP BY sink",
                            [glob]))
    if sinks != exp.sinks:
        errs.append(f"batch {bid}: sink rows {sinks} != oracle {exp.sinks}")
    lines, success, error = duck_query(
        "SELECT sum(lines), sum(success), sum(error) FROM read_parquet(?) "
        "WHERE batch_id = ?",
        [os.path.join(ckpt_dir, ck.CKPT_TABLE, "*.parquet"), bid])[0]
    if (lines, success, error) != (exp.turns, exp.success, exp.error):
        errs.append(f"batch {bid}: lineage lines/success/error "
                    f"{(lines, success, error)} != oracle "
                    f"{(exp.turns, exp.success, exp.error)}")
    return errs


def check_committed_once(ckpt_dir: str, files: list[str]) -> list[str]:
    rows = duck_query("SELECT src_file, count(DISTINCT batch_id), count(*) "
                      "FROM read_parquet(?) GROUP BY src_file",
                      [os.path.join(ckpt_dir, ck.CKPT_TABLE, "*.parquet")])
    errs = [f"{f} committed in {n} batches" for f, n, _ in rows if n != 1]
    got = {f for f, _, _ in rows}
    if got != set(files):
        errs.append(f"committed files differ from input: "
                    f"{len(got - set(files))} extra, "
                    f"{len(set(files) - got)} missing")
    return errs


def check_read_output(spark, out_dir: str, ckpt_dir: str,
                      non_blank: int) -> list[str]:
    n = ck.read_output(spark, out_dir, ckpt_dir).count()
    return [] if n == non_blank else [
        f"read_output rows {n} != non-blank input rows {non_blank}"]


def _fresh(d: str) -> str:
    shutil.rmtree(d, ignore_errors=True)
    return d


class Workload:
    """State shared by the workloads: where they write, their seed and
    sizes, the oracle cache, and the span hook ``run.py`` swaps for the
    tracer's ``span()`` during traced operations."""

    name = ""

    def __init__(self, work: str, seed: int, sizes: Sizes):
        self.work, self.seed, self.sizes = work, seed, sizes
        self.cache = os.path.join(os.path.dirname(work), "oracle")
        self.span = lambda name: contextlib.nullcontext()

    def before_op(self) -> None:
        """Untimed work before each operation (none by default)."""


class Backfill(Workload):
    """One cold ``run_resumable`` over the whole generated table into empty
    checkpoint and output dirs. Parse, sink write and the second (lineage)
    parse do most of the work, so this carries the headline."""

    name = "backfill"

    def __init__(self, work: str, seed: int, sizes: Sizes):
        super().__init__(work, seed, sizes)
        self.input = os.path.join(work, "input")
        self.runs: list[tuple[str, str, dict]] = []
        self.units = sizes.backfill_turns

    def prepare(self) -> None:
        tx.write_transcripts(self.input, self.sizes.backfill_turns,
                             seed=self.seed,
                             partitions=self.sizes.backfill_files)
        self.files = parquet_files(self.input)

    def _run(self, spark, tag: str) -> dict:
        ckpt = _fresh(os.path.join(self.work, f"ckpt-{tag}"))
        out = _fresh(os.path.join(self.work, f"out-{tag}"))
        res = ck.run_resumable(spark, self.input, ckpt, out, f"run-{tag}")
        self.runs.append((ckpt, out, res))
        return res

    def setup(self, spark, warm_ops: int = 2) -> list[float]:
        return warm(lambda i: self._run(spark, f"warm{i}"), warm_ops)

    def op(self, spark) -> None:
        self._run(spark, f"op{len(self.runs)}")

    @property
    def ops(self) -> int:
        """Operations run so far, warm-up included: what check() checks."""
        return len(self.runs)

    def output_dirs(self) -> list[str]:
        _, out, res = self.runs[-1]
        return [os.path.join(out, f"batch={res['batch_id']}")]

    def check(self, spark) -> list[str]:
        exp = oracle_expected(self.files, self.cache)
        errs = []
        for ckpt, out, res in self.runs:
            e = check_batch(ckpt, out, res["batch_id"], exp)
            e += check_committed_once(ckpt, self.files)
            if res["rows"] != exp.non_blank:
                e.append(f"run_resumable rows {res['rows']} != "
                         f"{exp.non_blank}")
            errs.extend(e[:1])
        # check_batch already matched every op's rows per sink; the read
        # path over committed batches is the same code for each op
        ckpt, out, _ = self.runs[-1]
        return errs + check_read_output(spark, out, ckpt, exp.non_blank)


class Tail(Workload):
    """A committed history of small files, then one new ~10 k-turn file per
    operation; the next file arrives only after the commit returns. Parse
    work is small, so the checkpoint metadata path and per-job fixed cost
    dominate the commit latency."""

    name = "tail"

    def __init__(self, work: str, seed: int, sizes: Sizes):
        super().__init__(work, seed, sizes)
        self.input = os.path.join(work, "input")
        self.ckpt = os.path.join(work, "ckpt")
        self.out = os.path.join(work, "out")
        self.history = os.path.join(work, "history")
        self.commits: list[tuple[str, dict]] = []
        self.units = sizes.tail_turns
        self._next: str | None = None

    def prepare(self) -> None:
        s = self.sizes
        tx.write_transcripts(self.history,
                             s.history_files * s.history_turns_per_file,
                             seed=self.seed, partitions=s.history_files)
        os.makedirs(self.input, exist_ok=True)

    def _arrive(self) -> str:
        """Generate the next tail file and drop it into the input dir."""
        j = len(self.commits)
        tmp = _fresh(os.path.join(self.work, "arriving"))
        tx.write_transcripts(tmp, self.sizes.tail_turns,
                             seed=self.seed * 1000 + j + 1, partitions=1)
        dst = os.path.join(self.input, f"tail-{j:04d}.parquet")
        os.rename(parquet_files(tmp)[0], dst)
        return dst

    def setup(self, spark, warm_ops: int = 1) -> list[float]:
        hist = parquet_files(self.history)
        per = -(-len(hist) // self.sizes.history_batches)

        def commit_history(b: int) -> None:
            for f in hist[b * per:(b + 1) * per]:
                os.rename(f, os.path.join(self.input, os.path.basename(f)))
            ck.run_resumable(spark, self.input, self.ckpt, self.out,
                             f"history{b}")

        # the first history commit is the cold run_resumable
        return (warm(commit_history, self.sizes.history_batches)
                + warm(lambda i: (self.before_op(), self.op(spark)),
                       warm_ops))

    def before_op(self) -> None:
        self._next = self._arrive()

    def op(self, spark) -> None:
        res = ck.run_resumable(spark, self.input, self.ckpt, self.out,
                               f"tail{len(self.commits)}")
        self.commits.append((self._next, res))

    @property
    def ops(self) -> int:
        return self.sizes.history_batches + len(self.commits)

    @property
    def files(self) -> list[str]:
        """The last committed tail file: what one operation reads."""
        return [self.commits[-1][0]]

    def output_dirs(self) -> list[str]:
        return [os.path.join(self.out, f"batch={self.commits[-1][1]['batch_id']}")]

    def check(self, spark) -> list[str]:
        errs = []
        for f, res in self.commits:
            if res["files"] != [f]:
                errs.append(f"commit of {f} took files {res['files']}")
                continue
            exp = oracle_expected([f], self.cache)
            e = check_batch(self.ckpt, self.out, res["batch_id"], exp)
            if res["rows"] != exp.non_blank:
                e.append(f"run_resumable rows {res['rows']} != "
                         f"{exp.non_blank}")
            errs.extend(e[:1])
        files = parquet_files(self.input)
        errs += check_committed_once(self.ckpt, files)
        errs += check_read_output(spark, self.out, self.ckpt,
                                  non_blank_rows(files))
        return errs


def non_blank_rows(files: list[str]) -> int:
    return sum(1 for f in files
               for t in pq.read_table(f, columns=["text"]).column("text")
               .to_pylist() if t is not None and t.strip())


# The report aggregates recomputed by DuckDB over the committed parquet;
# same names and row shapes as plans.pipeline.pipeline_aggregates.
_SUCCESS = "(NOT is_blank AND NOT is_oversize AND parse_ok)"
_ERROR = "(is_oversize OR (NOT is_blank AND NOT is_oversize AND NOT parse_ok))"
DUCKDB_AGGREGATES = {
    "sink_tallies": "SELECT sink, count(*) FROM t WHERE sink IS NOT NULL "
                    "GROUP BY sink",
    "success_error": f"SELECT directory, sum({_SUCCESS}::BIGINT), "
                     f"sum({_ERROR}::BIGINT), count(*) FROM t "
                     f"GROUP BY directory",
    "minute_buckets": "SELECT (ceil(logtime / 60000.0) * 60000)::BIGINT, "
                      f"count(*) FROM t WHERE {_SUCCESS} AND logtime IS NOT "
                      "NULL GROUP BY 1",
    "conversation_stats": "SELECT conv_id, count(*), max(turn_idx), min(ts), "
                          "max(ts), sum((role = 'user')::INT), "
                          "sum((role = 'assistant')::INT) FROM t "
                          "GROUP BY conv_id",
    "tool_usage": "SELECT tool, count(*), count(DISTINCT conv_id) FROM t "
                  "WHERE tool IS NOT NULL GROUP BY tool",
}


class Report(Workload):
    """The read side of the same layout: ``read_output`` over committed
    batches, ``pipeline_aggregates`` and a noop-forced
    ``ordered_by_conversation`` over the Zipf-hot conversations. No parsing;
    mostly shuffle and aggregation. The store also holds one batch written
    but never committed (a run inside its write-to-commit window), which
    ``read_output`` must not return."""

    name = "report"

    def __init__(self, work: str, seed: int, sizes: Sizes):
        super().__init__(work, seed, sizes)
        self.staging = os.path.join(work, "generated")
        self.input = os.path.join(work, "input")
        self.ckpt = os.path.join(work, "ckpt")
        self.out = os.path.join(work, "out")
        self.results: list[dict[str, list[tuple]]] = []
        self.ordered_rows: list[int] = []

    def prepare(self) -> None:
        s = self.sizes
        tx.write_transcripts(self.staging, s.store_turns, seed=self.seed,
                             partitions=s.store_files)
        os.makedirs(self.input, exist_ok=True)

    def setup(self, spark, warm_ops: int = 4) -> list[float]:
        gen = parquet_files(self.staging)

        def store(files: list[str], crash: bool) -> dict:
            for f in files:
                os.rename(f, os.path.join(self.input, os.path.basename(f)))
            return ck.run_resumable(spark, self.input, self.ckpt, self.out,
                                    "store", crash_before_commit=crash)

        self.files = [os.path.join(self.input, os.path.basename(f))
                      for f in gen[:-1]]
        self.batch = store(gen[:-1], False)["batch_id"]
        store(gen[-1:], True)
        self.units = non_blank_rows(self.files)
        return warm(lambda i: self.op(spark), warm_ops)

    @property
    def ops(self) -> int:
        return 2 + len(self.results)

    def output_dirs(self) -> list[str]:
        return [os.path.join(self.out, f"batch={self.batch}")]

    def op(self, spark) -> None:
        out = ck.read_output(spark, self.out, self.ckpt)
        with self.span("operators.aggregate"):
            aggs = pl.pipeline_aggregates(out)
            self.results.append({k: [tuple(r) for r in df.collect()]
                                 for k, df in aggs.items()})
        obs = Observation()
        with self.span("operators.order"):
            (order_ops.ordered_by_conversation(out)
             .observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        self.ordered_rows.append(int(obs.get["n"]))

    def check(self, spark) -> list[str]:
        errs = check_batch(self.ckpt, self.out, self.batch,
                           oracle_expected(self.files, self.cache))[:1]
        errs += check_committed_once(self.ckpt, self.files)
        errs += check_read_output(spark, self.out, self.ckpt, self.units)
        want = duckdb_aggregates(self.out, self.batch)
        for i, got in enumerate(self.results):
            bad = [k for k in want if Counter(got[k]) != want[k]]
            if bad or self.ordered_rows[i] != self.units:
                errs.append(f"report pass {i}: {bad} differ from DuckDB, "
                            f"ordered rows {self.ordered_rows[i]}")
        return errs


def duckdb_aggregates(out_dir: str, bid: str) -> dict[str, Counter]:
    """The report aggregates over one batch's parquet, as row multisets."""
    glob = os.path.join(out_dir, f"batch={bid}", "*", "*.parquet")
    with duckdb.connect() as con:
        con.execute("SET threads = 2")
        con.execute("CREATE VIEW t AS SELECT * FROM read_parquet('"
                    + glob.replace("'", "''") + "', hive_partitioning = true)")
        return {k: Counter(con.execute(q).fetchall())
                for k, q in DUCKDB_AGGREGATES.items()}


def warm(fn, n: int) -> list[float]:
    """Run ``fn`` n times, returning each duration (the first is cold)."""
    out = []
    for i in range(n):
        t0 = time.perf_counter()
        fn(i)
        out.append(time.perf_counter() - t0)
    return out


WORKLOADS = {w.name: w for w in (Backfill, Tail, Report)}
