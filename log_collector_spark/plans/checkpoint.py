"""Checkpoint / lineage / idempotent resume (W6 + W7 + north_rule).

Reference protocol: write batch → persist ``filename:offset``
(reader/file/DefaultFileReader.java:306-310) — at-least-once, duplicates on
crash between the two steps. This engine upgrades to EFFECTIVELY-ONCE:

- unit of work = source file (the analog of the reference's per-file offset;
  Parquet/Iceberg files are immutable so "file processed" replaces byte
  offsets),
- each run commits the files NOT yet in the checkpoint table through
  :func:`commit_batch` (also the streaming ``foreachBatch`` body): outputs
  go with ``mode=overwrite`` to a staging dir keyed by a DETERMINISTIC
  batch id, then checkpoint rows are appended. A crash between write and
  commit just overwrites the same dir on re-run — no duplicates — and a
  committed batch id is never written again,
- lineage granularity: per (run, batch, source file, partition) row counts
  + success/error metrics, one checkpoint table row each (north_rule:
  "every stage emits per-partition lineage records and metrics to a
  checkpoint table"). The rows come from what the write left behind, read
  by driver-side pyarrow (:func:`written_counts`), so the batch is parsed
  once and no Spark job runs after the write: ``partition_id`` is the
  write task that wrote the rows (its ``part-NNNNN-`` file number; the
  write adds no shuffle, so it is the input partition), the ``sink``
  directory tells success from error, and ``lines`` adds each file's blank
  lines (its parquet footer rows minus the rows it wrote; blanks are never
  written) to the file's lowest-``partition_id`` row. A file that wrote
  nothing gets one row with ``partition_id`` NULL; ``max_logtime`` is the
  latest event time the row's write task wrote,
- the metadata tables (``checkpoint``, ``filestate``) are small parquet
  dirs handled by driver-side pyarrow (:func:`_read`, :func:`_append`,
  :func:`_rewrite`); a read error raises, never reads as "nothing committed",
- at cluster scale the same protocol runs against an Iceberg table with
  atomic commits instead of a directory rename (SQL emitters below).
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import os
import re
import shutil
import uuid
from collections import defaultdict
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pac
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_collector_spark.grok.oracle import SINK_OK_SUFFIX
from log_collector_spark.operators import route as route_ops
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.sources.io import iceberg_available  # noqa: F401

CKPT_TABLE = "checkpoint"


def _ckpt_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, CKPT_TABLE)


def _table_exists(path: str) -> bool:
    """The checkpoint tables legitimately don't exist on a first run.

    Every checkpoint read and append comes through here, so this is also
    where a rewrite that crashed between its two renames (see
    :func:`_rewrite`) is rolled back: the table is missing but its
    ``.compact-old`` copy is complete, and it is renamed back before anyone
    can mistake the table for a first run."""
    old = path + ".compact-old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    return os.path.isdir(path)


def _read(path: str, columns: list[str] | None = None, filter=None, *,
          pattern: str = "*.parquet", partitioning=None):
    """The parquet files ``pattern`` under ``path`` as one pyarrow table
    (``columns`` only, rows matching the pyarrow expression ``filter``,
    directory keys parsed by ``partitioning``), or None when the table does
    not exist or holds no such file. Read errors propagate."""
    files = (sorted(glob.glob(os.path.join(path, pattern)))
             if _table_exists(path) else [])
    if not files:
        return None
    return pads.dataset(files, format="parquet", partitioning=partitioning,
                        partition_base_dir=path).to_table(
        columns=columns, filter=filter)


def _append(path: str, tbl) -> None:
    """Add the pyarrow table ``tbl`` to the table at ``path`` as one new file:
    written under a hidden name (dot prefix, no ``.parquet`` suffix) that no
    reader lists, then renamed in; a crash leaves none or a whole one."""
    _table_exists(path)  # roll back a crashed rewrite before adding to it
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(path, name))


def _rewrite(path: str, tbl) -> None:
    """Replace the parquet table at ``path`` by the pyarrow table ``tbl``.

    The new file is fully written into a staging dir first; the swap is two
    renames. A crash before the first rename leaves the old table in place;
    a crash between them leaves only ``.compact-old``, which
    :func:`_table_exists` renames back before any read. No reader sees an
    empty table, so ``committed_batches`` never loses a batch and
    ``clean_orphan_staging`` never deletes committed output."""
    stage = path + ".compact-staging"
    old = path + ".compact-old"
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    os.makedirs(stage)
    pq.write_table(tbl, os.path.join(stage, "part-0000.parquet"))
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old)


def _committed(ckpt_dir: str, col: str) -> set[str]:
    """Distinct values of one checkpoint-table column (empty if none)."""
    tbl = _read(_ckpt_path(ckpt_dir), [col])
    return set() if tbl is None else set(tbl.column(col).to_pylist())


def committed_files(spark: SparkSession, ckpt_dir: str) -> set[str]:
    return _committed(ckpt_dir, "src_file")


def committed_batches(spark: SparkSession, ckpt_dir: str) -> set[str]:
    return _committed(ckpt_dir, "batch_id")


def clean_orphan_staging(spark: SparkSession, out_dir: str,
                         ckpt_dir: str) -> list[str]:
    """Delete staging dirs whose batch_id never committed.

    Closes the effectively-once hole when the pending set CHANGES between a
    crash-before-commit and the retry: the retry's batch_id differs (see
    :func:`batch_id`), so the orphaned ``batch=<old>`` dir
    would never be overwritten and ``read_output`` would double-count every
    row of the crashed batch. Run this before each batch (run_resumable does).
    """
    if not os.path.isdir(out_dir):
        return []
    done = committed_batches(spark, ckpt_dir)
    removed = []
    for d in os.listdir(out_dir):
        if d.startswith("batch=") and d.split("=", 1)[1] not in done:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
            removed.append(d)
    return removed


def pending_files(spark: SparkSession, input_dir: str,
                  ckpt_dir: str, *,
                  filename_regex: str | None = None,
                  last_file: str | None = None) -> list[str]:
    """Files to process: regex/skip-before pruning (S3, SugoFileFilter
    semantics — see sources/file_filter.py) minus the committed set.

    The committed set is never materialized: the checkpoint scan keeps only
    rows whose ``src_file`` is one of the candidates, so memory is bounded
    by the candidate listing even when the table holds 10^8 rows."""
    from log_collector_spark.sources.file_filter import filtered_files

    all_files = [f for f in filtered_files(input_dir, filename_regex,
                                           last_file)
                 if filename_regex is not None or f.endswith(".parquet")]
    if not all_files:
        return []
    done = _read(_ckpt_path(ckpt_dir), ["src_file"],
                 pac.field("src_file").isin(all_files))
    done = set() if done is None else set(done.column("src_file").to_pylist())
    return [f for f in all_files if f not in done]


def batch_id(files: list[str], sizes: list[int]) -> str:
    """Deterministic id of a batch of files: a re-run of the same pending
    set gets the same id, and a truncated file taken again (smaller) a new
    one, so it never overwrites the batch that first committed it."""
    return hashlib.md5("\n".join(sorted(
        f"{f}\t{n}" for f, n in zip(files, sizes))).encode()).hexdigest()[:16]


# One checkpoint row: (column, SQL type). lineage_rows builds exactly these
# columns and the Iceberg DDL declares exactly these.
CKPT_ROW = (("run_id", "STRING"), ("batch_id", "STRING"), ("stage", "STRING"),
            ("src_file", "STRING"), ("partition_id", "INT"),
            ("lines", "BIGINT"), ("success", "BIGINT"), ("error", "BIGINT"),
            ("max_logtime", "BIGINT"), ("committed_at", "TIMESTAMP"))
_ARROW_TYPE = {"STRING": pa.string(), "INT": pa.int32(),
               "BIGINT": pa.int64(), "TIMESTAMP": pa.timestamp("us", "UTC")}


_WRITTEN = pa.schema([("src_file", pa.string()),
                      ("partition_id", pa.int32()),
                      ("success", pa.int64()), ("error", pa.int64()),
                      ("max_logtime", pa.int64())])


def written_counts(staging: str) -> pa.Table:
    """Success/error rows and latest ``logtime`` per (src_file,
    partition_id) that the fan-out write left under ``staging``: one
    driver-side pyarrow scan of its part files, no Spark job. A ``*_etl``
    sink is success, ``errors``/``failures`` are error; ``partition_id`` is
    the write task, from its ``part-NNNNN-`` file name (NULL if the name
    does not parse)."""
    out = _read(staging, ["_src_file", "sink", "logtime", "__filename"],
                pattern="sink=*/*.parquet",
                partitioning=pads.partitioning(
                    pa.schema([("sink", pa.string())]), flavor="hive"))
    if out is None:
        return _WRITTEN.empty_table()
    # one row per (input file, part file) first, so the regex runs once per
    # part file, not once per row
    per_part = out.group_by(["_src_file", "__filename", "sink"]).aggregate(
        [([], "count_all"), ("logtime", "max")])
    rows = per_part["count_all"]
    ok = pac.ends_with(per_part["sink"], SINK_OK_SUFFIX)
    task = pac.extract_regex(per_part["__filename"],
                             r"/part-(?P<t>\d+)-[^/]*$")
    counts = pa.table({
        "src_file": per_part["_src_file"],
        "partition_id": pac.cast(pac.struct_field(task, [0]), pa.int32()),
        "ok": pac.if_else(ok, rows, 0), "err": pac.if_else(ok, 0, rows),
        "logtime": per_part["logtime_max"],
    }).group_by(["src_file", "partition_id"]).aggregate(
        [("ok", "sum"), ("err", "sum"), ("logtime", "max")])
    return pa.table([counts[c] for c in ("src_file", "partition_id", "ok_sum",
                                         "err_sum", "logtime_max")],
                    schema=_WRITTEN)


def lineage_rows(written: pa.Table, files: list[str], lines: list[int],
                 run_id: str, bid: str, stage: str) -> pa.Table:
    """The checkpoint rows of one batch from ``written``
    (:func:`written_counts`) and each file's footer row count ``lines``;
    blank lines are placed as the module docstring says.

    ``src_file`` is spelled as in ``files`` (what :func:`pending_files`
    lists), not as ``input_file_name()`` spells it (absolute, URL-encoded),
    or the file would never read as committed. Raises, so nothing is
    committed, if an output file name carried no task number, rows came
    from a file outside ``files``, or a file wrote more rows than its
    footer holds."""
    spelled = {os.path.abspath(f): f for f in files}
    parts = defaultdict(list)
    for w in written.to_pylist():
        if w["partition_id"] is None:
            raise ValueError(f"batch={bid}: an output file name has no "
                             f"part-NNNNN- task number")
        f = spelled.get(unquote(w["src_file"]))
        if f is None:
            raise ValueError(f"batch={bid}: rows written for "
                             f"{w['src_file']}, which is not in the batch")
        parts[f].append((w["partition_id"], w["success"], w["error"],
                         w.get("max_logtime")))
    now = datetime.datetime.now(datetime.timezone.utc)
    rows = []
    for f, n in zip(files, lines):
        got = sorted(parts[f]) or [(None, 0, 0, None)]
        blank = n - sum(ok + err for _, ok, err, _ in got)
        if blank < 0:
            raise ValueError(f"{f} wrote {n - blank} rows; its parquet "
                             f"footer holds {n}")
        for pid, ok, err, t in got:
            rows.append({"run_id": run_id, "batch_id": bid, "stage": stage,
                         "src_file": f, "partition_id": pid,
                         "lines": ok + err + blank, "success": ok,
                         "error": err, "max_logtime": t,
                         "committed_at": now})
            blank = 0
    return pa.Table.from_pylist(rows, pa.schema(
        [(c, _ARROW_TYPE[t]) for c, t in CKPT_ROW]))


FILESTATE_TABLE = "filestate"


def _filestate_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, FILESTATE_TABLE)


def record_filestate(ckpt_dir: str, files: list[str],
                     sizes: list[int]) -> None:
    """Commit-time sidecar: (src_file, bytes) per processed file — the analog
    of the reference's stored byte offset (DefaultFileReader.java:306-310)."""
    _append(_filestate_path(ckpt_dir), pa.table({
        "src_file": pa.array(files, pa.string()),
        "bytes": pa.array(sizes, pa.int64())}))


def _max_bytes(tbl):
    """Per-file MAX(bytes): the only reading anyone does of filestate."""
    return (tbl.group_by("src_file").aggregate([("bytes", "max")])
            .rename_columns(["src_file", "bytes"]))


def truncated_files(spark: SparkSession, ckpt_dir: str) -> list[str]:
    """S5 tail-truncate detection (DefaultFileReader.java:217-219: stored
    offset > current length → restart from 0). File-granularity analog: a
    committed file whose on-disk size SHRANK was truncated/rotated in place
    — its checkpoint entry is stale."""
    tbl = _read(_filestate_path(ckpt_dir), ["src_file", "bytes"])
    if tbl is None:
        return []
    agg = _max_bytes(tbl)
    return [f for f, b in zip(agg.column("src_file").to_pylist(),
                              agg.column("bytes").to_pylist())
            if os.path.exists(f) and os.path.getsize(f) < b]


TRUNCATED_TOMBSTONE = "truncated://"


def recover_truncated(spark: SparkSession, ckpt_dir: str) -> list[str]:
    """Invalidate checkpoint rows of truncated files so the next run re-reads
    them from the start (the reference's ``currentByteOffset = 0``,
    DefaultFileReader.java:217-219).

    Checkpoint rows are TOMBSTONED, not dropped: ``src_file`` is rewritten to
    ``truncated://<path>`` — it no longer matches the real path (so the file
    becomes pending again) but the row, and crucially its ``batch_id``, stays
    in the table. Dropping the rows would make a batch that consisted only of
    truncated files vanish from ``committed_batches``, and the next
    ``clean_orphan_staging`` would then rmtree that batch's COMMITTED output
    dir — retracting rows the reference semantics (re-emit, never retract)
    say must stay. Filestate rows ARE dropped (keeping the stale larger size
    would re-flag the file as truncated forever).

    On an Iceberg-backed checkpoint this is an ``UPDATE ... WHERE src_file
    IN (...)``. Like the reference's restart-from-0, truncate recovery is
    at-least-once for the affected file: rows its pre-truncate content
    already emitted stay in the output (the reference re-emits to its topic
    the same way).
    """
    bad = truncated_files(spark, ckpt_dir)
    if not bad:
        return []
    badset = set(bad)

    ckpt = _ckpt_path(ckpt_dir)
    tbl = _read(ckpt)
    if tbl is not None:
        idx = tbl.schema.get_field_index("src_file")
        col = [TRUNCATED_TOMBSTONE + v if v in badset else v
               for v in tbl.column("src_file").to_pylist()]
        _rewrite(ckpt, tbl.set_column(idx, "src_file",
                                      pa.array(col, pa.string())))

    fs = _filestate_path(ckpt_dir)
    tbl = _read(fs)
    if tbl is not None:
        _rewrite(fs, tbl.filter(pac.invert(pac.is_in(
            tbl.column("src_file"), value_set=pa.array(bad)))))
    return bad


def frame_files(df: DataFrame) -> tuple[list[str], list[int], list[int]]:
    """Input files of ``df`` (plain paths), their rows and byte sizes: one
    narrow count, no parse (a micro-batch's ``inputFiles()`` is empty)."""
    per_file = df.groupBy(F.input_file_name().alias("f")).count().toArrow()
    files = [unquote(re.sub("^file:(//)?", "", f))
             for f in per_file.column("f").to_pylist()]
    return (files, per_file.column("count").to_pylist(),
            [os.path.getsize(f) for f in files])


def commit_batch(spark: SparkSession, df: DataFrame, bid: str,
                 files: list[str], lines: list[int], sizes: list[int],
                 ckpt_dir: str, out_dir: str, run_id: str, *,
                 crash_before_commit: bool = False) -> pa.Table | None:
    """The commit core: parse, enrich and route ``df`` (the rows of
    ``files``), fan it out into ``batch=<bid>`` (overwriting an uncommitted
    attempt at ``bid``), record filestate, then append the lineage rows:
    the commit point. Returns those rows, or None if ``bid`` had committed
    (it is never written again) or ``crash_before_commit`` stopped it."""
    if bid in committed_batches(spark, ckpt_dir):
        return None
    # input_file_name() is a file:// URI; lineage_rows maps it to ``files``
    df = df.withColumn("_src_file", F.regexp_replace(
        F.input_file_name(), "^file:(//)?", ""))
    routed = pl.route_stage(pl.enrich_stage(pl.parse_stage(df), spark))
    staging = os.path.join(out_dir, f"batch={bid}")
    route_ops.fanout_write(routed, staging, mode="overwrite")
    if crash_before_commit:
        return None
    # no Spark job from here on: the rest is driver-side pyarrow
    stats = lineage_rows(written_counts(staging), files, lines,
                         run_id, bid, "route")
    record_filestate(ckpt_dir, files, sizes)
    _append(_ckpt_path(ckpt_dir), stats)
    return stats


def run_resumable(spark: SparkSession, input_dir: str, ckpt_dir: str,
                  out_dir: str, run_id: str, *,
                  crash_before_commit: bool = False,
                  filename_regex: str | None = None,
                  last_file: str | None = None,
                  detect_truncate: bool = False) -> dict:
    """One resumable pipeline run over the files not yet checkpointed.

    Returns {"batch_id", "files", "rows"}, ``rows`` = sink rows written
    (success + error; blank lines are neither); with ``crash_before_commit``
    the sink data is written but the checkpoint append is skipped (simulates
    the reference's crash window — re-running must NOT duplicate output).
    The lineage append is the commit point; filestate goes just before it,
    so a crash between the two only re-runs the batch.
    """
    clean_orphan_staging(spark, out_dir, ckpt_dir)
    if detect_truncate:
        recover_truncated(spark, ckpt_dir)
    files = pending_files(spark, input_dir, ckpt_dir,
                          filename_regex=filename_regex, last_file=last_file)
    if not files:
        return {"batch_id": None, "files": [], "rows": 0}
    # one stat + one footer read per file: the id's and filestate's size,
    # lineage's lines
    sizes, lines = zip(*((os.path.getsize(f), pq.read_metadata(f).num_rows)
                         for f in files))
    bid = batch_id(files, sizes)
    stats = commit_batch(spark, spark.read.parquet(*files), bid, files, lines,
                         sizes, ckpt_dir, out_dir, run_id,
                         crash_before_commit=crash_before_commit)
    if crash_before_commit:
        return {"batch_id": bid, "files": files, "rows": -1, "crashed": True}
    rows = 0 if stats is None else sum(
        sum(stats.column(c).to_pylist()) for c in ("success", "error"))
    return {"batch_id": bid, "files": files, "rows": rows}


def _empty_output(spark: SparkSession) -> DataFrame:
    """Zero-row frame with the REAL fan-out output schema (derived by
    analyzing the stage chain over an empty transcripts-shaped input — plan
    analysis only, nothing executes), so callers of the no-committed-batches
    case can still select/filter the columns they would get from data."""
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, _src_file string")
    routed = pl.route_stage(pl.enrich_stage(pl.parse_stage(empty), spark))
    # fan-out read-back ordering: data columns first, the sink partition
    # column last
    cols = [c for c in routed.columns if c != "sink"] + ["sink"]
    return routed.select(*cols).limit(0)


def read_output(spark: SparkSession, out_dir: str,
                ckpt_dir: str | None = None) -> DataFrame:
    """Read the fanned-out sink data. With ``ckpt_dir``, read ONLY batches
    recorded in the checkpoint table — a reader running inside another run's
    write-to-commit window then never sees uncommitted staging data."""
    if ckpt_dir is not None:
        done = committed_batches(spark, ckpt_dir)
        paths = [os.path.join(out_dir, f"batch={b}") for b in sorted(done)
                 if os.path.isdir(os.path.join(out_dir, f"batch={b}"))]
        if not paths:
            return _empty_output(spark)
        return spark.read.option("basePath", out_dir).parquet(*paths)
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*"))


# ---------------------------------------------------------------------------
# Iceberg-backed checkpoint table (SQL emitters; jar-gated)
# ---------------------------------------------------------------------------
# The parquet checkpoint above is the executable backend here (no
# iceberg-spark-runtime jar ships with the package). On a cluster the same
# metadata lives in an Iceberg table, where the driver-side
# rewrite-the-whole-table dance collapses to single transactional
# statements. These emitters ARE that path: run them verbatim through
# spark.sql() once the catalog exists; iceberg_available() is the gate.

CKPT_TABLE_COLS = ", ".join(f"{c} {t}" for c, t in CKPT_ROW)


def iceberg_create_checkpoint_sql(table: str = "ckpt.checkpoint") -> str:
    """Checkpoint table DDL: partitioned by run for cheap per-run listing;
    the pending-set scan filters on ``src_file IN (candidates)``."""
    return (f"CREATE TABLE IF NOT EXISTS {table} ({CKPT_TABLE_COLS}) "
            f"USING iceberg PARTITIONED BY (run_id)")


def iceberg_recover_truncated_sql(bad_files: list[str],
                                  table: str = "ckpt.checkpoint") -> str:
    """The transactional form of :func:`recover_truncated`'s tombstone
    rewrite — one UPDATE, snapshot-isolated, no table rewrite. batch_id
    survives (same retraction-safety argument as the parquet path)."""
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in bad_files)
    return (f"UPDATE {table} "
            f"SET src_file = concat('{TRUNCATED_TOMBSTONE}', src_file) "
            f"WHERE src_file IN ({quoted})")


def iceberg_commit_batch_sql(table: str = "ckpt.checkpoint") -> str:
    """MERGE form of the commit append: idempotent on (run_id, batch_id,
    src_file) so a retried driver commit cannot double-insert — the Iceberg
    analog of the parquet path's write-once batch files."""
    return (f"MERGE INTO {table} t USING batch_rows s "
            f"ON t.run_id = s.run_id AND t.batch_id = s.batch_id "
            f"AND t.src_file = s.src_file "
            f"WHEN NOT MATCHED THEN INSERT *")


def compact_checkpoint(spark: SparkSession, ckpt_dir: str) -> dict:
    """Compact the checkpoint metadata tables in place — the maintenance
    pass a long-lived resumable pipeline must run: every committed batch
    appends one small parquet file to each table (:func:`_append`), so
    after 10^5 batches a resume pays 10^5 file opens just to learn what is
    already done.

    Semantics preserved EXACTLY:
    - checkpoint table: rows are already per (src_file x partition) facts
      (including ``truncated://`` tombstones, whose batch_ids must keep
      protecting committed output from clean_orphan_staging) — they are
      rewritten verbatim into one file, only the file count changes;
    - filestate table: collapsed to per-file MAX(bytes) (:func:`_max_bytes`,
      the reading truncated_files does), so dropping superseded smaller
      rows changes no answer.

    Crash-safe through :func:`_rewrite`; re-running compaction is
    idempotent. Returns per-table (files_before, files_after, rows)."""
    report = {}
    for name, path, shape in (
            (CKPT_TABLE, _ckpt_path(ckpt_dir), lambda t: t),
            (FILESTATE_TABLE, _filestate_path(ckpt_dir),
             lambda t: _max_bytes(t).sort_by("src_file"))):
        tbl = _read(path)
        if tbl is None:
            continue
        files = glob.glob(os.path.join(path, "*.parquet"))
        tbl = shape(tbl)
        _rewrite(path, tbl)
        report[name] = {"files_before": len(files), "files_after": 1,
                        "rows": tbl.num_rows}
    return report
