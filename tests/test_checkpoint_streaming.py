"""Resumability (checkpoint/lineage) + Structured Streaming variant tests.

North_rule coverage: idempotent mid-pipeline resume with per-partition
lineage rows, streaming offsets (second run processes nothing), watermarked
metric buckets, and stateful multiline assembly across micro-batches.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import aggregate as agg_ops
from log_collector_spark.plans import checkpoint as ck
from log_collector_spark.plans import pipeline as pl

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tx_files():
    path = pl.transcripts_path(SF_DIR)
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _expected_routed_count(spark):
    routed = pl.full_pipeline(spark, SF_DIR)
    return routed.filter(F.col("sink").isNotNull()).count()


def test_resume_incremental_and_idempotent(spark, tmp_path, tx_files):
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)

    half = len(tx_files) // 2
    for f in tx_files[:half]:
        shutil.copy(f, input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    assert len(r1["files"]) == half and r1["rows"] > 0

    # crash window: write sinks but skip the checkpoint commit, then re-run —
    # the deterministic staging dir overwrite must leave no duplicates
    for f in tx_files[half:]:
        shutil.copy(f, input_dir)
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                          crash_before_commit=True)
    assert r2.get("crashed")
    r3 = ck.run_resumable(spark, input_dir, ckpt, out, "run3")
    assert sorted(r3["files"]) == sorted(r2["files"])
    assert len(r3["files"]) == len(tx_files) - half

    # nothing pending afterwards
    r4 = ck.run_resumable(spark, input_dir, ckpt, out, "run4")
    assert r4["files"] == []

    total = ck.read_output(spark, out).count()
    assert total == _expected_routed_count(spark)

    # lineage: per (file, partition) rows cover every input file, and the
    # metric counters reconcile with the input row count
    lineage = spark.read.parquet(os.path.join(ckpt, "checkpoint"))
    files_in_ckpt = {os.path.basename(r["src_file"])
                     for r in lineage.select("src_file").distinct().collect()}
    assert files_in_ckpt == {os.path.basename(f) for f in tx_files}
    n_lines = lineage.agg(F.sum("lines")).collect()[0][0]
    n_input = spark.read.parquet(*tx_files).count()
    assert n_lines == n_input
    assert {"run_id", "batch_id", "stage", "src_file", "partition_id",
            "lines", "success", "error", "committed_at"} <= set(lineage.columns)


def test_resume_after_crash_with_new_files(spark, tmp_path, tx_files):
    """Crash-before-commit, then NEW input files arrive before the retry: the
    retry's pending set (and hence batch_id) differs, so the orphaned staging
    dir must be cleaned, not double-counted (ADVICE round 1)."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)

    third = max(1, len(tx_files) // 3)
    for f in tx_files[:third]:
        shutil.copy(f, input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                          crash_before_commit=True)
    assert r1.get("crashed")
    orphan = os.path.join(out, f"batch={r1['batch_id']}")
    assert os.path.isdir(orphan)

    # new files arrive → different pending set → different batch_id
    for f in tx_files[third:]:
        shutil.copy(f, input_dir)
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2")
    assert r2["batch_id"] != r1["batch_id"]
    assert not os.path.isdir(orphan), "orphaned staging dir not cleaned"

    total = ck.read_output(spark, out).count()
    assert total == _expected_routed_count(spark)
    # committed-only read sees the same rows
    assert ck.read_output(spark, out, ckpt).count() == total


def test_read_output_committed_only_hides_crash_window(spark, tmp_path,
                                                       tx_files):
    """A reader inside another run's write-to-commit window must not see the
    uncommitted staging rows when reading committed-only."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        shutil.copy(f, input_dir)
    ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    committed = ck.read_output(spark, out, ckpt).count()
    assert committed > 0

    shutil.copy(tx_files[2], input_dir)
    r = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                         crash_before_commit=True)
    assert r.get("crashed")
    # raw glob sees the staging rows; committed-only does not
    assert ck.read_output(spark, out).count() > committed
    assert ck.read_output(spark, out, ckpt).count() == committed


def test_truncate_recovery_reprocesses_shrunk_file(spark, tmp_path, tx_files):
    """S5 (DefaultFileReader.java:217-219): a committed file whose size
    shrank is re-read from the start — its checkpoint entry is invalidated
    and the next run picks it up again."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        shutil.copy(f, input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                          detect_truncate=True)
    assert len(r1["files"]) == 2

    # nothing truncated yet → second run is a no-op
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                          detect_truncate=True)
    assert r2["files"] == []

    # truncate one committed file in place (half the rows → smaller file)
    victim = sorted(os.path.join(input_dir, f) for f in os.listdir(input_dir)
                    if f.endswith(".parquet"))[0]
    orig_size = os.path.getsize(victim)
    tbl = pq.read_table(victim)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), victim)
    assert os.path.getsize(victim) < orig_size  # sanity: it shrank

    r3 = ck.run_resumable(spark, input_dir, ckpt, out, "run3",
                          detect_truncate=True)
    assert r3["files"] == [victim]
    # and afterwards the checkpoint is consistent again
    r4 = ck.run_resumable(spark, input_dir, ckpt, out, "run4",
                          detect_truncate=True)
    assert r4["files"] == []


def test_truncate_of_batch_only_file_keeps_committed_output(spark, tmp_path,
                                                            tx_files):
    """Regression (round-2 ADVICE): when a truncated file was a batch's ONLY
    file, recovery must not erase that batch_id from committed_batches —
    otherwise the next run's clean_orphan_staging rmtree's the batch's
    COMMITTED output dir, retracting rows (the reference re-emits, never
    retracts). Recovery tombstones the checkpoint rows instead of dropping
    them, so the batch survives and the file is still re-processed."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)

    # batch 1: exactly one file
    shutil.copy(tx_files[0], input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                          detect_truncate=True)
    assert len(r1["files"]) == 1
    batch1_dir = os.path.join(out, f"batch={r1['batch_id']}")
    c1 = ck.read_output(spark, out, ckpt).count()
    assert c1 == r1["rows"] > 0

    # truncate the batch's only file in place; a new file arrives too
    victim = r1["files"][0]
    tbl = pq.read_table(victim)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), victim)
    shutil.copy(tx_files[1], input_dir)

    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                          detect_truncate=True)
    # the truncated file is re-processed together with the new one
    assert sorted(os.path.basename(f) for f in r2["files"]) == \
        sorted(os.path.basename(f) for f in [victim,
               os.path.join(input_dir, os.path.basename(tx_files[1]))])
    # batch 1's id survived recovery → its committed output was NOT cleaned
    assert r1["batch_id"] in ck.committed_batches(spark, ckpt)
    assert os.path.isdir(batch1_dir), \
        "clean_orphan_staging deleted a committed batch after truncate recovery"
    # output = pre-truncate rows (kept, at-least-once) + batch 2 rows
    assert ck.read_output(spark, out, ckpt).count() == c1 + r2["rows"]

    # steady state afterwards: nothing pending, nothing re-flagged
    r3 = ck.run_resumable(spark, input_dir, ckpt, out, "run3",
                          detect_truncate=True)
    assert r3["files"] == []


def test_retaken_truncated_file_never_overwrites_committed_batch(
        spark, tmp_path, tx_files):
    """A one-file batch whose file is truncated and taken again gets a new
    batch id (the id covers each file's size), so the re-take cannot
    overwrite the committed batch: the pre-truncate rows stay (re-emit,
    never retract) and each batch id holds one lineage row set."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    shutil.copy(tx_files[0], input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                          detect_truncate=True)
    c1 = ck.read_output(spark, out, ckpt).count()
    assert c1 == r1["rows"] > 0

    tbl = pq.read_table(r1["files"][0])
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), r1["files"][0])
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                          detect_truncate=True)
    assert r2["files"] == r1["files"] and r2["rows"] > 0
    assert r2["batch_id"] != r1["batch_id"]
    assert ck.read_output(spark, out, ckpt).count() == c1 + r2["rows"]
    runs = {}
    for x in _committed_lineage(ckpt):
        runs.setdefault(x["batch_id"], set()).add(x["run_id"])
    assert runs == {r1["batch_id"]: {"run1"}, r2["batch_id"]: {"run2"}}


class _Crash(Exception):
    pass


def _tree(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _dirs, fs in os.walk(d) for f in fs)


def test_checkpoint_rewrite_crash_keeps_committed_batches(
        spark, tmp_path, tx_files, monkeypatch):
    """Both checkpoint rewrites (truncate recovery, compaction) killed at
    each step — the parquet write, the first rename, the second rename —
    then resumed: the committed batch must still be in committed_batches,
    its output files must survive the next run's clean_orphan_staging
    untouched, and its file must not be re-processed."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    snap = str(tmp_path / "snap")
    os.makedirs(input_dir)
    tbl = pq.read_table(tx_files[0])
    pq.write_table(tbl.slice(0, 400), os.path.join(input_dir, "a.parquet"))
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                          detect_truncate=True)
    batch1_dir = os.path.join(out, f"batch={r1['batch_id']}")
    committed = _tree(batch1_dir)
    shutil.copytree(ckpt, os.path.join(snap, "ckpt"))
    shutil.copytree(out, os.path.join(snap, "out"))
    victim = r1["files"][0]  # truncated: recovery has a rewrite to do
    tbl = pq.read_table(victim)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), victim)

    def boom(*a, **kw):
        raise _Crash

    for caller in (ck.recover_truncated, ck.compact_checkpoint):
        for step in ("write", "rename1", "rename2"):
            case = f"{caller.__name__}/{step}"
            for d, src in ((ckpt, "ckpt"), (out, "out")):
                shutil.rmtree(d)
                shutil.copytree(os.path.join(snap, src), d)
            with monkeypatch.context() as m:
                if step == "write":
                    m.setattr(pq, "write_table", boom)
                else:
                    calls, real = [], os.rename

                    def rename(a, b, _k=int(step[-1])):
                        calls.append(a)
                        if len(calls) == _k:
                            raise _Crash
                        return real(a, b)
                    m.setattr(os, "rename", rename)
                with pytest.raises(_Crash):
                    caller(spark, ckpt)
            # the resumed run reads the checkpoint and cleans orphan
            # staging dirs before anything else
            r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2")
            assert r2["files"] == [], case
            assert r1["batch_id"] in ck.committed_batches(spark, ckpt), case
            assert _tree(batch1_dir) == committed, case


def test_crash_before_lineage_append_keeps_truncation_detectable(
        spark, tmp_path, tx_files, monkeypatch):
    """The lineage append is the commit point and the filestate sidecar is
    recorded before it: a crash while recording the sidecar leaves the
    batch uncommitted, the resumed run records both, and a later in-place
    truncation of the file is detected and the file re-processed."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    shutil.copy(tx_files[0], input_dir)
    victim = os.path.join(input_dir, os.path.basename(tx_files[0]))

    def boom(*a, **kw):
        raise _Crash

    with monkeypatch.context() as m:
        m.setattr(ck, "record_filestate", boom)
        with pytest.raises(_Crash):
            ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run2")
    assert r1["files"] == [victim]

    tbl = pq.read_table(victim)
    pq.write_table(tbl.slice(0, tbl.num_rows // 2), victim)
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run3",
                          detect_truncate=True)
    assert r2["files"] == [victim]


def test_unreadable_checkpoint_raises_before_touching_output(
        spark, tmp_path, tx_files):
    """A checkpoint file that cannot be read is an error, not "nothing
    committed": the next run raises before it cleans or writes anything
    under the output dir, so the committed batch stays byte-identical."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    shutil.copy(tx_files[0], input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    batch1_dir = os.path.join(out, f"batch={r1['batch_id']}")

    def contents() -> dict[str, bytes]:
        out_ = {}
        for rel in _tree(batch1_dir):
            with open(os.path.join(batch1_dir, rel), "rb") as fh:
                out_[rel] = fh.read()
        return out_

    committed = contents()
    with open(os.path.join(ckpt, ck.CKPT_TABLE, "part-x.parquet"),
              "wb") as fh:
        fh.write(b"not a parquet file")
    shutil.copy(tx_files[1], input_dir)
    # whichever reader meets the file first raises; what matters is that
    # nothing under ``out`` was touched before it did
    with pytest.raises(Exception):
        ck.run_resumable(spark, input_dir, ckpt, out, "run2")
    assert os.listdir(out) == [f"batch={r1['batch_id']}"]
    assert contents() == committed


# ---------------------------------------------------------------------------
# Lineage from the written batch (the plan is executed once per run)
# ---------------------------------------------------------------------------

def _reexecuted_lineage(spark, files: list[str]) -> dict:
    """Reference lineage by a second execution of the routed plan:
    {(src_file, spark_partition_id): (lines, success, error)}."""
    df = spark.read.parquet(*files).withColumn(
        "_src_file", F.regexp_replace(F.input_file_name(), "^file:(//)?", ""))
    routed = pl.route_stage(pl.enrich_stage(pl.parse_stage(df), spark))
    rows = (routed.groupBy("_src_file", F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("lines"),
                 F.sum(agg_ops.success_expr().cast("long")).alias("success"),
                 F.sum(agg_ops.error_expr().cast("long")).alias("error"))
            .collect())
    return {(r["_src_file"], r["pid"]): (r["lines"], r["success"], r["error"])
            for r in rows}


def _committed_lineage(ckpt: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(ckpt, ck.CKPT_TABLE)).to_pylist()


def _assert_lineage_matches_reexecution(spark, ckpt: str, files: list[str]):
    """Per (file, partition_id) success/error and per-file lines equal what
    re-executing the plan counts; every file's lines equal its footer rows."""
    import pyarrow.parquet as pq

    want = _reexecuted_lineage(spark, files)
    got = _committed_lineage(ckpt)
    assert {(r["src_file"], r["partition_id"]): (r["success"], r["error"])
            for r in got} == {k: v[1:] for k, v in want.items()}
    per_file, want_file = {}, {}
    for r in got:
        per_file[r["src_file"]] = per_file.get(r["src_file"], 0) + r["lines"]
    for (f, _), (n, _, _) in want.items():
        want_file[f] = want_file.get(f, 0) + n
    assert per_file == want_file == {
        f: pq.read_metadata(f).num_rows for f in files}
    return got


def test_lineage_from_written_batch_matches_reexecution(spark, tmp_path,
                                                        tx_files):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for f in tx_files[:3]:
        shutil.copy(f, input_dir)
    r = ck.run_resumable(spark, input_dir, str(tmp_path / "ckpt"),
                         str(tmp_path / "out"), "run1")
    got = _assert_lineage_matches_reexecution(spark, str(tmp_path / "ckpt"),
                                              r["files"])
    assert r["rows"] == sum(x["success"] + x["error"] for x in got) > 0


def test_lineage_of_split_files_matches_reexecution(spark, tmp_path,
                                                    tx_files):
    """Files read as several splits: each split's write task is its own
    lineage row, and a file's blank lines are counted once."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        pq.write_table(pq.read_table(f),
                       os.path.join(input_dir, os.path.basename(f)),
                       row_group_size=250)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        r = ck.run_resumable(spark, input_dir, str(tmp_path / "ckpt"),
                             str(tmp_path / "out"), "run1")
        got = _assert_lineage_matches_reexecution(
            spark, str(tmp_path / "ckpt"), r["files"])
    finally:
        spark.conf.set(key, prev)
    for f in r["files"]:
        assert len({x["partition_id"] for x in got
                    if x["src_file"] == f}) > 1, "input was not split"


def test_zero_row_file_commits(spark, tmp_path, tx_files):
    """A file with no rows writes nothing; it still gets a lineage row, so it
    is committed and the next run has nothing to do."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        shutil.copy(f, input_dir)
    empty = os.path.join(input_dir, "zz-empty.parquet")
    pq.write_table(pq.read_table(tx_files[0]).slice(0, 0), empty)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    assert empty in r1["files"]
    n_ckpt = len(os.listdir(os.path.join(ckpt, ck.CKPT_TABLE)))
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2")
    assert r2["files"] == []
    assert len(os.listdir(os.path.join(ckpt, ck.CKPT_TABLE))) == n_ckpt
    assert [(x["partition_id"], x["lines"], x["success"], x["error"])
            for x in _committed_lineage(ckpt)
            if x["src_file"] == empty] == [(None, 0, 0, 0)]


def test_input_path_with_space_commits(spark, tmp_path, tx_files):
    """``input_file_name()`` URL-encodes the space; the lineage row must
    still name the file as the listing does, so the file commits once."""
    input_dir = str(tmp_path / "in a")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)
    shutil.copy(tx_files[0], input_dir)
    r1 = ck.run_resumable(spark, input_dir, ckpt, str(tmp_path / "out"), "r1")
    assert {x["src_file"] for x in _committed_lineage(ckpt)} == \
        set(r1["files"])
    assert ck.run_resumable(spark, input_dir, ckpt, str(tmp_path / "out"),
                            "r2")["files"] == []


def test_all_blank_file_gets_null_partition_row(spark, tmp_path, tx_files):
    """An all-blank file writes no rows: its lineage is one row with
    partition_id NULL holding all its lines, and it is committed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    shutil.copy(tx_files[0], input_dir)
    tbl = pq.read_table(tx_files[0]).slice(0, 7)
    blank = os.path.join(input_dir, "zz-blank.parquet")
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                  pa.array(["", "  ", " "] * 2 + [None])),
                   blank)
    r1 = ck.run_resumable(spark, input_dir, ckpt, out, "run1")
    assert blank in r1["files"]
    assert [(x["partition_id"], x["lines"], x["success"], x["error"])
            for x in _committed_lineage(ckpt)
            if x["src_file"] == blank] == [(None, 7, 0, 0)]
    assert ck.run_resumable(spark, input_dir, ckpt, out, "run2")["files"] \
        == []


def test_blank_is_whatever_str_strip_strips(spark, tmp_path, tx_files):
    """is_blank agrees with the grok kernel's ``not line.strip()`` on every
    code point str.isspace() accepts (and on near misses), and lines made
    only of such code points are blank in the committed lineage, not
    errors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_collector_spark.operators import parse as parse_ops

    near = ["\x00", "\x08", "\u200b", "\ufeff", "x"]
    texts = [t for c in parse_ops.WHITESPACE + "".join(near)
             for t in (c, c * 2, c + "x" + c)]
    got = (spark.createDataFrame([(t,) for t in texts], "text string")
           .select("text", parse_ops.is_blank().alias("b")).collect())
    assert {r["text"]: r["b"] for r in got} == {
        t: not t.strip() for t in texts}
    assert set(parse_ops.WHITESPACE) == {
        chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()}

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)
    tbl = pq.read_table(tx_files[0]).slice(0, 5)
    pq.write_table(tbl.set_column(
        tbl.schema.get_field_index("text"), "text",
        pa.array(["\t", " ", "\t\t", "\u3000", "\x1c"])),
        os.path.join(input_dir, "blank.parquet"))
    ck.run_resumable(spark, input_dir, ckpt, str(tmp_path / "out"), "run1")
    assert [(x["lines"], x["success"], x["error"])
            for x in _committed_lineage(ckpt)] == [(5, 0, 0)]


def test_lineage_rows_raise_before_commit():
    """A part file without a task number, rows from a file outside the
    batch, or more rows written than a file's footer holds: no rows."""
    import pyarrow as pa

    def rows(src, pid, n):
        return ck.lineage_rows(
            pa.table({"src_file": [src], "partition_id": [pid],
                      "success": [3], "error": [1]}, schema=pa.schema([
                          ("src_file", pa.string()),
                          ("partition_id", pa.int32()),
                          ("success", pa.int64()), ("error", pa.int64())])),
            ["/in/a b.parquet"], [n], "r", "b", "route")

    assert rows("/in/a%20b.parquet", 2, 4).to_pylist()[0]["lines"] == 4
    with pytest.raises(ValueError, match="task number"):
        rows("/in/a%20b.parquet", None, 4)
    with pytest.raises(ValueError, match="not in the batch"):
        rows("/in/c.parquet", 2, 4)
    with pytest.raises(ValueError, match="footer holds 3"):
        rows("/in/a%20b.parquet", 2, 3)


def _spark_written_counts(spark, staging: str) -> list[tuple]:
    """The Spark ``groupBy`` that ``written_counts`` used to run over the
    written batch (two Spark jobs), kept as its reference: sorted rows."""
    out = spark.read.schema(
        "_src_file STRING, sink STRING, logtime BIGINT").parquet(staging)
    ok = F.col("sink").endswith("_etl").cast("long")
    task = F.regexp_extract(F.input_file_name(), r"/part-(\d+)-", 1)
    rows = (out.groupBy(F.col("_src_file").alias("src_file"),
                        task.try_cast("int").alias("partition_id"))
            .agg(F.sum(ok).alias("success"), F.sum(1 - ok).alias("error"),
                 F.max("logtime").alias("max_logtime")).collect())
    return sorted((tuple(r) for r in rows), key=repr)


def _written_counts_rows(staging: str) -> list[tuple]:
    tbl = ck.written_counts(staging)
    assert tbl.column_names == ["src_file", "partition_id", "success",
                                "error", "max_logtime"]
    return sorted((tuple(r.values()) for r in tbl.to_pylist()), key=repr)


def test_written_counts_matches_spark_groupby(spark, tmp_path, tx_files):
    """The driver-side pyarrow scan returns what the Spark groupBy over the
    same written batch returned, on one batch that has several tasks per
    file (split input), a failures-only file (NULL max_logtime), an input
    dir with a space (URL-encoded ``_src_file``) and Spark's ``_SUCCESS``
    and ``.crc`` sidecars in its staging dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in a")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        pq.write_table(pq.read_table(f),
                       os.path.join(input_dir, os.path.basename(f)),
                       row_group_size=250)
    tbl = pq.read_table(tx_files[0]).slice(0, 6)
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                  pa.array(["no grok match here"] * 6)),
                   os.path.join(input_dir, "zz-failures.parquet"))
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        r = ck.run_resumable(spark, input_dir, str(tmp_path / "ckpt"), out,
                             "run1")
    finally:
        spark.conf.set(key, prev)
    staging = os.path.join(out, f"batch={r['batch_id']}")
    sidecars = [f for _, _, fs in os.walk(staging) for f in fs
                if f == "_SUCCESS" or f.endswith(".crc")]
    assert "_SUCCESS" in sidecars and len(sidecars) > 1
    got = _written_counts_rows(staging)
    assert got == _spark_written_counts(spark, staging)
    tasks = {}
    for src, pid, _, _, _ in got:
        assert "%20" in src
        tasks.setdefault(src, set()).add(pid)
    assert max(len(t) for t in tasks.values()) > 1, "input was not split"
    assert [(ok, err, t) for src, _, ok, err, t in got
            if src.endswith("zz-failures.parquet")] == [(0, 6, None)]


def test_written_counts_of_batch_without_part_files(spark, tmp_path,
                                                    tx_files):
    """A batch that wrote no part file (all lines blank) reads as the empty
    typed table, as the Spark groupBy read it as no rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    tbl = pq.read_table(tx_files[0]).slice(0, 3)
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                  pa.array(["", " ", None])),
                   os.path.join(input_dir, "blank.parquet"))
    r = ck.run_resumable(spark, input_dir, str(tmp_path / "ckpt"), out,
                         "run1")
    staging = os.path.join(out, f"batch={r['batch_id']}")
    assert os.path.isdir(staging)
    assert _written_counts_rows(staging) == [] == \
        _spark_written_counts(spark, staging)
    assert ck.written_counts(staging).schema == pa.schema([
        ("src_file", pa.string()), ("partition_id", pa.int32()),
        ("success", pa.int64()), ("error", pa.int64()),
        ("max_logtime", pa.int64())])


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted by a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_runs_no_spark_job_after_the_write(spark, tmp_path, tx_files):
    """written_counts launches no Spark job, so a 3-file run_resumable
    launches 4: schema inference, the two broadcast builds of enrich and
    the fan-out write."""
    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:3]:
        shutil.copy(f, input_dir)
    res = {}
    n_run = _jobs_launched(spark, lambda: res.update(ck.run_resumable(
        spark, input_dir, str(tmp_path / "ckpt"), out, "run1")))
    staging = os.path.join(out, f"batch={res['batch_id']}")
    assert _jobs_launched(spark, lambda: ck.written_counts(staging)) == 0
    assert n_run == 4


def test_worker_daemon_rereads_a_zip_only_when_it_changed(tmp_path,
                                                          monkeypatch):
    """No Spark: with the daemon's zipimporter.invalidate_caches,
    importlib.invalidate_caches() leaves an unchanged archive's directory
    alone and re-reads a rewritten one, whose new member then imports."""
    import importlib
    import zipfile
    import zipimport

    from log_collector_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")

    def write(members):
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in members.items():
                z.writestr(name, src)

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    write({"zd_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_first").X == 1
        importlib.invalidate_caches()  # what the daemon does before forking
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads
        write({"zd_first.py": "X = 1\n", "zd_second.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zd_second").Y == 2
    finally:
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_run_the_patched_daemon(spark):
    """Workers fork from log_collector_spark.worker_daemon, so every task
    runs with its zipimporter.invalidate_caches."""
    patched = F.udf(lambda _: __import__("zipimport").zipimporter
                    .invalidate_caches.__module__)
    assert spark.range(1).select(patched("id")).first()[0] == \
        "log_collector_spark.worker_daemon"


def _sql_store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return (spark._jsparkSession.sharedState().statusStore(),
            spark._jvm.scala.jdk.javaapi.CollectionConverters)


def _next_execution_id(spark) -> int:
    """The id the next SQL execution gets. Reads no metrics: past
    ``spark.sql.ui.retainedExecutions`` the store drops the oldest
    executions on a background thread, and reading the metrics of one it
    just dropped raises."""
    store, conv = _sql_store(spark)
    return max((ui.executionId() + 1
                for ui in conv.asJava(store.executionsList())), default=0)


def _arrow_eval_output_rows(spark, since: int) -> int:
    """ArrowEvalPython output rows summed over the SQL executions with id
    >= ``since``, from Spark's SQL status store."""
    store, conv = _sql_store(spark)
    rows = 0
    for ui in conv.asJava(store.executionsList()):
        eid = ui.executionId()
        if eid < since:
            continue
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            if node.name().startswith("ArrowEvalPython"):
                for m in conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        rows += int(values.get(m.accumulatorId(), "0")
                                    .replace(",", ""))
    return rows


def test_run_resumable_parses_each_turn_once(spark, tmp_path, tx_files):
    """The parse UDF sees every input turn exactly once per run: the lineage
    is read from the written batch, not from a second run of the plan."""
    import pyarrow.parquet as pq

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        shutil.copy(f, input_dir)
    since = _next_execution_id(spark)
    r = ck.run_resumable(spark, input_dir, str(tmp_path / "ckpt"),
                         str(tmp_path / "out"), "run1")
    udf_rows = _arrow_eval_output_rows(spark, since)
    assert udf_rows == sum(pq.read_metadata(f).num_rows for f in r["files"])


def test_read_output_empty_has_real_schema(spark, tmp_path):
    """ADVICE round 2: the no-committed-batches frame must carry the real
    fan-out schema (not a one-column stub) so callers can select columns."""
    df = ck.read_output(spark, str(tmp_path / "nothing"),
                        str(tmp_path / "no_ckpt"))
    assert df.count() == 0
    cols = set(df.columns)
    assert "sink" in cols and {"conv_id", "turn_idx", "role"} <= cols
    assert df.columns[-1] == "sink"  # partition column reads back last
    df.filter(F.col("sink").isNotNull()).select("conv_id").count()


def test_filename_regex_filter_semantics():
    """SugoFileFilter.accept parity (S3): full regex match on the basename +
    lexicographic skip-before-lastFileName with equality accepted."""
    from log_collector_spark.sources.file_filter import accept
    assert accept("app.2024-01-02.log", r"app\..*\.log")
    assert not accept("app.2024-01-02.log.gz", r"app\..*\.log")  # fullmatch
    assert not accept("other.log", r"app\..*\.log")
    # skip-before: compareTo > 0 rejects, equality accepted
    assert not accept("app.2024-01-01.log", r"app\..*\.log",
                      "app.2024-01-02.log")
    assert accept("app.2024-01-02.log", r"app\..*\.log",
                  "app.2024-01-02.log")
    assert accept("app.2024-01-03.log", r"app\..*\.log",
                  "app.2024-01-02.log")
    assert accept("anything", None)  # no regex configured → all pass


def test_filename_regex_prunes_before_scan(spark, tmp_path, tx_files):
    """Excluded files must never be scanned: the lineage table (one row per
    scanned source file) shows only accepted files, and the excluded file's
    rows are absent from the output."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)
    for f in tx_files[:2]:
        shutil.copy(f, input_dir)
    # a decoy that would parse fine but must be pruned by name
    shutil.copy(tx_files[2], os.path.join(input_dir, "skipme-0002.parquet"))

    r = ck.run_resumable(spark, input_dir, ckpt, out, "run1",
                         filename_regex=r"part-\d+\.parquet")
    assert len(r["files"]) == 2
    lineage = spark.read.parquet(os.path.join(ckpt, "checkpoint"))
    scanned = {os.path.basename(x["src_file"])
               for x in lineage.select("src_file").distinct().collect()}
    assert scanned == {os.path.basename(f) for f in tx_files[:2]}
    n_expected = (pl.parse_stage(spark.read.parquet(*tx_files[:2]))
                  .filter(F.col("is_blank") == False)  # noqa: E712
                  .count())
    assert ck.read_output(spark, out).count() == n_expected

    # skip-before-checkpoint: last_file prunes lexicographically-earlier names
    r2 = ck.run_resumable(spark, input_dir, ckpt, out, "run2",
                          filename_regex=r".*\.parquet",
                          last_file="skipme-0000.parquet")
    assert [os.path.basename(f) for f in r2["files"]] == ["skipme-0002.parquet"]


def test_stream_pipeline_matches_batch_and_tracks_offsets(spark, tmp_path):
    from log_collector_spark.streaming import pipeline as sp

    input_dir = pl.transcripts_path(SF_DIR)
    ckpt = str(tmp_path / "sck")
    out = str(tmp_path / "sout")
    q = sp.start_pipeline_stream(spark, input_dir, ckpt, out)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 == _expected_routed_count(spark)

    # second run over the same directory: offsets in the checkpoint say
    # everything is processed — no new rows (S4/S7 resume semantics)
    q2 = sp.start_pipeline_stream(spark, input_dir, ckpt, out)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n1


def test_stream_processing_time_trigger_ingests_new_files(spark, tmp_path):
    """Trigger.ProcessingTime mode (the reference's scan loop,
    DefaultFileReader.java:107): a continuously-running query picks up files
    that arrive AFTER start, then stops cleanly."""
    from log_collector_spark.streaming import pipeline as sp

    src_files = sorted(
        os.path.join(pl.transcripts_path(SF_DIR), f)
        for f in os.listdir(pl.transcripts_path(SF_DIR))
        if f.endswith(".parquet"))
    input_dir = str(tmp_path / "tin")
    os.makedirs(input_dir)
    shutil.copy(src_files[0], input_dir)
    ckpt = str(tmp_path / "tck")
    out = str(tmp_path / "tout")
    q = sp.start_pipeline_stream(spark, input_dir, ckpt, out,
                                 available_now=False,
                                 processing_time="1 second")
    try:
        deadline = time.time() + 120
        n0 = None
        while time.time() < deadline:
            try:
                n0 = spark.read.parquet(out).count()
                if n0 > 0:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert n0 and n0 > 0, "first file never processed"
        # a NEW file arrives while the query is running
        shutil.copy(src_files[1], input_dir)
        while time.time() < deadline:
            n1 = spark.read.parquet(out).count()
            if n1 > n0:
                break
            time.sleep(1)
        assert spark.read.parquet(out).count() > n0, \
            "late-arriving file not ingested by the processing-time trigger"
    finally:
        q.stop()
        q.awaitTermination(60)


def test_stream_minute_buckets_watermarked(spark, tmp_path):
    from log_collector_spark.streaming import pipeline as sp

    input_dir = pl.transcripts_path(SF_DIR)
    ckpt = str(tmp_path / "wck")
    out = str(tmp_path / "wout")
    q = sp.start_minute_bucket_stream(spark, input_dir, ckpt, out)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() > 0
    # every emitted bucket matches the batch ground truth
    src = spark.read.parquet(input_dir)
    truth = (src.groupBy(F.window("ts", "1 minute").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_true"))
                .select(F.col("w.start").alias("bucket_start"),
                        F.col("n_true")))
    joined = got.join(truth, "bucket_start", "left")
    bad = joined.filter((F.col("n_true").isNull()) |
                        (F.col("n") != F.col("n_true"))).count()
    assert bad == 0


def test_streaming_multiline_stateful(spark, tmp_path):
    from log_collector_spark.operators.multiline import assemble
    from log_collector_spark.streaming.multiline import assemble_stream

    # three chunked line files (cross-batch record continuation: chunk
    # boundaries fall INSIDE records)
    rows = []
    for i in range(9):
        rows.append(("fA", i * 2, f"[rec] head{i}"))
        rows.append(("fA", i * 2 + 1, f" cont{i}"))
    in_dir = tmp_path / "mlin"
    in_dir.mkdir()
    for c in range(2):
        chunk = rows[c * 9:(c + 1) * 9]
        df = spark.createDataFrame(chunk, "file string, line_no long, text string")
        df.coalesce(1).write.parquet(str(in_dir / f"chunk{c}"))
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    src = (spark.readStream
           .schema("file string, line_no long, text string")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(in_dir) + "/chunk*"))
    recs = assemble_stream(src, r"\[.*")
    q = (recs.writeStream.outputMode("append").format("memory")
         .queryName("ml_out").option("checkpointLocation", str(tmp_path / "mlck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {r["record"] for r in spark.sql("select * from ml_out").collect()}

    batch_df = spark.createDataFrame(rows, "filename string, line_no long, text string")
    expected = {r["record"] for r in assemble(batch_df, r"\[.*").collect()}
    # streaming emits a record when the NEXT first-line arrives; the final
    # pending buffer awaits the timeout flush (reference EOF analog)
    assert got, "no records emitted across micro-batches"
    assert got <= expected
    assert len(got) >= len(expected) - 1


def test_stream_dedup_across_batches_and_restarts(spark, tmp_path):
    """Streaming exact dedup: duplicate fingerprints are dropped within a
    run AND across a restart (seen-set persists in the state store)."""
    from datetime import datetime
    from log_collector_spark.streaming import pipeline as sp

    in_dir = tmp_path / "din"
    in_dir.mkdir()
    ckpt = str(tmp_path / "dck")
    out = str(tmp_path / "dout")
    t = datetime(2023, 11, 15, 12, 0, 0)
    mk = lambda conv, idx, text: (conv, idx, "user", text, None, t)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    # file 1: one in-file duplicate pair + two unique rows
    spark.createDataFrame(
        [mk("c1", 0, "hello"), mk("c1", 0, "hello"),
         mk("c1", 1, "world"), mk("c2", 0, "hey")], schema) \
        .coalesce(1).write.parquet(str(in_dir / "f1"))
    q = sp.start_dedup_stream(spark, str(in_dir) + "/f*", ckpt, out)
    q.awaitTermination(300)
    got1 = spark.read.parquet(out)
    assert got1.count() == 3
    assert got1.select("fp").distinct().count() == 3

    # file 2 arrives later: a dup of a row emitted in run 1 + a fresh row
    spark.createDataFrame(
        [mk("c1", 1, "world"), mk("c3", 0, "fresh")], schema) \
        .coalesce(1).write.parquet(str(in_dir / "f2"))
    q2 = sp.start_dedup_stream(spark, str(in_dir) + "/f*", ckpt, out)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(out)
    assert got2.count() == 4  # only the fresh row was appended
    assert got2.filter(F.col("conv_id") == "c3").count() == 1
    assert got2.select("fp").distinct().count() == 4


def test_stream_session_windows_match_batch(spark, tmp_path):
    """Streaming session_window aggregation equals the batch session_window
    ground truth on the same input (every emitted session, exact bounds and
    counts) once availableNow drains."""
    from log_collector_spark.streaming import pipeline as sp

    input_dir = pl.transcripts_path(SF_DIR)
    ckpt = str(tmp_path / "sck")
    out = str(tmp_path / "sout")
    q = sp.start_session_window_stream(spark, input_dir, ckpt, out,
                                       gap="30 minutes")
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() > 0
    src = spark.read.parquet(input_dir)
    truth = (src.groupBy("conv_id",
                         F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_true"))
                .select("conv_id", F.col("w.start").alias("session_start"),
                        F.col("n_true")))
    joined = got.join(truth, ["conv_id", "session_start"], "left")
    bad = joined.filter((F.col("n_true").isNull()) |
                        (F.col("n_turns") != F.col("n_true"))).count()
    assert bad == 0


def test_iceberg_checkpoint_sql_emitters(spark):
    """The Iceberg checkpoint backend is jar-gated in this sandbox; pin the
    emitted SQL (the UPDATE keeps batch_id — the retraction-safety invariant
    — and the MERGE key makes commits idempotent)."""
    import pyarrow as pa

    from log_collector_spark.plans import checkpoint as cp

    assert cp.iceberg_available(spark) in (True, False)  # never raises
    ddl = cp.iceberg_create_checkpoint_sql()
    assert "USING iceberg" in ddl and "PARTITIONED BY (run_id)" in ddl
    up = cp.iceberg_recover_truncated_sql(["/a/x.log", "/b/it's.log"])
    assert up == ("UPDATE ckpt.checkpoint SET src_file = "
                  "concat('truncated://', src_file) "
                  "WHERE src_file IN ('/a/x.log', '/b/it''s.log')")
    mg = cp.iceberg_commit_batch_sql()
    assert "WHEN NOT MATCHED THEN INSERT *" in mg
    assert "t.run_id = s.run_id" in mg and "t.src_file = s.src_file" in mg
    # INSERT * takes the rows a commit writes: the DDL declares exactly the
    # lineage_rows columns, in order, with the same types
    decl = re.search(r"\((.*)\) USING", ddl).group(1).split(", ")
    written = pa.table({"src_file": ["/in/a.log"], "partition_id": [0],
                        "success": [1], "error": [0]})
    rows = spark.createDataFrame(cp.lineage_rows(
        written, ["/in/a.log", "/in/b.log"], [2, 0], "r1", "b1", "route"))
    assert [tuple(d.split(" ")) for d in decl] == [
        (f.name, f.dataType.simpleString().upper())
        for f in rows.schema.fields]


def test_stream_metered_pipeline_emits_kairos_batches(spark, tmp_path):
    """W7 end-to-end under foreachBatch: routed fan-out AND one KairosDB
    DTO batch per micro-batch — deltas across batches, tags/type per the
    reference DTOs, and the metric totals reconcile with the routed rows.
    The metrics come from the commit's lineage rows, so each micro-batch
    is parsed once."""
    import json

    import pyarrow.parquet as pq

    from log_collector_spark.operators import sinks
    from log_collector_spark.streaming import pipeline as sp

    input_dir = pl.transcripts_path(SF_DIR)
    ckpt = str(tmp_path / "mck")
    out = str(tmp_path / "mout")
    bodies: list[str] = []
    since = _next_execution_id(spark)
    q = sp.start_pipeline_stream(
        spark, input_dir, ckpt, out, on_commit=sinks.kairos_hook(
            post=bodies.append, clock=lambda: 1_700_000_000_000))
    q.awaitTermination(300)
    udf_rows = _arrow_eval_output_rows(spark, since)
    assert udf_rows == sum(pq.read_metadata(os.path.join(input_dir, f))
                           .num_rows for f in os.listdir(input_dir)
                           if f.endswith(".parquet"))

    assert spark.read.parquet(out).count() == _expected_routed_count(spark)
    assert bodies, "no metric batch posted"
    metrics = [m for b in bodies for m in json.loads(b)]
    for m in metrics:
        assert m["type"] == "long"
        assert set(m["tags"]) == {"from", "host"}
        assert m["name"] in ("collector.line.read.success",
                             "collector.line.read.error")
    ok_total = sum(m["value"] for m in metrics
                   if m["name"].endswith("success"))
    err_total = sum(m["value"] for m in metrics
                    if m["name"].endswith("error"))
    # success/error as the reference counts them: blank lines are neither
    df = pl.parse_stage(spark.read.parquet(input_dir))
    n_ok = df.filter(agg_ops.success_expr()).count()
    n_err = df.filter(agg_ops.error_expr()).count()
    assert ok_total == n_ok and err_total == n_err

    # a second availableNow run sees no new files -> no new metric batch
    # grows the totals (delta semantics: nothing changed, deltas are 0)
    bodies2: list[str] = []
    q2 = sp.start_pipeline_stream(
        spark, input_dir, ckpt, out, on_commit=sinks.kairos_hook(
            post=bodies2.append, clock=lambda: 1_700_000_060_000))
    q2.awaitTermination(300)
    extra = sum(m["value"] for b in bodies2 for m in json.loads(b))
    assert extra == 0


def test_stream_crash_replay_is_exactly_once(spark, tmp_path, tx_files,
                                            monkeypatch):
    """Both stream forms (plain, KairosDB hook), killed right after the sink
    write or right after the lineage append, then restarted on the same
    checkpointLocation: the output holds every non-blank input row once and
    each batch id has one lineage row set. The hook counts each committed
    row once; a batch whose commit raced the crash is not re-sent."""
    import json

    from log_collector_spark.operators import route as route_ops
    from log_collector_spark.operators import sinks
    from log_collector_spark.streaming import pipeline as sp

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for f in tx_files[:3]:
        shutil.copy(f, input_dir)
    n_rows = (pl.parse_stage(spark.read.parquet(input_dir))
              .filter(~F.col("is_blank")).count())
    write, append = route_ops.fanout_write, ck._append

    def crash_after_write(*a, **kw):
        write(*a, **kw)
        raise _Crash("after the sink write")

    def crash_after_append(path, tbl):
        append(path, tbl)
        if path.endswith(ck.CKPT_TABLE):
            raise _Crash("after the lineage append")

    for i, (hooked, owner, attr, crash, sent) in enumerate((
            (False, route_ops, "fanout_write", crash_after_write, 0),
            (False, ck, "_append", crash_after_append, 0),
            (True, route_ops, "fanout_write", crash_after_write, n_rows),
            (True, ck, "_append", crash_after_append, 0))):
        ckpt, out = str(tmp_path / f"ck{i}"), str(tmp_path / f"out{i}")
        bodies: list[str] = []
        hook = sinks.kairos_hook(post=bodies.append) if hooked else None
        monkeypatch.setattr(owner, attr, crash)
        q = sp.start_pipeline_stream(spark, input_dir, ckpt, out,
                                     on_commit=hook)
        with pytest.raises(Exception, match="after the"):
            q.awaitTermination(300)
        monkeypatch.undo()
        sp.start_pipeline_stream(spark, input_dir, ckpt, out,
                                 on_commit=hook).awaitTermination(300)
        assert spark.read.parquet(out).count() == n_rows, (i, n_rows)
        lineage = _committed_lineage(os.path.join(ckpt, sp.LINEAGE_DIR))
        keys = [(x["batch_id"], x["src_file"], x["partition_id"])
                for x in lineage]
        assert len(keys) == len(set(keys)), i
        assert sum(x["success"] + x["error"] for x in lineage) == n_rows
        assert sum(m["value"] for b in bodies for m in json.loads(b)) == \
            sent, i


def test_stream_stream_tool_pair_join_matches_batch(spark, tmp_path):
    """Stream-stream interval self-join (call ↔ result) equals the same
    join run in batch over the identical input."""
    from log_collector_spark.streaming import pipeline as sp

    input_dir = pl.transcripts_path(SF_DIR)
    ckpt = str(tmp_path / "jck")
    out = str(tmp_path / "jout")
    q = sp.start_tool_pair_join_stream(spark, input_dir, ckpt, out)
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    src = spark.read.parquet(input_dir)
    calls = (src.filter((F.col("role") == "assistant")
                        & F.col("tool").isNotNull())
                .select(F.col("conv_id").alias("c_conv"),
                        F.col("tool").alias("c_tool"),
                        F.col("turn_idx").alias("call_turn"),
                        F.col("ts").alias("call_ts")))
    results = (src.filter(F.col("role") == "tool")
                  .select(F.col("conv_id").alias("r_conv"),
                          F.col("tool").alias("r_tool"),
                          F.col("turn_idx").alias("result_turn"),
                          F.col("ts").alias("result_ts")))
    want = calls.join(
        results,
        F.expr("""
            c_conv = r_conv AND c_tool = r_tool
            AND result_ts >= call_ts
            AND result_ts <= call_ts + INTERVAL 10 minutes
            AND result_turn > call_turn
        """))
    assert got.count() == want.count() > 0
    g = {tuple(r) for r in got.select(
        "conv_id", "tool", "call_turn", "result_turn").collect()}
    w = {(r["c_conv"], r["c_tool"], r["call_turn"], r["result_turn"])
         for r in want.collect()}
    assert g == w


def test_stream_cms_cells_merge_equals_batch(spark, tmp_path):
    """Mergeability made executable: the cell-wise SUM of per-micro-batch
    count-min partials must equal the one-shot batch sketch EXACTLY —
    batch boundaries (forced to 1 file per trigger) must be invisible."""
    from log_collector_spark.streaming import pipeline as sp
    from log_collector_spark.textops.analysis import cms_cells
    from pyspark.sql import functions as F

    input_dir = pl.transcripts_path(SF_DIR)
    out = str(tmp_path / "cms_out")
    q = sp.start_cms_stream(spark, input_dir, str(tmp_path / "cms_ck"),
                            out, max_files_per_trigger=1)
    q.awaitTermination(300)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() > 1  # real merge
    merged = (partials.groupBy("row", "col")
              .agg(F.sum("cell").cast("long").alias("cell")))

    batch = cms_cells(spark.read.parquet(input_dir).filter(
        F.coalesce(F.col("text"), F.lit("")) != ""))
    diff = (merged.join(batch.withColumnRenamed("cell", "bcell"),
                        ["row", "col"], "full")
            .filter((F.col("cell").isNull()) | (F.col("bcell").isNull())
                    | (F.col("cell") != F.col("bcell"))))
    assert diff.count() == 0


def test_compact_checkpoint_preserves_resume_and_truncation(
        spark, tmp_path, tx_files):
    """Compaction must change FILE COUNTS only: committed sets identical,
    resume a no-op, truncation detection still fires, tombstoned batches
    still protect their output, and re-compaction is idempotent."""
    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(input_dir)

    # three separate commits -> three appended files per metadata table
    for i, f in enumerate(tx_files[:3]):
        shutil.copy(f, input_dir)
        ck.run_resumable(spark, input_dir, ckpt, out, f"run{i}")
    before_files = ck.committed_files(spark, ckpt)
    before_batches = ck.committed_batches(spark, ckpt)

    rep = ck.compact_checkpoint(spark, ckpt)
    assert rep["checkpoint"]["files_before"] >= 3
    assert rep["checkpoint"]["files_after"] == 1
    assert rep["filestate"]["files_after"] == 1
    assert ck.committed_files(spark, ckpt) == before_files
    assert ck.committed_batches(spark, ckpt) == before_batches

    # resume over the same input: nothing pending
    r = ck.run_resumable(spark, input_dir, ckpt, out, "post")
    assert r["files"] == []

    # truncation detection still works on the compacted filestate
    victim = os.path.join(input_dir, os.path.basename(tx_files[0]))
    size = os.path.getsize(victim)
    with open(victim, "r+b") as fh:
        fh.truncate(size // 2)
    assert ck.truncated_files(spark, ckpt) == [victim]

    # idempotent: second compaction is a no-op rewrite
    rep2 = ck.compact_checkpoint(spark, ckpt)
    assert rep2["checkpoint"]["files_before"] == 1
    assert ck.committed_batches(spark, ckpt) == before_batches


def test_stream_hll_registers_merge_equals_batch(spark, tmp_path):
    """The MAX-merge counterpart of the CMS test: register-wise MAX of
    per-micro-batch HLL partials == the one-shot batch registers exactly
    (and MAX is idempotent, so replayed batches cannot corrupt it)."""
    from log_collector_spark.streaming import pipeline as sp
    from pyspark.sql import functions as F

    input_dir = pl.transcripts_path(SF_DIR)
    out = str(tmp_path / "hll_out")
    q = sp.start_hll_stream(spark, input_dir, str(tmp_path / "hll_ck"),
                            out, max_files_per_trigger=1)
    q.awaitTermination(300)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() > 1
    merged = (partials.groupBy("hour_idx", "idx")
              .agg(F.max("m_reg").alias("m_reg")))
    batch = sp.transcript_hll_registers(
        spark.read.parquet(input_dir).filter(
            F.coalesce(F.col("text"), F.lit("")) != ""))
    diff = (merged.join(batch.withColumnRenamed("m_reg", "b_reg"),
                        ["hour_idx", "idx"], "full")
            .filter((F.col("m_reg").isNull()) | (F.col("b_reg").isNull())
                    | (F.col("m_reg") != F.col("b_reg"))))
    assert diff.count() == 0


def _write_day_slices(spark, tmp_path) -> str:
    """Slice the sf transcript fixture into per-day parquet files written
    in ascending mtime order — the event-time-ordered arrival shape real
    log files have. The raw fixture files EACH span the whole week, so
    feeding them one-per-trigger makes the watermark leap to the end after
    batch 0 and every later file's rows are (correctly) dropped as late
    data; watermark-frontier tests need ordered arrival to be meaningful."""
    import datetime as dt
    import glob as _glob

    raw = spark.read.parquet(pl.transcripts_path(SF_DIR))
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    input_dir = str(tmp_path / "tin")
    os.makedirs(input_dir)
    day, i = lo.date(), 0
    while day <= hi.date():
        sl = raw.filter(F.to_date("ts") == F.lit(day.isoformat()))
        tmp_out = str(tmp_path / f"slice{i}")
        sl.coalesce(1).write.parquet(tmp_out)
        part = _glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"slice_{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        day += dt.timedelta(days=1)
        i += 1
    return input_dir


def _final_watermark(q):
    """The event-time watermark the query's LAST batch ran with (UTC,
    tz-naive to match collected timestamps under the UTC session)."""
    import datetime as dt

    wm_str = q.lastProgress["eventTime"]["watermark"]
    return (dt.datetime.fromisoformat(wm_str.replace("Z", "+00:00"))
            .replace(tzinfo=None))


def test_stream_stream_tool_timeout_left_outer(spark, tmp_path):
    """LEFT-OUTER stream-stream join: unanswered tool calls streamed ==
    the batch anti-join, restricted to calls whose timeout frontier
    (call_ts + max_lag) the final watermark actually passed."""
    import datetime as dt

    from log_collector_spark.streaming import pipeline as sp

    input_dir = _write_day_slices(spark, tmp_path)
    ckpt = str(tmp_path / "tck")
    out = str(tmp_path / "tout")
    q = sp.start_tool_timeout_stream(spark, input_dir, ckpt, out)
    q.awaitTermination(600)
    got = spark.read.parquet(out)

    src = spark.read.parquet(input_dir)
    calls = (src.filter((F.col("role") == "assistant")
                        & F.col("tool").isNotNull())
                .select(F.col("conv_id").alias("c_conv"),
                        F.col("tool").alias("c_tool"),
                        F.col("turn_idx").alias("call_turn"),
                        F.col("ts").alias("call_ts")))
    results = (src.filter(F.col("role") == "tool")
                  .select(F.col("conv_id").alias("r_conv"),
                          F.col("tool").alias("r_tool"),
                          F.col("turn_idx").alias("result_turn"),
                          F.col("ts").alias("result_ts")))
    matched = calls.join(
        results,
        F.expr("""
            c_conv = r_conv AND c_tool = r_tool
            AND result_ts >= call_ts
            AND result_ts <= call_ts + INTERVAL 2 minutes
        """), "left_semi")
    unanswered = calls.join(matched, ["c_conv", "c_tool", "call_turn"],
                            "left_anti")
    # a call is provably emitted once the watermark the LAST batch ran
    # with passed its timeout frontier (call_ts + max_lag).  Recomputing
    # that watermark from the data is fragile (it is the MIN across both
    # input sides and lags one micro-batch), so read it from the query's
    # own final progress instead.
    frontier = _final_watermark(q) - dt.timedelta(minutes=2)
    want = {(r["c_conv"], r["c_tool"], r["call_turn"])
            for r in unanswered.filter(
                F.col("call_ts") < F.lit(frontier)).collect()}
    g = {(r["conv_id"], r["tool"], r["call_turn"])
         for r in got.collect()}
    assert len(g) > 0
    # streamed set must contain every provably-timed-out call, and may
    # additionally hold calls in the one-trigger slack around the frontier
    assert want <= g
    superset = {(r["c_conv"], r["c_tool"], r["call_turn"])
                for r in unanswered.collect()}
    assert g <= superset


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


class _FakeValueState:
    def __init__(self):
        self.v = None

    def get(self):
        return self.v

    def update(self, v):
        self.v = tuple(v)

    def clear(self):
        self.v = None

    def exists(self):
        return self.v is not None


class _FakeHandle:
    """Minimal StatefulProcessorHandle double: one ValueState + a timer
    registry, enough to drive the sessionizer kernel without the JVM."""

    def __init__(self):
        self.states = {}
        self.timers = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def registerTimer(self, ms):
        self.timers.add(ms)

    def deleteTimer(self, ms):
        self.timers.discard(ms)


class _FakeExpired:
    def __init__(self, ms):
        self.ms = ms

    def getExpiryTimeInMs(self):
        return self.ms


def _mk_batch(ts_ms, tools):
    import pandas as pd
    return pd.DataFrame({
        "ts": pd.to_datetime(ts_ms, unit="ms"),
        "tool": tools,
    })


def test_sessionizer_kernel_gap_splits_and_timers():
    """Pure-Python kernel check (no JVM): intra-batch gap splits emit
    closed sessions immediately; the trailing open session is held in
    state with a timer at last_ts + gap; a new batch re-opens and
    re-arms; the timer close emits the final session and clears state."""
    from log_collector_spark.streaming.conversation_state import (
        ConversationSessionizer)

    p = ConversationSessionizer(gap_ms=120_000)
    h = _FakeHandle()
    p.init(h)
    key = ("conv_x",)

    # batch 1: three turns, a 10-minute hole after the second →
    # one closed session (2 turns, 1 tool call) emitted inline
    b1 = _mk_batch([0, 60_000, 660_000], [None, "bash", None])
    out1 = list(p.handleInputRows(key, iter([b1]), None))
    assert len(out1) == 1
    r = out1[0].iloc[0]
    assert (r["n_turns"], r["n_tool_calls"], r["first_ms"], r["last_ms"],
            r["duration_ms"]) == (2, 1, 0, 60_000, 60_000)
    # trailing open session (1 turn) in state, timer armed at +gap
    assert h.states["open_session"].get() == (1, 0, 660_000, 660_000, 780_000)
    assert h.timers == {780_000}

    # batch 2: a turn 30s later continues the open session; the old
    # timer must be deleted and a new one armed
    b2 = _mk_batch([690_000], ["edit"])
    out2 = list(p.handleInputRows(key, iter([b2]), None))
    assert out2 == []
    assert h.states["open_session"].get() == (2, 1, 660_000, 690_000, 810_000)
    assert h.timers == {810_000}

    # timer fires → final session emitted, state cleared
    out3 = list(p.handleExpiredTimer(key, None, _FakeExpired(810_000)))
    assert len(out3) == 1
    r3 = out3[0].iloc[0]
    assert (r3["n_turns"], r3["n_tool_calls"], r3["first_ms"],
            r3["last_ms"]) == (2, 1, 660_000, 690_000)
    assert h.states["open_session"].get() is None

    # stale timer (state already cleared, or expiry != armed) → no emit
    assert list(p.handleExpiredTimer(key, None, _FakeExpired(810_000))) == []


def test_sessionizer_kernel_stale_timer_guard():
    """A timer whose expiry is NOT the armed one (conversation re-opened
    with a later frontier before the old timer fired) must not close the
    session."""
    from log_collector_spark.streaming.conversation_state import (
        ConversationSessionizer)

    p = ConversationSessionizer(gap_ms=120_000)
    h = _FakeHandle()
    p.init(h)
    key = ("conv_y",)
    list(p.handleInputRows(key, iter([_mk_batch([0], [None])]), None))
    list(p.handleInputRows(key, iter([_mk_batch([60_000], [None])]), None))
    assert list(p.handleExpiredTimer(key, None, _FakeExpired(120_000))) == []
    assert h.states["open_session"].get() == (2, 0, 0, 60_000, 180_000)


def test_sessionizer_kernel_drained_equals_batch_oracle(spark):
    """Drive the sessionizer kernel through per-day micro-batches in pure
    Python (grouped by conv, timers fired on drain) and require EXACT set
    equality with the batch window sessionization — the full determinism
    contract, minus only Spark's wire transport."""
    import pandas as pd

    from log_collector_spark.streaming.conversation_state import (
        ConversationSessionizer, batch_sessionize_oracle)

    raw = (spark.read.parquet(pl.transcripts_path(SF_DIR))
           .select("conv_id", "ts", "tool").toPandas()
           .sort_values(["ts"]))
    # the fake handle holds ONE state cell; emulate Spark's per-key state
    # by swapping each key's (state, timer) in before its call
    p2 = ConversationSessionizer(gap_ms=120_000)
    h2 = _FakeHandle()
    p2.init(h2)
    state_by_key, timer_by_key, emitted = {}, {}, []
    for _, day_rows in raw.groupby(raw["ts"].dt.date, sort=True):
        for conv, g in day_rows.groupby("conv_id", sort=False):
            h2.states["open_session"].v = state_by_key.get(conv)
            h2.timers = ({timer_by_key[conv]} if conv in timer_by_key
                         else set())
            emitted.extend(p2.handleInputRows(
                (conv,), iter([g[["ts", "tool"]]]), None))
            state_by_key[conv] = h2.states["open_session"].v
            timer_by_key[conv] = state_by_key[conv][4]
    # drain: fire every armed timer
    for conv, tm in timer_by_key.items():
        h2.states["open_session"].v = state_by_key.get(conv)
        out = list(p2.handleExpiredTimer((conv,), None, _FakeExpired(tm)))
        emitted.extend(out)

    got = pd.concat(emitted, ignore_index=True)
    want = batch_sessionize_oracle(
        spark, pl.transcripts_path(SF_DIR)).toPandas()
    key = ["conv_id", "n_turns", "n_tool_calls",
           "first_ms", "last_ms", "duration_ms"]
    gset = {tuple(r) for r in got[key].itertuples(index=False)}
    wset = {tuple(r) for r in want[key].itertuples(index=False)}
    assert len(got) == len(want)
    assert gset == wset


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas's state API client needs google.protobuf, "
    "not shipped in this container (pip install protobuf to enable)"))
def test_transform_with_state_sessionizer_matches_batch(spark, tmp_path):
    """transformWithStateInPandas gap-rule sessionizer == batch window
    sessionization, restricted to sessions whose close frontier
    (last_ts + gap) the final watermark passed. Exercises typed keyed
    state, event-time timers, intra-batch session splits, and the
    RocksDB state store across micro-batches."""
    import datetime as dt

    from log_collector_spark.streaming import conversation_state as cs

    input_dir = _write_day_slices(spark, tmp_path)
    ckpt = str(tmp_path / "sck")
    out = str(tmp_path / "sout")
    q = cs.start_conversation_sessionizer_stream(spark, input_dir, ckpt, out)
    q.awaitTermination(600)
    got = spark.read.parquet(out)

    sessions = cs.batch_sessionize_oracle(spark, input_dir).cache()
    key = ("conv_id", "n_turns", "n_tool_calls",
           "first_ms", "last_ms", "duration_ms")
    frontier = _final_watermark(q)
    frontier_ms = int(frontier.replace(
        tzinfo=dt.timezone.utc).timestamp() * 1000)
    want = {tuple(r[k] for k in key)
            for r in sessions.filter(
                F.col("last_ms") + 120_000 < frontier_ms).collect()}
    g = {tuple(r[k] for k in key) for r in got.collect()}
    allsess = {tuple(r[k] for k in key) for r in sessions.collect()}
    assert len(g) > 0
    assert want <= g
    assert g <= allsess
    # every emitted (conv, first_ms) is emitted exactly once
    assert got.count() == got.select("conv_id", "first_ms").distinct().count()


def test_sft_builder_kernel_matches_batch_across_splits(spark):
    """The streaming SFT builder (fake handle, no JVM state) must emit
    exactly the batch sft_examples rows even when a conversation is
    split mid-stream across micro-batches."""
    import pandas as pd

    from log_collector_spark.operators import tx_stats as TX
    from log_collector_spark.streaming.conversation_state import (
        SftExampleBuilder)

    turns = [  # (turn_idx, role, tokens)
        (1, "user", 10), (2, "assistant", 20), (3, "tool", 5),
        (4, "assistant", 40), (5, "user", 7), (6, "assistant", 30),
    ]
    budget = 70

    p = SftExampleBuilder(budget=budget)
    h = _FakeHandle()
    p.init(h)
    key = ("conv_s",)

    def _b(rows):
        return pd.DataFrame(rows, columns=["turn_idx", "role", "tok"])

    emitted = []
    # batch 1 carries turns 1-2, batch 2 (shuffled within) carries 3-6
    emitted += list(p.handleInputRows(key, iter([_b(turns[:2])]), None))
    emitted += list(p.handleInputRows(
        key, iter([_b(turns[4:]), _b(turns[2:4])]), None))
    got = pd.concat(emitted).sort_values("turn_idx")

    routed = (spark.createDataFrame(
        [("conv_s", i, r, '{"tokens":%d}' % t) for i, r, t in turns],
        "conv_id string, turn_idx int, role string, payload string")
        .withColumn("parse_ok", F.lit(True))
        .withColumn("is_blank", F.lit(False))
        .withColumn("is_oversize", F.lit(False)))
    want = (TX.sft_examples(routed, budget=budget)
            .orderBy("turn_idx").toPandas())

    assert list(got["turn_idx"]) == list(want["turn_idx"])
    for col in ("prompt_turns", "prompt_tokens", "completion_tokens",
                "fits_budget"):
        assert list(got[col]) == list(want[col]), col
    # state carries the FULL prefix for any later batch
    assert h.states["prompt_acc"].get() == (6, 112)

# ---------------------------------------------------------------------------
# Streaming token-bucket limiter (streaming/rate_limit.py) — the
# transformWithState twin operators/behavior.token_bucket promises
# ---------------------------------------------------------------------------


def test_token_bucket_kernel_refill_clamp_and_reject():
    """Handcrafted sequence (cap 5, 1 token/min): spend to empty, reject
    when dry, fractional refill, clamp at cap after a long gap — and the
    batch split must not change any of it."""
    import pandas as pd

    from log_collector_spark.streaming.rate_limit import TokenBucketLimiter

    # 6 events 1s apart (refill 16 milli-tokens/s): 5 allowed, 6th dry;
    # then a 10-minute hole refills past cap → clamped, allowed again
    us = [0, 1, 2, 3, 4, 5, 605]
    rows = pd.DataFrame({"us": [u * 1_000_000 for u in us],
                         "event_id": range(len(us))})

    def drive(splits):
        p = TokenBucketLimiter()
        h = _FakeHandle()
        p.init(h)
        out = []
        for lo, hi in splits:
            out += list(p.handleInputRows(
                ("7",), iter([rows.iloc[lo:hi]]), None))
        return pd.concat(out, ignore_index=True)

    one = drive([(0, 7)])
    r = one.iloc[-1]
    assert (r["n_events"], r["n_allowed"], r["n_rejected"]) == (7, 6, 1)
    # after the clamp-refill the 7th spend leaves cap-1000=4000 milli
    assert r["tokens_milli"] == 4000
    # same final state under any micro-batch split (incl. mid-burst)
    split = drive([(0, 4), (4, 6), (6, 7)])
    assert tuple(split.iloc[-1]) == tuple(one.iloc[-1])
    # running rows are cumulative: n_events strictly increases
    assert list(split["n_events"]) == [4, 6, 7]


def test_token_bucket_kernel_matches_batch_across_splits(spark):
    """Drive the streaming kernel over the real events fixture in three
    time-ordered micro-batches (fake handle, per-user state swapped in
    like Spark's keyed store) and require the final per-user row to
    EQUAL the batch replay — the full determinism contract, minus only
    the wire transport."""
    import pandas as pd

    from log_collector_spark.operators.behavior import token_bucket
    from log_collector_spark.streaming.rate_limit import TokenBucketLimiter

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    raw = (ev.select(F.col("user_id").cast("long").alias("user_id"),
                     F.expr("unix_micros(cast(ts as timestamp))")
                      .cast("long").alias("us"),
                     F.col("event_id").cast("long").alias("event_id"))
             .toPandas().sort_values(["us", "event_id"]))
    cuts = raw["us"].quantile([0.33, 0.66]).astype("int64").tolist()
    batches = [raw[raw["us"] <= cuts[0]],
               raw[(raw["us"] > cuts[0]) & (raw["us"] <= cuts[1])],
               raw[raw["us"] > cuts[1]]]

    p = TokenBucketLimiter()
    h = _FakeHandle()
    p.init(h)
    state_by_user, last_row = {}, {}
    for b in batches:
        for uid, g in b.groupby("user_id", sort=False):
            h.states["bucket"].v = state_by_user.get(uid)
            out = list(p.handleInputRows(
                (uid,), iter([g[["us", "event_id"]]]), None))
            state_by_user[uid] = h.states["bucket"].v
            last_row[uid] = out[-1].iloc[0]

    want = token_bucket(ev).toPandas().set_index("user_id")
    assert set(last_row) == set(want.index)
    for uid, r in last_row.items():
        w = want.loc[uid]
        assert (r["n_events"], r["n_allowed"], r["n_rejected"],
                r["tokens_milli"]) == (
            w["n_events"], w["n_allowed"], w["n_rejected"],
            w["tokens_milli_final"]), uid


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas's state API client needs google.protobuf, "
    "not shipped in this container (pip install protobuf to enable)"))
def test_transform_with_state_token_bucket_matches_batch(spark, tmp_path):
    """Live transformWithStateInPandas run (when protobuf exists): the
    latest appended row per user equals the batch replay."""
    from log_collector_spark.operators.behavior import token_bucket
    from log_collector_spark.streaming import rate_limit as rl

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    input_dir = str(tmp_path / "evin")
    (ev.select("event_id", "user_id", "ts")
       .repartitionByRange(3, "ts").write.parquet(input_dir))
    ckpt, out = str(tmp_path / "tbck"), str(tmp_path / "tbout")
    q = rl.start_token_bucket_stream(spark, input_dir, ckpt, out,
                                     max_files_per_trigger=None)
    q.awaitTermination(600)
    got = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    latest = (got.withColumn("rn", F.row_number().over(w))
                 .filter("rn = 1").drop("rn"))
    want = token_bucket(ev).withColumnRenamed("tokens_milli_final",
                                              "tokens_milli")
    assert latest.exceptAll(want).count() == 0
    assert want.exceptAll(latest).count() == 0
