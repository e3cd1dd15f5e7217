"""Registry-wide driver-contract audit: every queries() entry must (a)
build a plan, (b) emit only hash-stable dtypes (the driver's value-hash
is type-sensitive: BIGINT/VARCHAR/BOOLEAN/DECIMAL only — raw doubles are
the one family that has ever failed a driver hash), and (c) carry a
matching oracle_sql() entry. Schema-only: plans are analyzed, never
executed; the schema and tie-determinism audits share ONE build pass
over the registry (the `built` fixture)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
ALLOWED = {"bigint", "int", "smallint", "tinyint", "string", "boolean",
           "decimal"}


@pytest.fixture(scope="module")
def built(spark):
    """Every registered plan built once at sf0.001: name -> DataFrame, or
    the exception its builder raised."""
    import __spark_entry__ as E

    out = {}
    for name, fn in sorted(E.queries().items()):
        try:
            out[name] = fn(spark, SF)
        except Exception as ex:      # noqa: BLE001 — report, don't abort
            out[name] = ex
    return out


def test_every_query_builds_with_hash_stable_schema_and_oracle(built):
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    bad_types, missing_oracle, broken = [], [], []
    for name, df in built.items():
        if isinstance(df, Exception):
            broken.append((name, str(df)[:200]))
            continue
        for f, t in df.dtypes:
            if t.split("(")[0] not in ALLOWED:
                bad_types.append((name, f, t))
        if name not in oracles:
            missing_oracle.append(name)
    assert not broken, broken
    assert not bad_types, bad_types
    assert not missing_oracle, missing_oracle


def test_every_declaring_module_is_listed():
    """records() imports registry.MODULES; a module that declares queries
    but is missing from that list would silently drop them."""
    import glob
    import re

    from log_collector_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    declaring = set()
    for path in glob.glob(os.path.join(root, "log_collector_spark", "**",
                                       "*.py"), recursive=True):
        if re.search(r"^register\(", open(path).read(), re.M):
            rel = os.path.relpath(path, root)[:-len(".py")]
            declaring.add(rel.replace(os.sep, "."))
    assert declaring == set(registry.MODULES)


def test_every_oracle_has_a_query(spark):
    import __spark_entry__ as E

    extra = set(E.oracle_sql()) - set(E.queries())
    assert not extra, extra


_TIE_PRONE = __import__("re").compile(
    r"row_number|\brank\b|dense_rank|ntile|GlobalLimit|LocalLimit|first\(|"
    r"last\(|any_value|percent_rank|monotonically_increasing_id|"
    r"spark_partition_id|rand\(")


def test_tie_prone_queries_are_value_deterministic(spark, built):
    """The r3 driver-hash failures' enabling condition was value
    NON-determinism in tie-prone operators (rank/limit picks under an
    under-specified ORDER BY) — a property no schema check sees. This
    audit executes every query whose optimized plan contains a tie-prone
    node TWICE under different shuffle partitioning (which perturbs
    merge order and therefore tie resolution) and requires identical
    sorted row multisets. Pure aggregates over integer arithmetic are
    deterministic by construction and are skipped to keep the sweep
    fast. (The VERDICT r4 item asked for a mandatory top-level Sort;
    for the O(N)-output queries that would be a genuine scale
    anti-pattern — the driver compare sorts rows, so what must hold is
    value determinism, asserted here directly.)"""
    import __spark_entry__ as E

    qs = E.queries()
    prone = []
    for name, df in built.items():
        if isinstance(df, Exception):
            raise df
        if _TIE_PRONE.search(df._jdf.queryExecution().optimizedPlan()
                             .toString()):
            prone.append(name)
    assert len(prone) > 50, "tie-prone detector regressed"

    def run(name, shuffle):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
        try:
            rows = [tuple(r) for r in qs[name](spark, SF).collect()]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        return sorted(rows, key=lambda t: tuple(
            (x is None, str(x)) for x in t))

    diverged = []
    for name in prone:
        if run(name, 4) != run(name, 7):
            diverged.append(name)
    assert not diverged, diverged


def test_every_oracle_is_nonvacuous_at_driver_sf():
    """Anti-vacuity (generalizes the ADVICE-r3 keyword_search fix): an
    oracle that returns ZERO rows is comparing nothing — the driver
    records a green match on empty vs empty and the operator is silently
    untested. Every oracle must produce at least one row at sf0.01 —
    the fixture the driver actually compares on (three highly-selective
    TPC-H-shaped queries legitimately match nothing on the 10×-smaller
    sf0.001 slice, so asserting there would test the fixture, not the
    oracle). DuckDB-only: cheap, no JVM."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join("/root/testdata/sf0.01", f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    vacuous, broken = [], []
    for name, sql in sorted(E.oracle_sql().items()):
        try:
            n = len(con.execute(sql).fetchmany(1))
        except Exception as ex:  # noqa: BLE001 — report, don't abort
            broken.append((name, str(ex)[:200]))
            continue
        if n == 0:
            vacuous.append(name)
    assert not broken, broken
    assert not vacuous, vacuous
