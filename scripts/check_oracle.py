#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each queries()[name]
via Spark AND oracle_sql()[name] via DuckDB on the same sf tables, compare
row count + schema-insensitive sorted values.

Usage: python scripts/check_oracle.py [query ...]   (default: all)
       SF_DIR=/root/testdata/sf0.01 python scripts/check_oracle.py

Spark runs on ``local[N]`` with N the cores the process may use (the
session default). If the Spark JVM dies mid-run, the script stops with
exit code 2, naming the query that was running and how many were not run.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime as dt
    from decimal import Decimal
    if v is None:
        return None
    if isinstance(v, Decimal):
        # Exact compare — NEVER float(v): a DECIMAL(38,10) carries ~19
        # significant digits vs float64's ~16, so the float path was blind
        # to exactly the low-order divergence the driver hash catches
        # (VERDICT r3 item 2). normalize() makes 1.20 == 1.2000.
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (dt.datetime,)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def canon_spark_type(dt):
    """Canonical type label used for the typed compare (mirrors the driver's
    value-hash sensitivity: integer family collapses, but decimal-vs-integer
    — e.g. DuckDB HUGEINT from an uncast SUM — is a mismatch)."""
    from pyspark.sql import types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return f"list<{canon_spark_type(dt.elementType)}>"
    return dt.simpleString()


def canon_arrow_type(t):
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "int"
    if pt.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pt.is_string(t) or pt.is_large_string(t):
        return "string"
    if pt.is_boolean(t):
        return "boolean"
    if pt.is_floating(t):
        return "double"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_list(t) or pt.is_large_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    return str(t)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def main() -> int:
    import duckdb
    from py4j.protocol import Py4JNetworkError

    import __spark_entry__ as entrymod
    from log_collector_spark.session import get_spark

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    wanted = sys.argv[1:]
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark(app_name="check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = 0
    names = [n for n in qs if not wanted or n in wanted]
    for i, name in enumerate(names):
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: canon_spark_type(f.dataType) for f in sdf.schema}
            srows = [tuple(r) for r in sdf.collect()]
        except (Py4JNetworkError, ConnectionError) as e:
            print(f"[ABORT] {name}: Spark JVM unreachable ({e}); "
                  f"{len(names) - i - 1} queries not run")
            return 2
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            ocols = otbl.column_names
            otypes = {f.name: canon_arrow_type(f.type) for f in otbl.schema}
            orows = [tuple(d.values()) for d in otbl.to_pylist()]
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sn = norm_rows(scols, srows)
        oc, on = norm_rows(ocols, orows)
        if sc != oc:
            print(f"[FAIL] {name}: column mismatch spark={sc} oracle={oc}")
            failures += 1
            continue
        tbad = [c for c in sc if stypes[c] != otypes[c]]
        if tbad:
            print(f"[FAIL] {name}: type mismatch (driver value-hash would "
                  f"differ): " + ", ".join(
                      f"{c}: spark={stypes[c]} oracle={otypes[c]}" for c in tbad))
            failures += 1
            continue
        if len(sn) != len(on):
            print(f"[FAIL] {name}: row count spark={len(sn)} oracle={len(on)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(sn, on) if a != b]
        if bad:
            print(f"[FAIL] {name}: {len(bad)}/{len(sn)} value mismatches; first:")
            for a, b in bad[:3]:
                print(f"    spark : {a}\n    oracle: {b}")
            failures += 1
        else:
            print(f"[OK]   {name}: {len(sn)} rows match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
