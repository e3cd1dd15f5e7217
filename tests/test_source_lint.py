"""Source lint: each production-path contract keeps one implementation.

Runs on the package source only (no Spark, milliseconds):

* the sink fan-out write (``partitionBy("sink")``) appears only in
  ``operators/route.py`` — every writer goes through ``route.fanout_write``,
  so a copy cannot drift (one that skipped the NULL-sink filter wrote blank
  lines to a ``sink=__HIVE_DEFAULT_PARTITION__`` directory);
* the outcome predicates live only in ``operators/aggregate.py``
  (``success_expr`` / ``error_expr``); the partial form
  ``parse_ok & ~is_oversize`` appears nowhere.
"""

from __future__ import annotations

import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "log_collector_spark")

FANOUT = 'partitionBy("sink")'
PARTIAL_SUCCESS = 'F.col("parse_ok") & ~F.col("is_oversize")'


def _hits(needle: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    for i, line in enumerate(fh, 1):
                        if needle in line:
                            out.append(f"{os.path.relpath(path, PKG)}:{i}")
    return out


def test_sink_fanout_written_only_by_route():
    hits = _hits(FANOUT)
    assert [h.split(":")[0] for h in hits] == [
        os.path.join("operators", "route.py")], hits


def test_no_partial_success_predicate():
    assert _hits(PARTIAL_SUCCESS) == []
