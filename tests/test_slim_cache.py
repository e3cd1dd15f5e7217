"""The tx_* shared slim-frame cache: keying, eviction, and the clear hook.

R4 verdict/advice items: the cache was keyed by id(spark) (id-reuse alias
risk) and never unpersisted (storage leak + pinned dead sessions). It is
now keyed by (applicationId, sf_dir), evicts entries whose SparkContext
has stopped on every access, and exposes clear_routed_slim().
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark import registry as R

SF_DIR = "/root/testdata/sf0.001"


class _StoppedSc:
    """Mimics a SparkSession whose context has been stopped — the shape a
    second sequential session leaves behind after .stop()."""

    class _Ctx:
        _jsc = None
        applicationId = "dead-app"

    sparkContext = _Ctx()


def test_cache_keyed_by_application_id(spark):
    R.ROUTED_SLIM_CACHE.clear()
    a = R.routed_slim(spark, SF_DIR)
    b = R.routed_slim(spark, SF_DIR)
    assert a is b
    (app_id, sf_dir), = R.ROUTED_SLIM_CACHE.keys()
    assert app_id == spark.sparkContext.applicationId
    assert sf_dir == SF_DIR
    R.clear_routed_slim()


def test_stopped_session_entries_evicted_on_access(spark):
    R.ROUTED_SLIM_CACHE.clear()
    R.ROUTED_SLIM_CACHE[("dead-app", SF_DIR)] = (_StoppedSc(), object())
    live = R.routed_slim(spark, SF_DIR)
    assert ("dead-app", SF_DIR) not in R.ROUTED_SLIM_CACHE
    key = (spark.sparkContext.applicationId, SF_DIR)
    assert R.ROUTED_SLIM_CACHE[key][1] is live
    R.clear_routed_slim()


def test_clear_routed_slim_unpersists_and_empties(spark):
    R.ROUTED_SLIM_CACHE.clear()
    df = R.routed_slim(spark, SF_DIR)
    df.count()  # materialize the cache
    assert df.storageLevel.useMemory
    R.clear_routed_slim()
    assert R.ROUTED_SLIM_CACHE == {}
    assert not df.storageLevel.useMemory


def test_clear_survives_dead_entries():
    R.ROUTED_SLIM_CACHE.clear()
    R.ROUTED_SLIM_CACHE[("dead-app", SF_DIR)] = (_StoppedSc(), object())
    R.clear_routed_slim()  # must not raise on the stopped context
    assert R.ROUTED_SLIM_CACHE == {}
