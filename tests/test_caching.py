"""Cache scopes (functions/caching.py): explicit release, nested scopes,
concurrent registration, and the guarantee that no persist is dropped
while its consumer is still live."""

import sys
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from datapipelines_spark.functions import caching
from datapipelines_spark.functions.caching import (
    managed_persist,
    persist_scope,
    release_persists,
)
from datapipelines_spark.functions.partitioning import plan_width


def _live_count():
    return len(caching._SESSION.persists)


def test_many_persists_stay_cached_for_one_consumer(spark):
    """Twenty persists (more than any fixed slot count a registry might
    keep) all feed one union: every one is still cached when the union
    runs, and its executed plan reads each through InMemoryTableScan."""
    release_persists()
    parts = [
        managed_persist(spark.range(100 + i).withColumn("src", F.lit(i)))
        for i in range(20)
    ]
    union = reduce(DataFrame.unionByName, parts)
    assert all(p.storageLevel != StorageLevel.NONE for p in parts)
    plan = union._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 20
    assert union.count() == sum(100 + i for i in range(20))
    release_persists()
    assert all(p.storageLevel == StorageLevel.NONE for p in parts)


def test_release_unpersists_everything(spark):
    release_persists()
    a = managed_persist(spark.range(10))
    b = managed_persist(spark.range(20))
    assert _live_count() == 2
    release_persists()
    assert _live_count() == 0
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE


def test_nested_scope_releases_only_its_own(spark):
    """A nested ``persist_scope`` releases its own persists and probes on
    exit, and nothing of the scopes around it — including a table it
    re-persisted that an outer scope cached first."""
    release_persists()
    outer = managed_persist(spark.range(31))
    plan_width(spark.range(31))
    with persist_scope() as mid_scope:
        mid = managed_persist(spark.range(32))
        with persist_scope() as inner_scope:
            inner = managed_persist(spark.range(33))
            again = managed_persist(spark.range(31))  # outer owns this plan
            plan_width(spark.range(33))
            assert len(inner_scope.persists) == 1
            assert len(inner_scope.probes) == 1
        assert inner.storageLevel == StorageLevel.NONE
        assert inner_scope.persists == [] and inner_scope.probes == {}
        assert mid.storageLevel != StorageLevel.NONE
        assert again.storageLevel != StorageLevel.NONE
        assert len(mid_scope.persists) == 1 and mid_scope.probes == {}
    assert mid.storageLevel == StorageLevel.NONE
    assert outer.storageLevel != StorageLevel.NONE
    assert _live_count() == 1
    assert len(caching._SESSION.probes) == 1
    release_persists()
    assert outer.storageLevel == StorageLevel.NONE
    assert caching._SESSION.probes == {}


def test_concurrent_registration_is_all_released(spark):
    """Builders register persists from concurrent driver threads
    (queries/recall.py builds its family arms from a thread pool, guide
    §2.6): racing registrations — including re-persists of the same plan
    — leave every returned DataFrame usable, and ``release_persists()``
    releases every frame the pool registered."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    release_persists()

    def register(i):
        # half the threads re-persist the SAME plan, half persist
        # distinct plans
        df = managed_persist(spark.range(1000 if i % 2 else 1000 + i))
        return df, df.count()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the registering threads
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(
                pool.map(inheritable_thread_target(spark)(register), range(32))
            )
    finally:
        sys.setswitchinterval(switch)
    assert all(c == (1000 if i % 2 else 1000 + i) for i, (_, c) in enumerate(results))
    assert all(df.storageLevel != StorageLevel.NONE for df, _ in results)
    release_persists()
    assert _live_count() == 0
    assert all(df.storageLevel == StorageLevel.NONE for df, _ in results)
