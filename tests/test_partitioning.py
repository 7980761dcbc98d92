"""plan_fingerprint / plan_width / parallelize_small (functions/partitioning.py).

The fingerprint must be stable across rebuilds of the same query (exprIds are
reallocated per build — canonicalization strips them) and must distinguish
wide plans whose treeStrings are elided past maxToStringFields."""

from pyspark.sql import functions as F

from datapipelines_spark.functions.partitioning import (
    parallelize_small,
    plan_fingerprint,
    plan_width,
)


def _build(spark, flip=False):
    df = spark.range(100).withColumn("doc_id", F.col("id") * 2)
    return df.filter(F.col("doc_id") > (10 if not flip else 20)).select(
        "id", "doc_id"
    )


def test_fingerprint_stable_across_rebuilds(spark):
    # Two independent builds allocate fresh exprIds; canonicalized plans match.
    assert plan_fingerprint(_build(spark)) == plan_fingerprint(_build(spark))


def test_fingerprint_distinguishes_plans(spark):
    assert plan_fingerprint(_build(spark)) != plan_fingerprint(
        _build(spark, flip=True)
    )


def test_fingerprint_distinguishes_wide_plans_past_tostring_elision(spark):
    # 40 columns > spark.sql.debug.maxToStringFields (25): the treeString
    # elides the tail, so the schema discriminator must separate these.
    base = spark.range(10)
    wide_a = base.select("id", *[F.lit(i).alias(f"c{i}") for i in range(40)])
    wide_b = base.select(
        "id", *[F.lit(i).alias(f"c{i}") for i in range(39)], F.lit(0).alias("zz")
    )
    assert plan_fingerprint(wide_a) != plan_fingerprint(wide_b)


def test_plan_width_memoizes_across_rebuilds(spark):
    from datapipelines_spark.functions import caching

    probes = caching._SESSION.probes
    caching.release_persists()
    w1 = plan_width(_build(spark))
    assert len(probes) == 1
    w2 = plan_width(_build(spark))  # rebuild: same fingerprint, cache hit
    assert w2 == w1
    assert len(probes) == 1
    # the query boundary forgets the probe: a source that changed between
    # queries is probed again (a miss), never served a stale width
    caching.release_persists()
    assert len(probes) == 0
    assert plan_width(_build(spark)) == w1
    assert len(probes) == 1


def test_parallelize_small_is_floor_not_coalesce(spark):
    narrow = spark.range(100).coalesce(1)
    widened = parallelize_small(narrow, min_partitions=4)
    assert widened.rdd.getNumPartitions() >= 4
    wide = spark.range(100).repartition(8)
    assert parallelize_small(wide, min_partitions=4) is wide


def test_parallelize_small_passes_streaming_frames_through(spark):
    stream = spark.readStream.format("rate").load()
    assert parallelize_small(stream, min_partitions=64) is stream
