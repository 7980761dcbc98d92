"""The one-join ingest verdict kernel (operators/dedup.py:ingest_tick_verdicts):
the within-tick band-bucket cap inside the mixed corpus/prior/tick join,
and the plan shape of one streaming tick — persist, exchange and job
counts are deterministic, so a regression shows here before it shows in
wall time."""

import pyspark.sql.functions as F
import pytest

from datapipelines_spark.operators.dedup import MinHashConfig, ingest_tick_verdicts
from datapipelines_spark.queries.dedup import _MINHASH, staged_dup_docs
from datapipelines_spark.queries.ingest import _QUOTA_CAP
from datapipelines_spark.queries.urls import BLOCKLIST, _planted_urls
from datapipelines_spark.streaming.ingest import ingest_dedup_sink

_CFG = MinHashConfig(num_hashes=8, bands=4, ngram=3)


def _cycle(stem: str, k: int) -> str:
    """Three words repeated ``k`` >= 2 times: every such text has the same
    three shingles — the same signature, so all band buckets shared and
    Jaccard 1 — but its own md5."""
    return " ".join([f"{stem}1", f"{stem}2", f"{stem}3"] * k)


_CORPUS = [(1, _cycle("a", 2)), (2, "g1 g2 g3 g1")]
# prior id 100 sits ABOVE its tick partners on purpose: a within-tick
# pair (51 -> 50) only beats it if the prior row is not counted in the cap
_PRIOR = [(5, _cycle("b", 2)), (100, _cycle("d", 2))]
_TICK = (
    [(20 + i, _cycle("a", 3 + i)) for i in range(3)]  # 3 tick rows + corpus 1
    + [(30 + i, _cycle("b", 3 + i)) for i in range(3)]  # 3 tick rows + prior 5
    + [(40 + i, _cycle("c", 3 + i)) for i in range(3)]  # 3 tick rows only
    + [(50, _cycle("d", 3)), (51, _cycle("d", 4))]  # 2 tick rows + prior 100
    + [(70, _cycle("e", 3)), (71, _cycle("e", 3)), (72, _cycle("e", 4))]
    + [(80, "zz"), (81, "zz")]  # too short to shingle: md5 band only
    + [(90, "g1 g2 g3 g1")]  # byte-identical to corpus doc 2
    + [(95, None)]  # a NULL text matches nothing but still gets a verdict
)

#: Worked out by hand for max_bucket_size=2; the pre-change six-probe
#: operator produced the same table.
_CAPPED = {
    20: ("near_corpus", 1), 21: ("near_corpus", 1), 22: ("near_corpus", 1),
    30: ("near_batch", 5), 31: ("near_batch", 5), 32: ("near_batch", 5),
    40: ("keep", None), 41: ("keep", None), 42: ("keep", None),
    50: ("near_batch", 100), 51: ("near_batch", 50),
    70: ("keep", None), 71: ("exact_batch", 70), 72: ("keep", None),
    80: ("keep", None), 81: ("exact_batch", 80),
    90: ("exact_corpus", 2), 95: ("keep", None),
}
#: Without the cap the oversized buckets give up their within-tick pairs.
_UNCAPPED = {
    **_CAPPED,
    41: ("near_batch", 40), 42: ("near_batch", 40), 72: ("near_batch", 70),
}


@pytest.mark.parametrize(
    "cap, want, impl",
    [(2, _CAPPED, "arrow"), (None, _UNCAPPED, "arrow"), (2, _CAPPED, "expr")],
)
def test_bucket_cap_drops_only_within_tick_pairs(spark, cap, want, impl):
    """A band bucket holding more than ``max_bucket_size`` TICK rows loses
    its within-tick near_batch pairs (c*, e*), while the same bucket still
    matches the corpus (a* -> near_corpus) and prior docs (b* -> prior
    near_batch); prior rows never count toward the cap (d*); the md5 band
    is never capped (71 -> exact_batch). Both signature implementations
    give the same table."""
    schema = "doc_id long, text string"
    got = {
        r["doc_id"]: (r["verdict"], r["match_id"])
        for r in ingest_tick_verdicts(
            spark.createDataFrame(_CORPUS, schema),
            spark.createDataFrame(_PRIOR, schema),
            spark.createDataFrame(_TICK, schema),
            "text",
            "doc_id",
            _CFG,
            threshold=0.5,
            impl=impl,
            max_bucket_size=cap,
        ).collect()
    }
    assert got == want


#: Spark jobs of the fixture's second tick, counted with statusTracker:
#: 16 measured at local[4], and local[8] stays within it (the six-probe
#: kernel ran 35).
_TICK_JOBS = 16


def test_one_tick_plan_shape(spark, sf_dir, tmp_path, monkeypatch):
    """One streaming tick (the second, so the prior index is non-empty)
    makes exactly one managed_persist call — the signature table of prior
    and tick docs — whose Arrow crossing sits on no round-robin exchange,
    and runs at most ``_TICK_JOBS`` Spark jobs."""
    import datapipelines_spark.functions.caching as caching
    import datapipelines_spark.operators.dedup as dedup

    staged = staged_dup_docs(spark, sf_dir)
    corpus = staged.where(F.col("doc_id") % 4 != 0)
    crawl = staged.where(F.col("doc_id") % 4 == 0).join(
        _planted_urls(spark, sf_dir), "doc_id"
    )
    mid = crawl.approxQuantile("doc_id", [0.5], 0.0)[0]
    b0 = crawl.where(F.col("doc_id") <= mid).localCheckpoint()
    b1 = crawl.where(F.col("doc_id") > mid).localCheckpoint()
    sink = ingest_dedup_sink(
        corpus,
        str(tmp_path / "state"),
        blocklist=BLOCKLIST,
        quota_cap=_QUOTA_CAP,
        config=_MINHASH,
    )
    sink(b0, 0)

    plans = []
    real = caching.managed_persist

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(caching, "managed_persist", spy)
    monkeypatch.setattr(dedup, "managed_persist", spy)
    sc = spark.sparkContext
    sc.setJobGroup("one-tick-shape", "one ingest tick")
    try:
        sink(b1, 1)
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
        sink.release_standing()
    jobs = sc.statusTracker().getJobIdsForGroup("one-tick-shape")

    assert len(plans) == 1
    sig = plans[0]
    assert "ArrowEvalPython" in sig
    assert "RoundRobinPartitioning" not in sig[sig.index("ArrowEvalPython"):]
    assert len(jobs) <= _TICK_JOBS, f"{len(jobs)} jobs"
