"""Differential fuzz for the as-of join (operators/asof.py): the
union+window production path and the join+aggregate small-right path must
both equal the definitional per-row lookup — latest right row with
right_time <= left_time on the same key — including same-instant rights
(inclusive) and left rows with no prior right (null carry)."""

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelines_spark.operators.asof import asof_join, asof_join_via_range

_BASE = dt.datetime(2024, 1, 1)
_KEY_POOL = ["a", "b", "c"]


def _ts(minutes: int) -> dt.datetime:
    return _BASE + dt.timedelta(minutes=minutes)


# right rows must be unique per (key, time): at equal instants the carried
# value is whichever equal-time right row sorts last — deliberately
# unspecified, so the fuzz pins only the specified contract
rights = st.dictionaries(
    st.tuples(st.sampled_from(_KEY_POOL), st.integers(0, 50)),
    st.integers(-100, 100),
    min_size=0,
    max_size=12,
)
lefts = st.lists(
    st.tuples(st.sampled_from(_KEY_POOL), st.integers(0, 50)),
    min_size=1,
    max_size=15,
)


def _reference(left_rows, right_map):
    out = {}
    for i, (k, t) in enumerate(left_rows):
        prior = [
            (rt, v) for (rk, rt), v in right_map.items() if rk == k and rt <= t
        ]
        out[i] = max(prior)[1] if prior else None
    return out


@settings(max_examples=30, deadline=None)
@given(left_rows=lefts, right_map=rights)
def test_asof_both_impls_match_bruteforce(spark, left_rows, right_map):
    left = spark.createDataFrame(
        [(i, k, _ts(t)) for i, (k, t) in enumerate(left_rows)],
        "lid long, k string, lt timestamp_ntz",
    )
    right_rows = [(k, _ts(t), v) for (k, t), v in right_map.items()]
    right = spark.createDataFrame(
        right_rows or [("__none__", _ts(0), 0)],
        "k string, rt timestamp_ntz, val long",
    )
    if not right_rows:
        right = right.where("k <> '__none__'")
    expected = _reference(left_rows, right_map)
    for impl in (asof_join, asof_join_via_range):
        got = {
            r["lid"]: r["val"]
            for r in impl(left, right, "k", "lt", "rt", ["val"]).collect()
        }
        assert got == expected, impl.__name__
