"""Stateful fuzz for the MOR upsert table (sinks/upsert.py): random
upsert / delete / compact / vacuum sequences must keep the merged snapshot
equal to a dict replay at every step, and time travel must reproduce every
surviving historical snapshot (compaction drops all history; vacuum drops
exactly the below-horizon prefix and must raise for reads under it)."""

import pytest
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelines_spark.sinks.upsert import (
    compact,
    read_merged,
    upsert_write,
    vacuum,
)

_KEY_POOL = list(range(1, 7))

# an op is ("upsert", {key: val}), ("delete", [keys]), ("compact", None) or
# ("vacuum", retain_n); batches are dicts so one key never appears twice
# inside a delta (within-batch order is deliberately unspecified, like a
# table format's commit)
_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.dictionaries(
                st.sampled_from(_KEY_POOL), st.integers(-50, 50), min_size=1, max_size=4
            ),
        ),
        st.tuples(
            st.just("delete"),
            st.lists(st.sampled_from(_KEY_POOL), min_size=1, max_size=3, unique=True),
        ),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=8,
)


def _snapshot(spark, path, as_of=None):
    return {
        r["k"]: r["val"]
        for r in read_merged(spark, path, ["k"], as_of_version=as_of).collect()
    }


@settings(max_examples=15, deadline=None)
@given(ops=_ops)
def test_random_mutation_sequence_matches_dict_replay(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("mor") / "tbl")
    model: dict[int, int] = {}
    history: list[tuple[int, dict[int, int]]] = []  # (version, model snapshot)
    vacuumed: list[tuple[int, dict[int, int]]] = []  # below-horizon entries
    wrote_anything = False
    for op, arg in ops:
        if op == "upsert":
            df = spark.createDataFrame(
                [(k, v) for k, v in arg.items()], "k long, val long"
            )
            v = upsert_write(df, path)
            model.update(arg)
            wrote_anything = True
        elif op == "delete":
            if not wrote_anything:
                continue  # table must exist before tombstones land
            df = spark.createDataFrame([(k, 0) for k in arg], "k long, val long")
            v = upsert_write(df, path, delete=True)
            for k in arg:
                model.pop(k, None)
        elif op == "vacuum":
            if not wrote_anything:
                continue
            cut = vacuum(spark, path, ["k"], retain_n=arg)
            if cut is not None:
                # exactly the below-horizon prefix of history is dropped;
                # every retained snapshot (>= cut) must be unchanged
                vacuumed.extend(h for h in history if h[0] < cut)
                history = [h for h in history if h[0] >= cut]
            assert _snapshot(spark, path) == model
            continue  # vacuum adds no new version snapshot
        else:
            if not wrote_anything:
                continue
            v = compact(spark, path, ["k"])
            history.clear()  # compaction drops pre-compaction history
            vacuumed.clear()  # versions below the old horizon are renumbered
        history.append((v, dict(model)))
        assert _snapshot(spark, path) == model
    # time travel must reproduce every surviving historical snapshot
    for v, snap in history:
        assert _snapshot(spark, path, as_of=v) == snap
    # and must REFUSE below the vacuum horizon (never silently partial);
    # only versions older than every survivor are guaranteed unreadable
    floor = min((v for v, _ in history), default=None)
    for v, _ in vacuumed:
        if floor is None or v < floor:
            with pytest.raises(ValueError, match="vacuum horizon|no version"):
                read_merged(spark, path, ["k"], as_of_version=v)


# --- table_diff / SCD2 against the same dict replay --------------------------
# The audit faces of the table (sinks/upsert.py:table_diff, scd2_history)
# must agree with the mutation model too: the keyed change set between any
# two surviving snapshots is the dict diff of those snapshots, and the SCD2
# validity spans are exactly the per-key event timeline (a span opens at its
# own commit and closes the commit before the key's next delta row;
# tombstones close spans and contribute none).

from datapipelines_spark.sinks.upsert import scd2_history, table_diff


@settings(max_examples=8, deadline=None)
@given(ops=_ops)
def test_table_diff_and_scd2_match_dict_replay(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("mor_audit") / "tbl")
    model: dict[int, int] = {}
    history: list[tuple[int, dict[int, int]]] = []
    events: dict[int, list[tuple[int, int | None]]] = {}  # k -> [(v, val|None)]
    wrote_anything = False
    for op, arg in ops:
        if op == "upsert":
            df = spark.createDataFrame(
                [(k, v) for k, v in arg.items()], "k long, val long"
            )
            v = upsert_write(df, path)
            model.update(arg)
            for k, val in arg.items():
                events.setdefault(k, []).append((v, val))
            wrote_anything = True
        elif op == "delete":
            if not wrote_anything:
                continue
            df = spark.createDataFrame([(k, 0) for k in arg], "k long, val long")
            v = upsert_write(df, path, delete=True)
            for k in arg:
                model.pop(k, None)
                events.setdefault(k, []).append((v, None))
        else:
            if not wrote_anything:
                continue
            v = compact(spark, path, ["k"])
            history.clear()  # compaction drops pre-compaction history
            events = {k: [(v, val)] for k, val in model.items()}
        history.append((v, dict(model)))

    # every adjacent surviving version pair, plus the full range
    pairs = list(zip(history, history[1:]))
    if len(history) >= 2:
        pairs.append((history[0], history[-1]))
    for (v_from, before), (v_to, after) in pairs:
        got = {
            r["k"]: (
                r["change"],
                None if r["before"] is None else r["before"]["val"],
                None if r["after"] is None else r["after"]["val"],
            )
            for r in table_diff(spark, path, ["k"], v_from, v_to).collect()
        }
        expected = {}
        for k in set(before) | set(after):
            if k not in before:
                expected[k] = ("added", None, after[k])
            elif k not in after:
                expected[k] = ("removed", before[k], None)
            elif before[k] != after[k]:
                expected[k] = ("changed", before[k], after[k])
        assert got == expected, (v_from, v_to)

    if wrote_anything:
        got_spans = {
            (r["k"], r["valid_from"]): (r["val"], r["valid_to"])
            for r in scd2_history(spark, path, ["k"]).collect()
        }
        expected_spans = {}
        for k, evs in events.items():
            evs = sorted(evs)
            for i, (v, val) in enumerate(evs):
                if val is None:
                    continue  # tombstone: closes the prior span, adds none
                nxt = evs[i + 1][0] - 1 if i + 1 < len(evs) else None
                expected_spans[(k, v)] = (val, nxt)
        assert got_spans == expected_spans
