"""Property tests for the SCD2 engine (SURVEY.md §5.2 item 3):
random snapshot sequences must preserve the invariants

1. exactly one open version per key ever seen;
2. a key's non-deleted intervals never overlap;
3. replaying an identical snapshot is a no-op;
4. the current view equals the latest snapshot exactly.

Hypothesis drives the snapshot generator; examples are kept small (the
cost is Spark jobs, not data size).
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_sber_spark.functions.normalize import MAX_TS
from etl_sber_spark.operators.scd import scd2_apply, scd2_current

KEYS = [f"K{i}" for i in range(6)]
VALUES = ["a", "b", "c"]

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("attr", T.StringType()),
    ]
)

snapshot_strategy = st.lists(
    st.dictionaries(
        st.sampled_from(KEYS), st.sampled_from(VALUES), min_size=0, max_size=6
    ),
    min_size=1,
    max_size=4,
)

_spark = None


@pytest.fixture(scope="module", autouse=True)
def _capture_spark(spark):
    global _spark
    _spark = spark
    yield


def _apply_all(snapshots):
    spark = _spark
    hist = spark.createDataFrame(
        [],
        T.StructType(
            list(SNAP_SCHEMA.fields)
            + [
                T.StructField("deleted_flg", T.IntegerType()),
                T.StructField("effective_from", T.TimestampType()),
                T.StructField("effective_to", T.TimestampType()),
            ]
        ),
    )
    base = dt.datetime(2024, 1, 1)
    for i, snap in enumerate(snapshots):
        stg = spark.createDataFrame(sorted(snap.items()), SNAP_SCHEMA)
        hist = scd2_apply(
            hist, stg, "k", ["attr"], base + dt.timedelta(days=i)
        ).localCheckpoint()  # keep the plan from growing per iteration
    return hist, base + dt.timedelta(days=len(snapshots) - 1)


@given(snapshots=snapshot_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_invariants(snapshots):
    hist, last_ts = _apply_all(snapshots)
    rows = hist.collect()
    max_ts = dt.datetime(2999, 12, 31, 23, 59, 59)

    # 1. at most one open version per key (exactly one for keys ever seen)
    open_rows = [r for r in rows if r.effective_to == max_ts]
    assert len({r.k for r in open_rows}) == len(open_rows)
    assert {r.k for r in open_rows} == {r.k for r in rows}

    # 2. non-deleted intervals per key never overlap
    by_key: dict[str, list] = {}
    for r in rows:
        if r.deleted_flg == 0:
            by_key.setdefault(r.k, []).append(r)
    for vs in by_key.values():
        vs.sort(key=lambda r: r.effective_from)
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.effective_to < nxt.effective_from

    # 4. current view == last snapshot
    cur = {
        (r.k, r.attr)
        for r in scd2_current(hist, last_ts).select("k", "attr").collect()
    }
    assert cur == set(snapshots[-1].items())


@given(snap=st.dictionaries(st.sampled_from(KEYS), st.sampled_from(VALUES), min_size=1, max_size=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_replay_is_noop(snap):
    hist, last_ts = _apply_all([snap])
    stg = _spark.createDataFrame(sorted(snap.items()), SNAP_SCHEMA)
    replayed = scd2_apply(
        hist, stg, "k", ["attr"], last_ts + dt.timedelta(days=1)
    )
    a = sorted(map(str, hist.collect()))
    b = sorted(map(str, replayed.collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Differential test: scd2_apply against a pure-Python model of the algebra
# ---------------------------------------------------------------------------

MAX = dt.datetime(2999, 12, 31, 23, 59, 59)
DAY0 = dt.datetime(2024, 1, 1)
DIFF_KEYS = ["K0", "K1", "K2", None]
DIFF_VALUES = ["a", "b", None]

DIFF_SNAP = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("a", T.StringType()),
        T.StructField("b", T.StringType()),
    ]
)
DIFF_HIST = T.StructType(
    list(DIFF_SNAP.fields)
    + [
        T.StructField("deleted_flg", T.IntegerType()),
        T.StructField("effective_from", T.TimestampType()),
        T.StructField("effective_to", T.TimestampType()),
    ]
)


def model_scd2_apply(hist: list[tuple], stg: list[tuple], ts: dt.datetime) -> list[tuple]:
    """The documented algebra, one row at a time.

    Rows are ``(k, a, b)`` staged and ``(k, a, b, deleted_flg,
    effective_from, effective_to)`` in the history. Key equality is SQL
    equality (a NULL key matches nothing); an attribute change is SQL
    ``!=`` (a NULL on either side is no change). Multiplicities follow
    the joins: a staged row is changed once per current row it differs
    from, and duplicate staged rows are each new."""

    def same_key(x, y):
        return x[0] is not None and x[0] == y[0]

    def differs(s, c):
        return any(
            x is not None and y is not None and x != y
            for x, y in zip(s[1:3], c[1:3])
        )

    current = [h for h in hist if h[3] == 0 and h[4] <= ts <= h[5]]
    new = [s for s in stg if not any(same_key(s, c) for c in current)]
    deleted = [c[:3] for c in current if not any(same_key(c, s) for s in stg)]
    changed = [s for s in stg for c in current if same_key(s, c) and differs(s, c)]
    tombstoned = {h[0] for h in hist if h[5] == MAX and h[3] == 1}
    reborn = {s[0] for s in new if s[0] is not None and s[0] in tombstoned}
    to_close = {r[0] for r in changed + deleted} | reborn
    closed_ts = ts - dt.timedelta(seconds=1)
    out = [
        (*h[:5], closed_ts) if h[0] is not None and h[0] in to_close and h[5] == MAX else h
        for h in hist
    ]
    out += [(*s, 0, ts, MAX) for s in new + changed]
    out += [(*d, 1, ts, MAX) for d in deleted]
    return out


_key = st.sampled_from(DIFF_KEYS)
_val = st.sampled_from(DIFF_VALUES)
_staged_row = st.tuples(_key, _val, _val)
#: arbitrary starting histories: NULL keys, several open versions or
#: open tombstones per key, intervals ahead of the processing ts
_hist_row = st.tuples(
    _key,
    _val,
    _val,
    st.sampled_from([0, 1]),
    st.integers(0, 3).map(lambda d: DAY0 + dt.timedelta(days=d)),
    st.one_of(
        st.just(MAX),
        st.integers(0, 3).map(lambda d: DAY0 + dt.timedelta(days=d, seconds=-1)),
    ),
)
#: (snapshot, processing day) steps. A ``None`` snapshot replays the
#: previous one; days repeat and go back, so a sequence holds replays at
#: the same and at an earlier ts
_steps = st.lists(
    st.tuples(st.none() | st.lists(_staged_row, max_size=5), st.integers(1, 3)),
    min_size=1,
    max_size=3,
)


@given(
    start=st.one_of(st.just([]), st.lists(_hist_row, max_size=5)),
    steps=_steps,
)
# NULL keys on both sides: the current NULL-key row gets a tombstone,
# the staged one is new, and the replay repeats both
@example(
    start=[(None, "a", "b", 0, DAY0, MAX)],
    steps=[([(None, "a", "b"), ("K0", "a", None)], 1), (None, 2)],
)
# a reborn key staged twice, then replayed at the same ts against its
# two new current versions
@example(
    start=[("K0", "a", "a", 1, DAY0, MAX)],
    steps=[([("K0", "a", "a"), ("K0", "b", "a")], 1), (None, 1)],
)
# a changed snapshot at the same ts (inverted interval), then at an
# earlier ts
@example(
    start=[],
    steps=[([("K1", "a", "b")], 2), ([("K1", "b", "b")], 2), ([("K1", "a", None)], 1)],
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_apply_matches_model(start, steps):
    """Each step applies one snapshot to the model's current history on
    both sides and compares the next histories as multisets."""
    spark = _spark
    hist, stg = list(start), []
    for snap, day in steps:
        stg = stg if snap is None else snap
        ts = DAY0 + dt.timedelta(days=day)
        got = scd2_apply(
            spark.createDataFrame(hist, DIFF_HIST),
            spark.createDataFrame(stg, DIFF_SNAP),
            "k",
            ["a", "b"],
            ts,
        ).collect()
        want = model_scd2_apply(hist, stg, ts)
        assert sorted(map(repr, map(tuple, got))) == sorted(map(repr, want)), (
            hist,
            stg,
            ts,
        )
        hist = want
