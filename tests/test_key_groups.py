"""Properties of the key groups behind the keyed state operators
(streaming/key_groups.py). Pure Python: no Spark session."""

from __future__ import annotations

import math
from collections import defaultdict
from fractions import Fraction

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkRuntimeError
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _make_type_verifier,
)

from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
from flink_release_1_16_0_spark.streaming.key_groups import KeyTable, null_col, value_col
from flink_release_1_16_0_spark.streaming.stateful import (
    _sort,
    _top,
    streaming_dedup_keep_last,
    streaming_over_range_event_time,
    streaming_over_rows_bounded_event_time,
    streaming_over_rows_event_time,
    streaming_over_rows_unbounded,
    streaming_retractable_topn,
    streaming_topn,
    streaming_upsert_to_retract,
    streaming_window_dedup,
)
from tools.fuzz_changelog import FakeGroupState, _Cap, _flat_schema, one_group, replay

NAN = float("nan")  # one object, so dict lookups find it
CARRY = [StructField("n", LongType()), StructField("sum", StringType())]


def _frame(table: KeyTable, rows: list[tuple]) -> pd.DataFrame:
    """Key rows as the pandas batch Spark hands a group call: a numeric
    key with a NULL arrives as float64 with NaN, and the call's
    ``coalesce(key, 0)`` and ``isnull(key)`` columns keep it exact."""
    pdf = pd.DataFrame(rows, columns=table.names)
    for i in table.numeric:
        pdf[value_col(table.names[i])] = [0 if r[i] is None else r[i] for r in rows]
        pdf[null_col(table.names[i])] = [r[i] is None for r in rows]
    return pdf


def _same(a: tuple, b: tuple) -> bool:
    return all(
        (x is None and y is None)
        or (x is not None and y is not None and (x == y or (x != x and y != y)))
        for x, y in zip(a, b)
    )


def _round_trip(table: KeyTable, state: tuple) -> tuple:
    schema = StructType(table.state_fields())
    _make_type_verifier(schema, nullable=False)(state)
    return tuple(schema.fromInternal(schema.toInternal(state)))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.just(NAN), st.sampled_from([0.0, -1.5, 2.25])),
        min_size=1,
        max_size=20,
    ),
    st.integers(0, 10**6),
)
def test_codec_round_trips_with_null_and_nan_keys_apart(keys, seed):
    table = KeyTable([StructField("k", DoubleType())], CARRY)
    group = table.load()
    codes = group.codes(_frame(table, [(k,) for k in keys]))
    distinct = {("null" if k is None else "nan" if k != k else k) for k in keys}
    assert len(group) == len(distinct)  # NULL is one key, NaN another
    for i in range(len(group)):
        group.carry[0][i] = seed + i
        group.carry[1][i] = str(Fraction(seed, i + 1))
    loaded = table.load(_round_trip(table, group.state()))
    assert all(_same(a, b) for a, b in zip(loaded.rows, group.rows))
    assert loaded.carry == group.carry
    # the loaded table finds every key where it was, adding none
    again = loaded.codes(_frame(table, [(k,) for k in keys]))
    assert again.tolist() == codes.tolist() and len(loaded) == len(group)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from([None, 1, 2**62 + 1]), st.sampled_from([None, "a", "b"])),
        min_size=1,
        max_size=20,
    )
)
def test_multi_column_keys(rows):
    table = KeyTable(
        [StructField("a", LongType()), StructField("b", StringType())], CARRY
    )
    group = table.load()
    codes = group.codes(_frame(table, rows)).tolist()
    for i, ri in enumerate(rows):
        for j, rj in enumerate(rows):
            assert (codes[i] == codes[j]) == (ri == rj)
    assert [group.rows[c] for c in codes] == rows
    loaded = table.load(_round_trip(table, group.state()))
    assert loaded.rows == group.rows
    out = pd.DataFrame(loaded.columns(codes))
    assert [(a, b) for a, b in zip(out["a"], out["b"])] == rows  # 2**62 + 1 not rounded


KEY_POOL = [None, NAN, 0.0, 1.5, -2.0]
SCHEMA = StructType(
    [
        StructField("k", DoubleType()),
        StructField("ts", LongType()),
        StructField("id", LongType()),
        StructField("v", DoubleType()),
    ]
)


def _emissions(fn, batches, groups) -> dict:
    out = replay(fn, batches, ["k"], ["k", "ts", "id", "v"], groups=groups)
    return {r["id"]: (r["running_n"], r["running_sum"]) for r in out}


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, len(KEY_POOL) - 1), st.integers(-40, 40)),
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    ),
    st.lists(st.integers(0, 2), min_size=len(KEY_POOL), max_size=len(KEY_POOL)),
)
def test_any_split_into_groups_folds_like_one_key_per_group(batches, group_of):
    cap = _Cap(SCHEMA)
    streaming_over_rows_unbounded(cap, ["k"], ["ts", "id"], "v", "id")
    rows, ident = [], 0
    for b in batches:
        rows.append([])
        for key, v in b:
            rows[-1].append((KEY_POOL[key], ident % 3, ident, v / 8))
            ident += 1
    pos = {(k,): i for i, k in enumerate(KEY_POOL)}
    alone = _emissions(cap.fn, rows, pos.__getitem__)
    split = _emissions(cap.fn, rows, lambda k: group_of[pos[k]])
    together = _emissions(cap.fn, rows, lambda k: 0)
    assert split == alone and together == alone
    # and each key alone is its own running fold (NULL and NaN apart)
    acc: dict = defaultdict(lambda: [0, Fraction(0)])
    want = {}
    for b in rows:
        for k, _ts, i, v in sorted(b, key=lambda r: (r[1], r[2])):
            a = acc[pos[(k,)]]
            a[0] += 1
            a[1] += Fraction(v)
            want[i] = (a[0], float(a[1]))
    assert alone == want


EVENT_TIME = {
    "rows": (streaming_over_rows_event_time, {}, "running_n", "running_sum"),
    "range": (streaming_over_range_event_time, {"bound_ms": 5}, "win_n", "win_sum"),
    "rows_bounded": (streaming_over_rows_bounded_event_time, {"n_rows": 2}, "win_n", "win_sum"),
}


@pytest.mark.parametrize("variant", sorted(EVENT_TIME))
@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, len(KEY_POOL) - 1), st.integers(0, 50)),
        min_size=1,
        max_size=25,
    ),
    st.lists(st.integers(0, 2), min_size=len(KEY_POOL), max_size=len(KEY_POOL)),
    st.integers(1, 4),
)
def test_event_time_groups_release_like_one_key_per_group(
    variant, events, group_of, n_batches
):
    build, kw, n_col, sum_col = EVENT_TIME[variant]
    cap = _Cap(
        StructType(
            [
                StructField("k", DoubleType()),
                StructField("ts", TimestampType()),
                StructField("id", LongType()),
                StructField("v", DoubleType()),
            ]
        )
    )
    build(cap, ["k"], "v", "id", **kw)
    size = math.ceil(len(events) / n_batches)
    batches = [
        [
            (KEY_POOL[k], pd.Timestamp(1_000 + t, unit="ms"), j, float(j))
            for j, (k, t) in enumerate(events)
            if lo <= j < lo + size
        ]
        for lo in range(0, len(events), size)
    ]
    wm_seq, seen = [], 0
    for b in batches:
        wm_seq.append(seen)
        seen = max([seen, *[r[1].value // 1_000_000 for r in b]])
    pos = {(k,): i for i, k in enumerate(KEY_POOL)}

    def run(groups):
        out = replay(cap.fn, batches, ["k"], ["k", "ts", "id", "v"], wm_seq, groups)
        return {r["id"]: (r[n_col], r[sum_col]) for r in out}

    alone = run(pos.__getitem__)
    assert run(lambda k: group_of[pos[k]]) == alone
    assert run(lambda k: 0) == alone


def test_fake_state_rejects_timeouts_spark_rejects():
    st_ = FakeGroupState(watermark_ms=10)
    for bad in (0, 9):
        try:
            st_.setTimeoutTimestamp(bad)
        except ValueError:
            continue
        raise AssertionError(f"timeout {bad} accepted at watermark 10")
    st_.setTimeoutTimestamp(10)
    assert st_.timeout == 10


def test_fake_state_refuses_a_missing_watermark():
    with pytest.raises(PySparkRuntimeError):
        FakeGroupState(watermark_ms=None).getCurrentWatermarkMs()


def test_the_call_reads_exact_row_columns_only_through_their_pairs():
    """A per-key step's call leaves out the raw copy of each exact row
    column, which it reads from the value and is-null pair; a table
    that reads no rows (the OVER operators') keeps every column."""
    fields = [
        StructField("k", LongType()),
        StructField("s", StringType()),
        StructField("b", LongType()),
    ]
    group = "pmod(xxhash64(`k`), 32) AS __key_group"
    pairs = [
        f"{fn}(`{c}`{', 0' if fn == 'coalesce' else ''}) AS `__{kind}_{c}`"
        for c in ("k", "b")
        for fn, kind in (("coalesce", "value"), ("isnull", "null"))
    ]
    assert KeyTable(fields[:1], CARRY, fields).projection(["k", "s", "b"]) == [
        "`s`", group, *pairs,
    ]
    assert KeyTable(fields[:1], CARRY).projection(["k", "s", "b"]) == [
        "`k`", "`s`", "`b`", group, *pairs[:2],
    ]


# A BIGINT beyond 2**53 in a batch where another row holds a NULL in
# the same column: pandas reads such a column as float64, so each moved
# operator must read it exactly and emit it object-typed.
BIG = 2**62 + 1


def _exact_run(ddl: str, build, batches) -> list[dict]:
    cap = _Cap(_flat_schema(ddl))
    build(cap)
    return replay(cap.fn, batches, ["k"], cap.columns, groups=one_group)


def test_upsert_to_retract_keeps_a_bigint_beside_a_null():
    out = _exact_run(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, b BIGINT",
        lambda s: streaming_upsert_to_retract(s, ["k"], "seq"),
        [[("+I", 0, 1, BIG), ("+I", 1, 2, None)], [("+U", 2, 1, 5)]],
    )
    assert [(r[ROWKIND], r["k"], r["b"]) for r in out] == [
        ("+I", 1, BIG), ("+I", 2, None), ("-U", 1, BIG), ("+U", 1, 5),
    ]


def test_dedup_keep_last_keeps_a_bigint_beside_a_null():
    out = _exact_run(
        "k BIGINT, seq BIGINT, b BIGINT",
        lambda s: streaming_dedup_keep_last(s, ["k"], "seq"),
        [[(1, 0, BIG), (2, 1, None)], [(1, -1, 7)]],
    )
    assert [(r["k"], r["b"]) for r in out] == [(1, BIG), (2, None)]


def test_window_dedup_keeps_a_bigint_beside_a_null():
    out = _exact_run(
        "k BIGINT, win BIGINT, ts BIGINT, b BIGINT",
        lambda s: streaming_window_dedup(s, "win", ["k"], "ts"),
        [[(1, 0, 5, BIG), (1, 100, 6, None)], [(1, 0, 9, 3)]],
    )
    assert [(r["win"], r["b"]) for r in out] == [(0, BIG), (100, None)]


def test_topn_keeps_a_bigint_beside_a_null():
    out = _exact_run(
        "k BIGINT, v BIGINT, b BIGINT",
        lambda s: streaming_topn(s, ["k"], "v", 2),
        [[(1, 5, BIG), (1, 4, None)], [(1, 1, 2)]],
    )
    # the second batch re-emits the held top-2 from state
    assert [(r["v"], r["b"]) for r in out] == [(5, BIG), (4, None)] * 2


def test_retractable_topn_keeps_a_bigint_beside_a_null():
    out = _exact_run(
        f"{ROWKIND} STRING, k BIGINT, v BIGINT, b BIGINT",
        lambda s: streaming_retractable_topn(s, ["k"], ["v"], 2),
        [[("+I", 1, 5, BIG), ("+I", 1, 4, None)], [("-D", 1, 4, None)]],
    )
    assert [(r["__epoch"], r["rn"], r["b"]) for r in out] == [
        (1, 1, BIG), (1, 2, None), (2, 1, BIG),
    ]


def test_retractable_topn_retracts_a_row_under_a_nan_key():
    """NaN is one key, apart from NULL, and a -D under it retracts its
    +I: rows read under a NaN key share one NaN value."""
    cap = _Cap(_flat_schema(f"{ROWKIND} STRING, k DOUBLE, v BIGINT"))
    streaming_retractable_topn(cap, ["k"], ["v"], 2)
    batches = [[("+I", NAN, 1), ("+I", None, 2)], [("-D", NAN, 1)]]
    out = replay(cap.fn, batches, ["k"], cap.columns, groups=one_group)
    last = [r for r in out if r["__epoch"] == 2]
    assert [(r["rn"], r["v"]) for r in last] == [(0, None)]
    assert sorted((r["__epoch"], r["v"]) for r in out if r["rn"] == 1) == [(1, 1), (1, 2)]


def test_window_dedup_by_size_needs_a_watermark():
    """Without a watermark on its input the window dedup keeps every
    window's winner; given a window size it refuses to run, as it could
    never evict a window."""
    ddl = "k BIGINT, win BIGINT, ts BIGINT, b BIGINT"
    batches = [[(1, 0, 5, 1)], [(1, 100, 6, 2), (1, 0, 4, 3)]]
    out = _exact_run(ddl, lambda s: streaming_window_dedup(s, "win", ["k"], "ts"), batches)
    assert [(r["win"], r["b"]) for r in out] == [(0, 1), (0, 3), (100, 2)]
    with pytest.raises(ValueError, match="watermark"):
        _exact_run(
            ddl,
            lambda s: streaming_window_dedup(s, "win", ["k"], "ts", window_size_ms=100),
            batches,
        )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.tuples(st.one_of(st.none(), st.integers(-3, 3)), st.integers(0, 2)), max_size=30),
    st.booleans(),
    st.booleans(),
    st.integers(1, 5),
)
def test_top_n_is_the_head_of_the_stable_sort(pairs, desc0, desc1, n):
    """The top-N operators' selection sorts only the rows that can
    place; ties and NULLs still come out as the full stable sort puts
    them (the third column tells equal rows apart)."""
    rows = [(a, b, i) for i, (a, b) in enumerate(pairs)]
    order = [(0, desc0), (1, desc1)]
    assert _top(rows, order, n) == _sort(rows, order)[:n]
