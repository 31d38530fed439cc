"""Properties of the key groups behind the OVER state operators
(streaming/key_groups.py). Pure Python: no Spark session."""

from __future__ import annotations

import math
from collections import defaultdict
from fractions import Fraction

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _make_type_verifier,
)

from flink_release_1_16_0_spark.streaming.key_groups import KeyTable, key_value, null_flag
from flink_release_1_16_0_spark.streaming.stateful import (
    streaming_over_range_event_time,
    streaming_over_rows_bounded_event_time,
    streaming_over_rows_event_time,
    streaming_over_rows_unbounded,
)
from tools.fuzz_changelog import FakeGroupState, _Cap, replay

NAN = float("nan")  # one object, so dict lookups find it
CARRY = [StructField("n", LongType()), StructField("sum", StringType())]


def _frame(table: KeyTable, rows: list[tuple]) -> pd.DataFrame:
    """Key rows as the pandas batch Spark hands a group call: a numeric
    key with a NULL arrives as float64 with NaN, and the call's
    ``coalesce(key, 0)`` and ``isnull(key)`` columns keep it exact."""
    pdf = pd.DataFrame(rows, columns=table.names)
    for i in table.numeric:
        pdf[key_value(i)] = [0 if r[i] is None else r[i] for r in rows]
        pdf[null_flag(i)] = [r[i] is None for r in rows]
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
