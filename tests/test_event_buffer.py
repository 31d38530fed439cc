"""Properties of the watermark buffer shared by the event-time state
operators (streaming/event_buffer.py). Pure Python: no Spark session."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
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

from flink_release_1_16_0_spark.streaming.event_buffer import (
    BufferLayout,
    py_values,
    sort_key,
)

LAYOUT = BufferLayout(
    "ts",
    [StructField("id", LongType()), StructField("v", DoubleType())],
    tie=["id"],
)
SCHEMA = StructType(LAYOUT.state_fields())


def _frame(rows) -> pd.DataFrame:
    """(ts_ms, id, v) rows as the pandas batch Spark hands a state fn."""
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows], unit="ms"),
            "id": [r[1] for r in rows],
            "v": [r[2] for r in rows],
        }
    )


def _checkpoint(buf):
    """The buffer through its declared state schema, as Spark stores it."""
    raw = buf.state()
    _make_type_verifier(SCHEMA, nullable=False)(raw)
    return LAYOUT.load(tuple(SCHEMA.fromInternal(SCHEMA.toInternal(raw))))


def _run(segments, splits):
    """Feed each constant-watermark segment in ``splits[i]`` calls, each
    call admitting its slice and releasing up to the watermark, with a
    checkpoint between calls. Returns the released rows and the drops."""
    buf, released, dropped = LAYOUT.load(), [], 0
    for (wm, rows), k in zip(segments, splits):
        cuts = np.array_split(np.arange(len(rows)), k)
        for part in cuts:
            buf = _checkpoint(buf)
            dropped += buf.admit(_frame([rows[i] for i in part]), wm)
            ts, (ids, vals) = buf.release(wm)
            released += list(zip((ts // 1000).tolist(), ids, vals))
    ts, (ids, vals) = buf.release(2**62)
    return released + list(zip((ts // 1000).tolist(), ids, vals)), dropped


@st.composite
def programs(draw):
    """Segments of rows under non-decreasing watermarks; row ids follow
    arrival, event times sit on the ms grid with ties and disorder."""
    wm, n, segments, splits = 0, 0, [], []
    for _ in range(draw(st.integers(1, 6))):
        wm += draw(st.integers(0, 40))
        rows = []
        for _ in range(draw(st.integers(0, 12))):
            ts = wm + draw(st.integers(-10, 40))
            rows.append((ts, n, draw(st.sampled_from([0.5, -1.25, 3.0]))))
            n += 1
        segments.append((wm, rows))
        splits.append(draw(st.integers(1, 4)))
    return segments, splits


@settings(max_examples=200, deadline=None)
@given(programs())
def test_any_split_releases_the_same_rows_in_the_same_order(program):
    segments, splits = program
    whole, whole_dropped = _run(segments, [1] * len(segments))
    split, split_dropped = _run(segments, splits)
    assert split == whole
    assert split_dropped == whole_dropped
    # release order is (ts, id) within each call and never goes back in
    # time across calls
    assert [r[0] for r in whole] == sorted(r[0] for r in whole)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 3)), max_size=60),
    st.integers(1, 4),
)
def test_release_is_a_stable_sort_by_ts_then_tie_break(keys, k):
    # v records arrival, so full (ts, id) ties must keep arrival order
    rows = [(ts, i, float(n)) for n, (ts, i) in enumerate(keys)]
    buf = LAYOUT.load()
    for part in np.array_split(np.arange(len(rows)), k):
        buf.admit(_frame([rows[i] for i in part]), 0)
    ts, (ids, vals) = buf.release(2**62)
    got = list(zip((ts // 1000).tolist(), ids, vals))
    assert got == sorted(rows, key=lambda r: (r[0], r[1]))


def test_row_at_watermark_is_kept_and_one_ms_before_is_dropped():
    buf = LAYOUT.load()
    wm = 1_000
    dropped = buf.admit(_frame([(wm, 1, 1.0), (wm - 1, 2, 2.0)]), wm)
    assert dropped == 1 and buf.dropped == 1
    ts, (ids, vals) = buf.release(wm)
    assert (ts.tolist(), ids, vals) == ([wm * 1000], [1], [1.0])
    # a µs before the watermark's ms is in an earlier ms: late too
    late = pd.DataFrame(
        {"ts": pd.to_datetime([wm * 1000 - 1], unit="us"), "id": [3], "v": [0.0]}
    )
    assert buf.admit(late, wm) == 1 and buf.dropped == 2 and len(buf) == 0


values = st.one_of(st.none(), st.integers(-(2**40), 2**40))


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2**41),
            values,
            st.one_of(st.none(), st.text(max_size=5)),
            st.one_of(st.none(), st.floats(allow_nan=False)),
            st.one_of(
                st.none(),
                st.datetimes(dt.datetime(1971, 1, 1), dt.datetime(2100, 1, 1)),
            ),
        ),
        max_size=20,
    )
)
def test_state_codec_round_trips_through_the_declared_schema(rows):
    fields = [
        StructField("n", LongType()),
        StructField("s", StringType()),
        StructField("x", DoubleType()),
        StructField("t", TimestampType()),
    ]
    layout = BufferLayout("ts", fields, tie=["n"])
    schema = StructType(layout.state_fields())
    # the NULL-bearing integer column arrives upcast to float64, as
    # pandas gives it to a state function
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
            "n": pd.Series([r[1] for r in rows], dtype="float64"),
            "s": pd.Series([r[2] for r in rows], dtype=object),
            "x": pd.Series([r[3] for r in rows], dtype="float64"),
            "t": pd.to_datetime(pd.Series([r[4] for r in rows], dtype=object)),
        }
    )
    buf = layout.load()
    buf.admit(pdf, 0)
    raw = buf.state()
    _make_type_verifier(schema, nullable=False)(raw)
    back = layout.load(tuple(schema.fromInternal(schema.toInternal(raw))))
    assert back.state() == raw
    assert back.ts.tolist() == [r[0] for r in rows]
    want_n = [None if r[1] is None else int(float(r[1])) for r in rows]
    assert back.cols[0] == want_n
    assert back.cols[1] == [r[2] for r in rows]
    assert back.cols[2] == [r[3] for r in rows]
    assert back.cols[3] == [r[4] for r in rows]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 10_000), max_size=30),
    st.integers(0, 10_000),
)
def test_next_timeout_fires_when_the_watermark_reaches_the_smallest_pending_ms(
    ts_ms, wm
):
    # Spark fires a timeout when timeout < watermark and rejects one
    # below the watermark or not positive
    buf = LAYOUT.load()
    buf.admit(_frame([(t, i, 0.0) for i, t in enumerate(ts_ms)]), 0)
    buf.release(wm)
    pending = [t for t in ts_ms if t > wm]
    timeout = buf.next_timeout()
    assert timeout == (max(min(pending) - 1, 1) if pending else None)
    if pending:
        assert timeout >= wm and timeout > 0


def test_py_values_restores_nulls_and_declared_types():
    upcast = pd.Series([1.0, np.nan, 3.0])
    assert py_values(upcast, LongType()) == [1, None, 3]
    assert [type(v) for v in py_values(upcast, LongType())] == [int, type(None), int]
    assert py_values(pd.Series([1, 2]), DoubleType()) == [1.0, 2.0]
    ts = pd.Series(pd.to_datetime([0, None], unit="ms"))
    assert py_values(ts, TimestampType()) == [dt.datetime(1970, 1, 1), None]
    assert py_values(pd.Series(["a", None, np.nan], dtype=object), StringType()) == [
        "a",
        None,
        None,
    ]


def test_sort_key_orders_like_pandas_nulls_last():
    vals = ["b", None, "a", "b"]
    want = pd.Series(vals).sort_values(kind="mergesort").index.tolist()
    assert np.argsort(sort_key(vals), kind="stable").tolist() == want == [2, 0, 3, 1]
