"""Event-time timers fire when the watermark reaches the boundary.

Spark fires an event-time timeout only when ``timeout < watermark``, so
an operator whose rule is "emit once ``wm >= b``" must set its timeout
to ``b - 1``. Each case: key A's row arrives in batch 0 and key B's
row in batch 1 moves the final watermark to exactly A's boundary. A
gets no later data, so only its timer can emit it.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import cloudpickle
from pyspark.sql.types import LongType

from flink_release_1_16_0_spark.datastream import (
    CEP,
    KeyedCoProcessFunction,
    KeyedProcessFunction,
    Pattern,
    SlidingEventTimeWindows,
    StreamExecutionEnvironment,
    TumblingEventTimeWindows,
)
from flink_release_1_16_0_spark.datastream.stream import DataStream
from flink_release_1_16_0_spark.streaming.core import run_to_table
from flink_release_1_16_0_spark.streaming.group_window import (
    streaming_group_window_agg,
)
from flink_release_1_16_0_spark.streaming.key_groups import KEY_GROUPS
from flink_release_1_16_0_spark.streaming.stateful import (
    streaming_over_range_event_time,
    streaming_over_rows_bounded_event_time,
    streaming_over_rows_event_time,
)
from flink_release_1_16_0_spark.streaming.window_tvf import (
    streaming_window_tvf_agg,
    streaming_window_tvf_join,
    streaming_window_tvf_topn,
)

# the facade's user functions below ship to executor workers by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

T = dt.datetime(2024, 1, 1, 10, 0)
MIN = dt.timedelta(minutes=1)
MS = dt.timedelta(milliseconds=1)
DELAY = MIN  # the watermark delay
SCHEMA = "k BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE"
SIZE_MS = 10 * 60_000  # tumbling windows [T, T + 10 min)
COUNT = [("n", "count_star", None, LongType())]


def _stream(spark, tmp_path, rows, name="s"):
    """A watermarked stream with one (key, ts) row per micro-batch."""
    d = str(tmp_path / name)
    os.makedirs(d)
    for i, (k, ts) in enumerate(rows):
        path = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([k], pa.int64()),
                    "ts": pa.array([ts], pa.timestamp("us")),
                    "id": pa.array([i], pa.int64()),
                    "v": pa.array([1.0], pa.float64()),
                }
            ),
            path,
        )
        t = time.time() - 100 + i * 10
        os.utime(path, (t, t))
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withWatermark("ts", "1 minute")
    )


def _a_then_b(spark, tmp_path, a_ts, wm, keys=(1, 2), name="s"):
    """Key A's row at ``a_ts`` in batch 0; key B's row in batch 1 moves
    the final watermark to ``wm``."""
    return _stream(spark, tmp_path, [(keys[0], a_ts), (keys[1], wm + DELAY)], name)


def _two_groups(spark) -> tuple[int, int]:
    """Two keys in different key groups, so that B's batch does not
    call A's group."""
    seen: dict[int, int] = {}
    for r in spark.range(64).selectExpr("id", f"pmod(xxhash64(id), {KEY_GROUPS}) g").collect():
        seen.setdefault(r["g"], r["id"])
        if len(seen) == 2:
            return tuple(seen.values())
    raise AssertionError("64 keys in one key group")


@pytest.mark.parametrize(
    "build",
    [
        lambda s: streaming_over_rows_event_time(s, ["k"], "v", "id"),
        lambda s: streaming_over_range_event_time(s, ["k"], "v", "id", bound_ms=60_000),
        lambda s: streaming_over_rows_bounded_event_time(s, ["k"], "v", "id", n_rows=3),
    ],
    ids=["rows", "range", "rows_bounded"],
)
def test_over_emits_a_row_at_the_final_watermark(spark, tmp_path, build):
    a, b = _two_groups(spark)
    rows = run_to_table(build(_a_then_b(spark, tmp_path, T, T, keys=(a, b))), "update").collect()
    assert [(r["k"], r["id"]) for r in rows] == [(a, 0)]


@pytest.mark.parametrize(
    "build, mode",
    [
        (lambda s: streaming_window_tvf_agg(s, ["k"], "ts", COUNT, size_ms=SIZE_MS), "append"),
        (
            lambda s: streaming_window_tvf_topn(s, ["k"], "ts", [("v", False)], 1, size_ms=SIZE_MS),
            "append",
        ),
        (lambda s: streaming_group_window_agg(s, ["k"], "ts", COUNT, size_ms=SIZE_MS), "update"),
    ],
    ids=["tvf_agg", "tvf_topn", "group_window"],
)
def test_window_fires_when_the_watermark_reaches_end_minus_one(spark, tmp_path, build, mode):
    end = T + 10 * MIN
    rows = run_to_table(build(_a_then_b(spark, tmp_path, T + 5 * MIN, end - MS)), mode).collect()
    assert [r["k"] for r in rows] == [1]


def test_window_join_fires_when_the_watermark_reaches_end_minus_one(spark, tmp_path):
    end = T + 10 * MIN
    left = _a_then_b(spark, tmp_path, T + 5 * MIN, end - MS, name="l").select("k", "ts", "id")
    right = _a_then_b(spark, tmp_path, T + 5 * MIN, end - MS, name="r").select("k", "ts", "v")
    out = streaming_window_tvf_join(left, right, ["k"], "ts", size_ms=SIZE_MS)
    assert [r["k"] for r in run_to_table(out, "append").collect()] == [1]


def test_allowed_lateness_window_fires_when_the_watermark_reaches_its_end(spark, tmp_path):
    """A window kept for an allowed lateness fires at the same boundary,
    ``wm >= end - 1``, as one without it."""
    end = T + 10 * MIN
    out = streaming_group_window_agg(
        _a_then_b(spark, tmp_path, T + 5 * MIN, end - MS),
        ["k"],
        "ts",
        COUNT,
        size_ms=SIZE_MS,
        allowed_lateness_ms=5 * 60_000,
    )
    assert [r["k"] for r in run_to_table(out, "update").collect()] == [1]


def test_group_window_state_retires_at_the_lateness_horizon(spark, tmp_path):
    """Key A's window fires in batch 2 and is kept for the allowed
    lateness; batch 2's B row moves the final watermark to exactly
    ``end - 1 + lateness``, where the window retires: after the drain
    only key B's open window is left in state."""
    lateness = 5 * MIN
    end = T + 10 * MIN
    rows = [(1, T + 5 * MIN), (2, end + DELAY), (2, end - MS + lateness + DELAY)]
    out = streaming_group_window_agg(
        _stream(spark, tmp_path, rows),
        ["k"],
        "ts",
        COUNT,
        size_ms=SIZE_MS,
        allowed_lateness_ms=lateness // MS,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("group_window_retire")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        assert q.exception() is None
        assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1
    finally:
        q.stop()


# -- the DataStream facade -----------------------------------------------------


def _facade(spark, stream):
    """A facade stream over ``stream``, which is already watermarked."""
    return DataStream(StreamExecutionEnvironment.get_execution_environment(spark), stream, "ts")


class _CountAgg:
    """AggregateFunction: the key and the element count of a window."""

    def create_accumulator(self):
        return {"k": None, "n": 0}

    def add(self, row, acc):
        return {"k": row["k"], "n": acc["n"] + 1}

    def get_result(self, acc):
        return acc


class _TimerAfter(KeyedProcessFunction):
    """Each element sets an event-time timer 5 minutes after it; the
    timer emits the key."""

    def process_element(self, value, ctx, out):
        ctx.timer_service().register_event_time_timer(ctx.timestamp() + 5 * 60_000)

    def on_timer(self, timestamp, ctx, out):
        out.collect({"k": ctx.get_current_key()})


class _CoTimerAfter(KeyedCoProcessFunction):
    """:class:`_TimerAfter` on the first input of a connected stream."""

    def process_element1(self, value, ctx, out):
        ctx.timer_service().register_event_time_timer(ctx.timestamp() + 5 * 60_000)

    def process_element2(self, value, ctx, out):
        pass

    def on_timer(self, timestamp, ctx, out):
        out.collect({"k": ctx.get_current_key()})


def _window_count(spark, stream, assigner):
    out = _facade(spark, stream).key_by("k").window(assigner).aggregate(_CountAgg(), "k BIGINT, n BIGINT")
    return sorted((r["k"], r["n"]) for r in run_to_table(out.to_data_frame(), "append").collect())


@pytest.mark.parametrize(
    "assigner",
    [
        TumblingEventTimeWindows.of("10 minutes"),
        SlidingEventTimeWindows.of("10 minutes", "5 minutes"),
    ],
    ids=["tumble", "slide"],
)
@pytest.mark.parametrize("before, fired", [(MS, [(1, 1)]), (2 * MS, [])], ids=["end-1", "end-2"])
def test_facade_window_fires_when_the_watermark_reaches_end_minus_one(
    spark, tmp_path, assigner, before, fired
):
    """Key A's row at 10:05 is in the window [10:00, 10:10) (and, when
    sliding, [10:05, 10:15)); the first fires at ``wm = end - 1`` and
    not a millisecond before (EventTimeTrigger)."""
    end = T + 10 * MIN
    assert _window_count(spark, _a_then_b(spark, tmp_path, T + 5 * MIN, end - before), assigner) == fired


def test_facade_window_drops_a_row_whose_window_end_minus_one_is_the_watermark(spark, tmp_path):
    """Batch 1 moves the watermark to ``end - 1`` of [10:00, 10:10).
    Key 3's row at 10:06 in batch 2 passes Spark's late filter (the
    previous batch's watermark, 10:04) but its window has fired
    (isWindowLate), so it drops; a last batch moves the watermark far
    enough to fire any window it had opened."""
    end = T + 10 * MIN
    rows = [(1, T + 5 * MIN), (2, end - MS + DELAY), (3, T + 6 * MIN), (2, end + 60 * MIN + DELAY)]
    got = _window_count(spark, _stream(spark, tmp_path, rows), TumblingEventTimeWindows.of("10 minutes"))
    assert got == [(1, 1), (2, 1)]


def test_facade_process_timer_fires_when_the_watermark_reaches_it(spark, tmp_path):
    out = _facade(spark, _a_then_b(spark, tmp_path, T, T + 5 * MIN)).key_by("k").process(_TimerAfter(), "k BIGINT")
    assert [r["k"] for r in run_to_table(out.to_data_frame(), "append").collect()] == [1]


def test_facade_co_process_timer_fires_when_the_watermark_reaches_it(spark, tmp_path):
    first = _facade(spark, _a_then_b(spark, tmp_path, T, T + 5 * MIN, name="l"))
    second = _facade(spark, _a_then_b(spark, tmp_path, T, T + 5 * MIN, name="r"))
    out = first.connect(second).key_by("k", "k").process(_CoTimerAfter(), "k BIGINT")
    assert [r["k"] for r in run_to_table(out.to_data_frame(), "append").collect()] == [1]


def test_facade_cep_decides_a_quiet_anchor_when_the_watermark_reaches_its_horizon(spark, tmp_path):
    """Key A's anchor at 10:00 has a 5-minute WITHIN horizon; key B's
    rows move the watermark to 10:05 - 1 ms and then to 10:05, where
    A's anchor is decided and its match emits."""
    horizon = T + 5 * MIN
    rows = [(1, T), (2, horizon - MS + DELAY), (2, horizon + DELAY)]
    pat = Pattern.begin("a").where(lambda r: True).within("5 minutes")
    out = CEP.pattern(_facade(spark, _stream(spark, tmp_path, rows)).key_by("k"), pat).select(
        lambda m: {"k": m["a"][0]["k"]}, "k BIGINT", tiebreaker="id"
    )
    assert [r["k"] for r in run_to_table(out.to_data_frame(), "append").collect()] == [1]
