"""DataStream API facade tests (SURVEY.md section 1.4 item 3).

Mirrors the reference's DataStream ITCase style: small deterministic
element logs, run the program, assert the exact output set. BATCH
execution-mode semantics throughout (per-key event-time order, all
timers fire at end-of-input watermark — the reference's documented
behavior for DataStream programs on bounded input).
"""

from __future__ import annotations

import datetime
import sys

import pytest
from pyspark import cloudpickle

# classes defined in this test module must ship to executor workers by
# value (the tests dir is not on the workers' import path)
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from flink_release_1_16_0_spark.datastream import (
    AggregateFunction,
    CoGroupFunction,
    Collector,
    EventTimeSessionWindows,
    KeyedCoProcessFunction,
    KeyedProcessFunction,
    ListStateDescriptor,
    MapStateDescriptor,
    OutputTag,
    ProcessFunction,
    ProcessJoinFunction,
    ProcessWindowFunction,
    ReducingStateDescriptor,
    SlidingEventTimeWindows,
    StreamExecutionEnvironment,
    TumblingEventTimeWindows,
    ValueStateDescriptor,
    WatermarkStrategy,
)
from flink_release_1_16_0_spark.datastream.functions import (
    BroadcastProcessFunction,
    MAX_WATERMARK,
)


def _ts(minute: int, second: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture(scope="module")
def env(spark) -> StreamExecutionEnvironment:
    return StreamExecutionEnvironment.get_execution_environment(spark)


@pytest.fixture(scope="module")
def clicks(env):
    rows = [
        {"user": "a", "ts": _ts(0), "n": 1},
        {"user": "a", "ts": _ts(1), "n": 3},
        {"user": "a", "ts": _ts(12), "n": 5},
        {"user": "b", "ts": _ts(2), "n": 10},
        {"user": "b", "ts": _ts(3), "n": 20},
        {"user": "c", "ts": _ts(30), "n": 7},
    ]
    s = env.from_collection(rows, "user STRING, ts TIMESTAMP, n INT")
    return s.assign_timestamps_and_watermarks(
        WatermarkStrategy.for_bounded_out_of_orderness("5 seconds").with_timestamp_assigner("ts")
    )


# -- stateless ---------------------------------------------------------------


def test_map_flat_map_filter(env, clicks):
    doubled = clicks.map(lambda r: {"user": r["user"], "n2": r["n"] * 2}, "user STRING, n2 INT")
    assert sorted(r.n2 for r in doubled.to_data_frame().collect()) == [2, 6, 10, 14, 20, 40]

    dup = clicks.flat_map(
        lambda r: [{"u": r["user"]}] * r["n"], "u STRING"
    ).to_data_frame()
    assert dup.count() == 46

    # expression filter stays JVM-side
    hot = clicks.filter("n >= 5")
    assert hot.to_data_frame().count() == 4
    # python-function filter
    hot2 = clicks.filter(lambda r: r["n"] >= 5)
    assert hot2.to_data_frame().count() == 4


def test_union_project(env, clicks):
    u = clicks.union(clicks).project("user", "n")
    assert u.to_data_frame().count() == 12
    assert u.to_data_frame().columns == ["user", "n"]
    # the projection dropped the event-time column, so downstream keyed
    # ops must not try to sort by it (review finding: time_col used to
    # survive the drop and KeyError inside the pandas harness)
    assert u.time_col is None
    assert u.key_by("user").sum("n").to_data_frame().count() == 3
    # projections keeping the column keep event time
    assert clicks.project("user", "ts", "n").time_col == "ts"


def test_numeric_event_time_is_epoch_millis(env):
    """A BIGINT event-time column is epoch-MILLISECONDS everywhere
    (review finding: JVM lowerings used to read it as epoch-seconds
    while the Python harness read milliseconds)."""
    from flink_release_1_16_0_spark.datastream import TumblingEventTimeWindows

    base = int(datetime.datetime(2024, 1, 1, 10, 0, tzinfo=datetime.timezone.utc).timestamp() * 1000)
    rows = [
        {"k": "a", "ts": base + i * 60_000, "n": i} for i in range(3)
    ]  # 10:00, 10:01, 10:02
    s = env.from_collection(rows, "k STRING, ts BIGINT, n INT").assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        s.key_by("k")
        .window(TumblingEventTimeWindows.of("2 minutes"))
        .reduce(lambda a, b: {**a, "n": a["n"] + b["n"]})
        .to_data_frame()
        .collect()
    )
    # ms reading: windows [10:00,10:02) -> n=0+1, [10:02,10:04) -> n=2;
    # a (wrong) seconds reading would collapse everything into one window
    assert sorted(r.n for r in out) == [1, 2]


# -- keyed rolling aggregates ------------------------------------------------


def test_keyed_sum_min_max(clicks):
    got = {
        r.user: r.n
        for r in clicks.key_by("user").sum("n").to_data_frame().collect()
    }
    assert got == {"a": 9, "b": 30, "c": 7}
    # non-aggregated field keeps the FIRST element's value
    first_ts = {
        r.user: r.ts
        for r in clicks.key_by("user").sum("n").to_data_frame().collect()
    }
    assert first_ts["a"] == _ts(0)

    mx = {r.user: r.n for r in clicks.key_by("user").max("n").to_data_frame().collect()}
    assert mx == {"a": 5, "b": 20, "c": 7}


def test_keyed_min_by_max_by(clicks):
    rows = clicks.key_by("user").max_by("n").to_data_frame().collect()
    got = {r.user: (r.n, r.ts) for r in rows}
    # maxBy returns the whole extreme element
    assert got["a"] == (5, _ts(12))
    assert got["b"] == (20, _ts(3))


def test_keyed_reduce_in_time_order(clicks):
    def concat(a, b):
        return {"user": a["user"], "ts": b["ts"], "n": a["n"] * 10 + b["n"]}

    got = {
        r.user: r.n
        for r in clicks.key_by("user").reduce(concat).to_data_frame().collect()
    }
    # digits prove the event-time fold order
    assert got == {"a": 135, "b": 120, "c": 7}


# -- keyed process: state + timers -------------------------------------------


class GapSessionCounter(KeyedProcessFunction):
    """Sessionization with event-time timers: emit (user, session_size)
    when a 5-minute gap timer fires (the canonical ProcessFunction
    example from the reference docs)."""

    GAP_MS = 5 * 60 * 1000

    def open(self, rc):
        self.count = rc.get_state(ValueStateDescriptor("count", 0))
        self.deadline = rc.get_state(ValueStateDescriptor("deadline"))

    def process_element(self, value, ctx, out):
        t = ctx.timestamp()
        dl = self.deadline.value()
        if dl is not None and t >= dl and self.count.value():
            out.collect({"user": ctx.get_current_key(), "session_n": self.count.value()})
            self.count.update(0)
        self.count.update(self.count.value() + 1)
        new_dl = t + self.GAP_MS
        if dl is not None:
            ctx.timer_service().delete_event_time_timer(dl)
        ctx.timer_service().register_event_time_timer(new_dl)
        self.deadline.update(new_dl)

    def on_timer(self, timestamp, ctx, out):
        if self.count.value():
            out.collect({"user": ctx.get_current_key(), "session_n": self.count.value()})
            self.count.update(0)


def test_keyed_process_timers(clicks):
    out = clicks.key_by("user").process(GapSessionCounter(), "user STRING, session_n INT")
    rows = sorted((r.user, r.session_n) for r in out.to_data_frame().collect())
    # a: [10:00,10:01] then [10:12]; b: [10:02,10:03]; c: [10:30]
    assert rows == [("a", 1), ("a", 2), ("b", 2), ("c", 1)]


class SplitBySize(ProcessFunction):
    SMALL = OutputTag("small", "user STRING, n INT")

    def process_element(self, value, ctx, out):
        if value["n"] >= 5:
            out.collect({"user": value["user"], "n": value["n"]})
        else:
            ctx.output(self.SMALL, {"user": value["user"], "n": value["n"]})


def test_side_outputs(clicks):
    main = clicks.process(
        SplitBySize(), "user STRING, n INT", side_outputs=(SplitBySize.SMALL,)
    )
    assert sorted(r.n for r in main.to_data_frame().collect()) == [5, 7, 10, 20]
    side = main.get_side_output(SplitBySize.SMALL)
    assert sorted(r.n for r in side.to_data_frame().collect()) == [1, 3]


# -- windows -----------------------------------------------------------------


class SumAgg(AggregateFunction):
    def create_accumulator(self):
        return 0

    def add(self, value, acc):
        return acc + value["n"]

    def get_result(self, acc):
        return {"total": acc}

    def merge(self, a, b):
        return a + b


class WindowInfo(ProcessWindowFunction):
    def process(self, key, context, elements, out):
        out.collect(
            {
                "user": key,
                "start_ms": context.window.start,
                "cnt": len(elements),
            }
        )


def test_tumbling_window_aggregate(clicks):
    win = clicks.key_by("user").window(TumblingEventTimeWindows.of("10 minutes"))
    out = win.aggregate(SumAgg(), "total INT").to_data_frame()
    assert sorted(r.total for r in out.collect()) == [4, 5, 7, 30]


def test_tumbling_window_process_has_bounds(clicks):
    win = clicks.key_by("user").window(TumblingEventTimeWindows.of("10 minutes"))
    rows = win.process(WindowInfo(), "user STRING, start_ms LONG, cnt INT").to_data_frame().collect()
    by = {(r.user, r.start_ms): r.cnt for r in rows}
    base = int(_ts(0).replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
    # local-session timezone may shift the epoch; assert alignment + counts
    assert all(s % 600_000 == 0 for (_, s) in by)
    assert sorted(by.values()) == [1, 1, 2, 2]


def test_sliding_window(clicks):
    win = clicks.key_by("user").window(SlidingEventTimeWindows.of("10 minutes", "5 minutes"))
    out = win.aggregate(SumAgg(), "total INT").to_data_frame()
    # each element lands in exactly 2 sliding windows
    assert sum(r.total for r in out.collect()) == 2 * 46


def test_session_window(clicks):
    win = clicks.key_by("user").window(EventTimeSessionWindows.with_gap("5 minutes"))
    rows = win.process(WindowInfo(), "user STRING, start_ms LONG, cnt INT").to_data_frame().collect()
    got = sorted((r.user, r.cnt) for r in rows)
    assert got == [("a", 1), ("a", 2), ("b", 2), ("c", 1)]


def test_count_window(clicks):
    win = clicks.key_by("user").count_window(2)
    out = win.reduce(
        lambda a, b: {"user": a["user"], "ts": b["ts"], "n": a["n"] + b["n"]}
    ).to_data_frame()
    # only complete windows of 2 fire: a->[1,3], b->[10,20]; a's 3rd and c never fire
    assert sorted(r.n for r in out.collect()) == [4, 30]


def test_count_window_sliding(clicks):
    # size 2, slide 1: fires at every element with the last 2 elements
    win = clicks.key_by("user").count_window(2, 1)
    out = win.aggregate(SumAgg(), "total INT").to_data_frame()
    assert sorted(r.total for r in out.collect()) == [1, 4, 7, 8, 10, 30]


# -- connected streams -------------------------------------------------------


class EnrichWithLimit(KeyedCoProcessFunction):
    """Control stream (limits) + data stream: emit data joined to the
    latest limit at-or-before it (both sides time-sorted per key)."""

    def open(self, rc):
        self.limit = rc.get_state(ValueStateDescriptor("limit"))

    def process_element1(self, value, ctx, out):  # data
        lim = self.limit.value()
        out.collect({"user": value["user"], "n": value["n"], "lim": lim})

    def process_element2(self, value, ctx, out):  # control
        self.limit.update(value["lim"])


def test_connect_keyed_co_process(env, clicks):
    limits = env.from_collection(
        [
            {"user": "a", "ts": _ts(0, 30), "lim": 100},
            {"user": "b", "ts": _ts(0), "lim": 5},
        ],
        "user STRING, ts TIMESTAMP, lim INT",
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        clicks.connect(limits)
        .key_by("user", "user")
        .process(EnrichWithLimit(), "user STRING, n INT, lim INT")
        .to_data_frame()
    )
    got = {(r.user, r.n): r.lim for r in out.collect()}
    assert got[("a", 1)] is None  # 10:00 data precedes 10:00:30 control
    assert got[("a", 3)] == 100
    assert got[("b", 10)] == 5
    assert got[("c", 7)] is None


# -- broadcast state ---------------------------------------------------------


class ApplyRules(BroadcastProcessFunction):
    RULES = MapStateDescriptor("rules")

    def process_broadcast_element(self, value, ctx):
        ctx.get_broadcast_state(self.RULES).put(value["event"], value["factor"])

    def process_element(self, value, ctx, out):
        f = ctx.get_broadcast_state(self.RULES).get(value["user"])
        out.collect({"user": value["user"], "scaled": value["n"] * (f or 1)})


def test_broadcast_state(env, clicks):
    rules = env.from_collection(
        [{"event": "a", "factor": 10}, {"event": "b", "factor": 100}],
        "event STRING, factor INT",
    )
    out = (
        clicks.connect(rules.broadcast(ApplyRules.RULES))
        .process(ApplyRules(), "user STRING, scaled INT")
        .to_data_frame()
    )
    assert sorted(r.scaled for r in out.collect()) == [7, 10, 30, 50, 1000, 2000]


# -- joins -------------------------------------------------------------------


class PairJoin(ProcessJoinFunction):
    def process_element(self, left, right, ctx, out):
        out.collect({"user": left["user"], "ln": left["n"], "rn": right["n"]})


def test_interval_join(env, clicks):
    right = env.from_collection(
        [
            {"user": "a", "ts": _ts(1, 30), "n": 42},
            {"user": "b", "ts": _ts(9), "n": 43},
        ],
        "user STRING, ts TIMESTAMP, n INT",
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        clicks.key_by("user")
        .interval_join(right.key_by("user"))
        .between("-2 minutes", "2 minutes")
        .process(PairJoin(), "user STRING, ln INT, rn INT")
        .to_data_frame()
    )
    got = sorted((r.user, r.ln) for r in out.collect())
    # a@10:00 and a@10:01 are within 2min of a@10:01:30; b@9:00 right
    # matches nothing within [-2m,+2m] of 10:02/10:03... wait: 10:02 is
    # outside [10:07,10:11]; nothing for b
    assert got == [("a", 1), ("a", 3)]


def test_window_join_and_cogroup(env, clicks):
    right = env.from_collection(
        [{"user": "a", "ts": _ts(3), "m": 1}, {"user": "x", "ts": _ts(3), "m": 2}],
        "user STRING, ts TIMESTAMP, m INT",
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    joined = (
        clicks.join(right)
        .where("user")
        .equal_to("user")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .apply(lambda l, r: {"user": l["user"], "n": l["n"], "m": r["m"]}, "user STRING, n INT, m INT")
        .to_data_frame()
    )
    assert sorted((r.user, r.n) for r in joined.collect()) == [("a", 1), ("a", 3)]

    class CountBoth(CoGroupFunction):
        def co_group(self, first, second, out):
            out.collect({"nl": len(first), "nr": len(second)})

    cg = (
        clicks.co_group(right)
        .where("user")
        .equal_to("user")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .apply(CountBoth(), "nl INT, nr INT")
        .to_data_frame()
    )
    pairs = sorted((r.nl, r.nr) for r in cg.collect())
    # outer semantics: windows with only one populated side appear
    assert (0, 1) in pairs and (2, 1) in pairs


# -- iteration + partitioning ------------------------------------------------


def test_iterate_converges(env):
    s = env.from_collection([{"x": 1}, {"x": 40}, {"x": 100}], "x INT")

    def body(ds):
        return ds.map(lambda r: {"x": min(r["x"] * 2, 100)}, "x INT")

    out = s.iterate(
        body,
        max_iterations=10,
        termination=lambda df: df.filter("x < 100").count() == 0,
    )
    assert sorted(r.x for r in out.to_data_frame().collect()) == [100, 100, 100]


def test_partitioning_ops_preserve_rows(env, clicks):
    n = clicks.to_data_frame().count()
    assert clicks.shuffle().to_data_frame().count() == n
    assert clicks.rebalance().to_data_frame().count() == n
    assert clicks.rescale().to_data_frame().count() == n
    assert clicks.global_().to_data_frame().count() == n
    assert clicks.forward().to_data_frame().count() == n
    custom = clicks.partition_custom(lambda key, parts: hash(key) % parts, "user")
    assert custom.to_data_frame().count() == n


def test_keyed_builtin_agg_is_native_single_exchange(clicks):
    plan = clicks.key_by("user").sum("n").to_data_frame()._jdf.queryExecution().executedPlan().toString()
    # native hash aggregate; no Python evaluation in the plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_window_all(env, clicks):
    out = (
        clicks.window_all(TumblingEventTimeWindows.of("10 minutes"))
        .aggregate(SumAgg(), "total INT")
        .to_data_frame()
    )
    assert sorted(r.total for r in out.collect()) == [5, 7, 34]


# -- Table <-> DataStream bridge --------------------------------------------


def test_table_bridge_roundtrip(spark, env, clicks):
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    # DataStream -> Table -> SQL
    t = tenv.from_data_stream(clicks)
    tenv.create_temporary_view("bridge_clicks", t)
    agg = tenv.execute_sql(
        "SELECT user, SUM(n) AS total FROM bridge_clicks GROUP BY user"
    )
    got = {r.user: r.total for r in agg.to_data_frame().collect()}
    assert got == {"a": 9, "b": 30, "c": 7}
    # Table -> DataStream -> fluent op
    back = tenv.to_data_stream(agg, env)
    doubled = back.map(lambda r: {"user": r["user"], "t2": r["total"] * 2}, "user STRING, t2 LONG")
    assert sorted(r.t2 for r in doubled.to_data_frame().collect()) == [14, 18, 60]


# -- STREAMING execution mode (unbounded micro-batch) ------------------------


@pytest.fixture(scope="module")
def clicks_parquet(spark, tmp_path_factory):
    import shutil

    d = str(tmp_path_factory.mktemp("ds_stream"))
    rows = [
        ("a", _ts(0), 1),
        ("a", _ts(1), 3),
        ("a", _ts(12), 5),
        ("b", _ts(2), 10),
        ("b", _ts(3), 20),
        ("c", _ts(30), 7),
    ]
    df = spark.createDataFrame(rows, "user STRING, ts TIMESTAMP, n INT")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream_clicks(spark, env, path):
    schema = spark.read.parquet(path).schema
    sdf = spark.readStream.schema(schema).parquet(path)
    return env.from_data_frame(sdf).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_bounded_out_of_orderness("0 seconds").with_timestamp_assigner("ts")
    )


def test_streaming_rolling_reduce(spark, env, clicks_parquet):
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    s = _stream_clicks(spark, env, clicks_parquet)
    out = s.key_by("user").reduce(
        lambda a, b: {"user": a["user"], "ts": b["ts"], "n": a["n"] + b["n"]}
    )
    assert out.df.isStreaming
    got = run_to_table(out.to_data_frame(), output_mode="update")
    # rolling emission: one output per input element, per key
    assert sorted(r.n for r in got.collect()) == [1, 4, 7, 9, 10, 30]


def test_streaming_keyed_process_timers(spark, env, clicks_parquet):
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    s = _stream_clicks(spark, env, clicks_parquet)
    out = s.key_by("user").process(GapSessionCounter(), "user STRING, session_n INT")
    got = run_to_table(out.to_data_frame(), output_mode="append")
    rows = sorted((r.user, r.session_n) for r in got.collect())
    # watermark reaches 10:30: a's two sessions fire (10:01+5m in-element,
    # 10:12+5m by timer), b's session fires by timer; c's deadline
    # 10:35 is beyond the final watermark — unfired, exactly the
    # max(ts)-delay cutoff the engine's streaming oracles use
    assert rows == [("a", 1), ("a", 2), ("b", 2)]


def test_windowed_lateness_api_parity(clicks):
    # BATCH mode: allowed lateness is exactly a no-op (no element
    # follows the end-of-input watermark) and the late-data side output
    # is exactly empty; triggers/evictors raise the documented scope
    late = OutputTag("late", "user STRING, ts TIMESTAMP, n INT")
    win = (
        clicks.key_by("user")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .allowed_lateness("1 minute")
        .side_output_late_data(late)
    )
    out = win.aggregate(SumAgg(), "total INT")
    assert sorted(r.total for r in out.to_data_frame().collect()) == [4, 5, 7, 30]
    # the late-data side output resolves and is exactly empty
    assert out.get_side_output(late).to_data_frame().count() == 0
    with pytest.raises(NotImplementedError):
        clicks.key_by("user").window(TumblingEventTimeWindows.of("10 minutes")).trigger(object())
    with pytest.raises(NotImplementedError):
        clicks.key_by("user").window(TumblingEventTimeWindows.of("10 minutes")).evictor(object())


# -- async I/O ---------------------------------------------------------------


def test_async_data_stream(env, clicks):
    import time

    from flink_release_1_16_0_spark.datastream import AsyncDataStream, AsyncFunction

    class Lookup(AsyncFunction):
        DIM = {"a": "alpha", "b": "beta"}

        def async_invoke(self, value):
            if value["user"] == "c":
                time.sleep(5)  # trips the timeout
            return {"user": value["user"], "name": self.DIM.get(value["user"])}

        def timeout(self, value):
            return {"user": value["user"], "name": "TIMEOUT"}

    out = AsyncDataStream.ordered_wait(
        clicks, Lookup(), "500 milliseconds", capacity=4,
        output_type="user STRING, name STRING",
    )
    got = {(r.user, r.name) for r in out.to_data_frame().collect()}
    assert got == {("a", "alpha"), ("b", "beta"), ("c", "TIMEOUT")}


class WindowSumAgg:
    def create_accumulator(self):
        return {"user": None, "n": 0}

    def add(self, row, acc):
        acc["user"] = row["user"]
        acc["n"] += row["n"]
        return acc

    def get_result(self, acc):
        return acc


def test_streaming_window_aggregate(spark, env, clicks_parquet):
    """Unbounded tumbling-window AggregateFunction: one accumulator per
    (key, window) in keyed state; a window fires exactly once when the
    watermark passes its end; windows the final watermark never settles
    stay silent."""
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    s = _stream_clicks(spark, env, clicks_parquet)
    out = (
        s.key_by("user")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .aggregate(WindowSumAgg(), "user STRING, n INT")
    )
    assert out.df.isStreaming
    got = run_to_table(out.to_data_frame(), output_mode="append")
    rows = sorted((r.user, r.n) for r in got.collect())
    # final watermark = max ts (10:30) - 0s delay: a's [10:00,10:10) = 4
    # and [10:10,10:20) = 5 fire, b's [10:00,10:10) = 30 fires; c's
    # [10:30,10:40) window end is past the watermark -> silent
    assert rows == [("a", 4), ("a", 5), ("b", 30)]


def test_streaming_builtin_aggs(spark, env, clicks_parquet):
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    s = _stream_clicks(spark, env, clicks_parquet)
    rolled = run_to_table(
        s.key_by("user").sum("n").to_data_frame(), output_mode="update"
    )
    # rolling sum per element: a -> 1,4,9; b -> 10,30; c -> 7
    assert sorted(r.n for r in rolled.collect()) == [1, 4, 7, 9, 10, 30]

    best = run_to_table(
        s.key_by("user").max_by("n").to_data_frame(), output_mode="update"
    )
    # rolling extreme element per arrival
    assert sorted((r.user, r.n) for r in best.collect()) == [
        ("a", 1), ("a", 3), ("a", 5), ("b", 10), ("b", 20), ("c", 7),
    ]


def test_keyed_broadcast_process_with_timers(env, clicks):
    from flink_release_1_16_0_spark.datastream import KeyedBroadcastProcessFunction

    class ThresholdAlert(KeyedBroadcastProcessFunction):
        """Broadcast per-user thresholds; count per-key breaches in
        keyed state; flush at the end-of-input timer."""

        LIMITS = MapStateDescriptor("limits")

        def open(self, rc):
            self.breaches = rc.get_state(ValueStateDescriptor("breaches", 0))

        def process_broadcast_element(self, value, ctx):
            ctx.get_broadcast_state(self.LIMITS).put(value["user"], value["cap"])

        def process_element(self, value, ctx, out):
            cap = ctx.get_broadcast_state(self.LIMITS).get(value["user"])
            if cap is not None and value["n"] > cap:
                self.breaches.update(self.breaches.value() + 1)
                ctx.timer_service().register_event_time_timer(ctx.timestamp() + 1)

        def on_timer(self, t, ctx, out):
            if self.breaches.value():
                out.collect({"user": ctx.get_current_key(), "breaches": self.breaches.value()})
                self.breaches.update(0)

    caps = env.from_collection(
        [{"user": "a", "cap": 2}, {"user": "b", "cap": 15}],
        "user STRING, cap INT",
    )
    out = (
        clicks.key_by("user")
        .connect(caps.broadcast(ThresholdAlert.LIMITS))
        .process(ThresholdAlert(), "user STRING, breaches INT")
        .to_data_frame()
    )
    got = {(r.user, r.breaches) for r in out.collect()}
    # a: n=3,5 breach cap 2 -> 2; b: n=20 breaches cap 15 -> 1; c: no cap
    assert got == {("a", 2), ("b", 1)}


def test_facade_plan_topology(env, clicks):
    # keyed builtin agg: exactly one exchange (the groupBy hash
    # partitioning), nothing Python, partial aggregation present
    plan = (
        clicks.key_by("user").sum("n").to_data_frame()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    # keyed process: exactly one exchange feeding the pandas harness —
    # the group-amortized lowering (repartition + in-partition sort +
    # mapInPandas, see grouped_apply) shuffles once like applyInPandas
    # but pays one Python invocation per Arrow batch, not per group
    out = clicks.key_by("user").process(GapSessionCounter(), "user STRING, session_n INT")
    plan2 = out.to_data_frame()._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Exchange") == 1
    assert "MapInPandas" in plan2


def test_grouped_apply_groups_split_across_arrow_batches(spark, env):
    """The group-amortized lowering must reassemble groups that Arrow
    splits across batches: with maxRecordsPerBatch=7 and 40-row groups,
    every group spans several batches and only the carry-over logic
    keeps the per-key fold exact."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        rows = [
            {"k": f"k{i % 5}", "ts": _ts(j % 50, i), "n": 1}
            for i in range(5)
            for j in range(40)
        ]
        s = env.from_collection(rows, "k STRING, ts TIMESTAMP, n INT").assign_timestamps_and_watermarks(
            WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
        )
        out = s.key_by("k").reduce(
            lambda a, b: {"k": a["k"], "ts": b["ts"], "n": a["n"] + b["n"]}
        )
        got = sorted((r.k, r.n) for r in out.to_data_frame().collect())
        assert got == [(f"k{i}", 40) for i in range(5)]
        # windowed process under the same batch-splitting pressure
        class CountWin(ProcessWindowFunction):
            def process(self, key, ctx, elements, out):
                out.collect({"k": key, "cnt": len(list(elements))})

        win = (
            s.key_by("k")
            .window(TumblingEventTimeWindows.of("1 hour"))
            .process(CountWin(), "k STRING, cnt INT")
        )
        got2 = sorted((r.k, r.cnt) for r in win.to_data_frame().collect())
        assert got2 == [(f"k{i}", 40) for i in range(5)]
        # session windows ride the shuffle-free path (the session-id
        # window function already co-locates the key) — same splitting
        # pressure, and the plan must still carry exactly ONE exchange
        sess = (
            s.key_by("k")
            .window(EventTimeSessionWindows.with_gap("5 minutes"))
            .process(CountWin(), "k STRING, cnt INT")
        )
        plan = sess.to_data_frame()._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        got3 = {(r.k, r.cnt) for r in sess.to_data_frame().collect()}
        assert sum(c for _, c in got3) == 200  # every row in some session
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


# -- review-finding regressions ----------------------------------------------


def test_min_by_max_by_tie_break(env):
    rows = [
        {"k": "x", "ts": _ts(0), "n": 5},
        {"k": "x", "ts": _ts(1), "n": 5},
    ]
    s = env.from_collection(rows, "k STRING, ts TIMESTAMP, n INT").assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    # first=True (default): the FIRST arrival wins ties — both directions
    assert s.key_by("k").max_by("n").to_data_frame().collect()[0].ts == _ts(0)
    assert s.key_by("k").min_by("n").to_data_frame().collect()[0].ts == _ts(0)
    # first=False: the LAST arrival wins ties (also exercises negating
    # the order column, which must be numeric, not TIMESTAMP)
    assert s.key_by("k").max_by("n", first=False).to_data_frame().collect()[0].ts == _ts(1)
    assert s.key_by("k").min_by("n", first=False).to_data_frame().collect()[0].ts == _ts(1)


def test_session_windows_merge_touching(env):
    # two elements exactly `gap` apart share a session (TimeWindow.
    # intersects uses <=/>=, so touching windows merge)
    rows = [
        {"k": "x", "ts": _ts(0), "n": 1},
        {"k": "x", "ts": _ts(5), "n": 2},   # exactly the 5-minute gap
        {"k": "x", "ts": _ts(11), "n": 4},  # > gap: new session
    ]
    s = env.from_collection(rows, "k STRING, ts TIMESTAMP, n INT").assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        s.key_by("k")
        .window(EventTimeSessionWindows.with_gap("5 minutes"))
        .aggregate(SumAgg(), "total INT")
        .to_data_frame()
    )
    assert sorted(r.total for r in out.collect()) == [3, 4]


def test_side_output_rows_do_not_leak_downstream(clicks):
    main = clicks.process(
        SplitBySize(), "user STRING, n INT", side_outputs=(SplitBySize.SMALL,)
    )
    # downstream transforms see ONLY main rows (side rows carried
    # null main columns and crashed/polluted downstream user fns)
    doubled = main.map(lambda r: {"n2": r["n"] * 2}, "n2 INT")
    assert sorted(r.n2 for r in doubled.to_data_frame().collect()) == [10, 14, 20, 40]
    assert "__side_tag" not in main.filter("n > 5").to_data_frame().columns
    keyed = main.key_by("user").sum("n").to_data_frame()
    # only main rows aggregate: a:5, b:30, c:7 (no null-keyed side row)
    assert {(r.user, r.n) for r in keyed.collect()} == {("a", 5), ("b", 30), ("c", 7)}
    # the side output itself is still intact on the producing operator
    assert main.get_side_output(SplitBySize.SMALL).to_data_frame().count() == 2


def test_window_all_reduce_hides_synthetic_key(env, clicks):
    out = clicks.window_all(TumblingEventTimeWindows.of("10 minutes")).reduce(
        lambda a, b: {"user": a["user"], "ts": b["ts"], "n": a["n"] + b["n"]}
    )
    df = out.to_data_frame()
    assert "__all" not in df.columns
    assert sorted(r.n for r in df.collect()) == [5, 7, 34]


def test_set_parallelism(spark, clicks):
    env2 = StreamExecutionEnvironment.get_execution_environment(spark).set_parallelism(3)
    s = env2.from_collection([{"x": i} for i in range(10)], "x INT")
    assert s.rebalance().to_data_frame().rdd.getNumPartitions() == 3


def test_streaming_interval_join(spark, env, clicks_parquet, tmp_path):
    import shutil

    from flink_release_1_16_0_spark.streaming.core import run_to_table

    d = str(tmp_path / "right_stream")
    rows = [("a", _ts(1, 30), 42), ("b", _ts(9), 43)]
    rdf = spark.createDataFrame(rows, "user STRING, ts TIMESTAMP, n INT")
    rdf.coalesce(1).write.mode("overwrite").parquet(d)

    left = _stream_clicks(spark, env, clicks_parquet)
    right = env.from_data_frame(
        spark.readStream.schema(rdf.schema).parquet(d)
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_bounded_out_of_orderness("0 seconds").with_timestamp_assigner("ts")
    )
    out = (
        left.key_by("user")
        .interval_join(right.key_by("user"))
        .between("-2 minutes", "2 minutes")
        .process(PairJoin(), "user STRING, ln INT, rn INT")
    )
    assert out.df.isStreaming
    got = run_to_table(out.to_data_frame(), output_mode="append")
    assert sorted((r.user, r.ln) for r in got.collect()) == [("a", 1), ("a", 3)]
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_keyed_process_side_outputs(spark, env, clicks_parquet):
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    class Route(KeyedProcessFunction):
        BIG = OutputTag("big", "user STRING, n INT")

        def process_element(self, value, ctx, out):
            if value["n"] >= 10:
                ctx.output(self.BIG, {"user": value["user"], "n": value["n"]})
            else:
                out.collect({"user": value["user"], "n": value["n"]})

    s = _stream_clicks(spark, env, clicks_parquet)
    routed = s.key_by("user").process(
        Route(), "user STRING, n INT", side_outputs=(Route.BIG,)
    )
    main = run_to_table(routed.to_data_frame(), output_mode="append")
    big = run_to_table(
        routed.get_side_output(Route.BIG).to_data_frame(), output_mode="append"
    )
    assert sorted(r.n for r in main.collect()) == [1, 3, 5, 7]
    assert sorted(r.n for r in big.collect()) == [10, 20]


def test_streaming_connect_co_process(spark, env, clicks_parquet, tmp_path):
    import shutil

    from flink_release_1_16_0_spark.streaming.core import run_to_table

    d = str(tmp_path / "limits_stream")
    rows = [("a", _ts(0, 30), 100), ("b", _ts(0), 5)]
    ldf = spark.createDataFrame(rows, "user STRING, ts TIMESTAMP, lim INT")
    ldf.coalesce(1).write.mode("overwrite").parquet(d)

    clicks_s = _stream_clicks(spark, env, clicks_parquet)
    limits = env.from_data_frame(
        spark.readStream.schema(ldf.schema).parquet(d)
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        clicks_s.connect(limits)
        .key_by("user", "user")
        .process(EnrichWithLimit(), "user STRING, n INT, lim INT")
    )
    assert out.df.isStreaming
    got = run_to_table(out.to_data_frame(), output_mode="append")
    vals = {(r.user, r.n): r.lim for r in got.collect()}
    assert vals[("a", 1)] is None and vals[("a", 3)] == 100
    assert vals[("b", 10)] == 5 and vals[("c", 7)] is None
    shutil.rmtree(d, ignore_errors=True)


class ProcTimerCoProcess(KeyedCoProcessFunction):
    """process_element2 arms a PROCESSING-time timer already in the
    past; the key then goes quiet — the timer must still fire on a
    later micro-batch (review finding: the co-process streaming loop
    only woke for event-time timers)."""

    def process_element1(self, row, ctx, out):
        pass

    def process_element2(self, row, ctx, out):
        ctx.timer_service().register_processing_time_timer(
            ctx.timer_service().current_processing_time() - 1
        )

    def on_timer(self, t, ctx, out):
        out.collect({"user": ctx.get_current_key(), "fired": True})


def test_streaming_co_process_proc_time_timer(spark, env, clicks_parquet, tmp_path):
    import shutil

    from flink_release_1_16_0_spark.streaming.core import run_to_table

    d = str(tmp_path / "proc_timer_stream")
    # only user b appears on input 2, with the EARLIEST event time — the
    # clicks stream keeps advancing the watermark afterwards, so the
    # wm+1 re-arm (not a new element for b) is what fires the timer
    ldf = spark.createDataFrame([("b", _ts(0), 1)], "user STRING, ts TIMESTAMP, x INT")
    ldf.coalesce(1).write.mode("overwrite").parquet(d)
    clicks_s = _stream_clicks(spark, env, clicks_parquet)
    side2 = env.from_data_frame(
        spark.readStream.schema(ldf.schema).parquet(d)
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = (
        clicks_s.connect(side2)
        .key_by("user", "user")
        .process(ProcTimerCoProcess(), "user STRING, fired BOOLEAN")
    )
    got = run_to_table(out.to_data_frame(), output_mode="append")
    assert [(r.user, r.fired) for r in got.collect()] == [("b", True)]
    shutil.rmtree(d, ignore_errors=True)


def test_side_tagged_stream_two_input_ops_see_main_only(env, clicks):
    routed = clicks.process(
        SplitBySize(), "user STRING, n INT", side_outputs=(SplitBySize.SMALL,)
    )
    # python-callable filter: no helper columns in the output schema
    filtered = routed.filter(lambda r: r["n"] > 0)
    assert "__side_tag" not in filtered.to_data_frame().columns
    # two-input ops consume main rows only (no all-null phantom elements)
    class CountBoth(CoGroupFunction):
        def co_group(self, first, second, out):
            out.collect({"nl": len(first), "nr": len(second)})

    other = clicks.filter("n = 7")
    # routed main rows have no ts column, so re-derive a timestamped copy
    routed_ts = routed.map(
        lambda r: {"user": r["user"], "ts": _ts(0), "n": r["n"]},
        "user STRING, ts TIMESTAMP, n INT",
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    cg = (
        routed_ts.co_group(other)
        .where("user")
        .equal_to("user")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .apply(CountBoth(), "nl INT, nr INT")
        .to_data_frame()
    )
    # main rows: a:1(n=5), b:2, c:1 — none of the 2 side rows appear
    assert sum(r.nl for r in cg.collect()) == 4


def test_env_source_creation_parity(env, tmp_path):
    """StreamExecutionEnvironment.fromElements / fromSequence /
    readTextFile (the remaining source-creation family)."""
    s = env.from_elements(1, 2, 3, type_ddl="value int")
    assert sorted(r.value for r in s.to_data_frame().collect()) == [1, 2, 3]
    s = env.from_elements(("a", 1), ("b", 2), type_ddl="k string, v int")
    assert {(r.k, r.v) for r in s.to_data_frame().collect()} == {("a", 1), ("b", 2)}
    s = env.from_sequence(5, 8)
    assert sorted(r.value for r in s.to_data_frame().collect()) == [5, 6, 7, 8]
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\n")
    s = env.read_text_file(str(p))
    assert sorted(r.value for r in s.to_data_frame().collect()) == ["alpha", "beta"]
    with pytest.raises(ValueError, match="type_ddl"):
        env.from_elements((1, 2))
    # scalar element types are DERIVED, not stringified
    assert [r.value for r in env.from_elements(1, 2).to_data_frame().collect()] == [1, 2]
    assert env.from_elements(1.5).to_data_frame().dtypes == [("value", "double")]
    with pytest.raises(ValueError, match="2\\*\\*63"):
        env.from_sequence(0, 2**63 - 1)


# -- STREAMING keyed state, lateness scope and the facade oracles -------------


class RunningTotal(KeyedProcessFunction):
    """Per element, the key's running total of ``n`` in a ReducingState
    whose reduce function is a lambda."""

    def open(self, rc):
        self.total = rc.get_reducing_state(
            ReducingStateDescriptor("total", lambda a, b: a + b)
        )

    def process_element(self, value, ctx, out):
        self.total.add(value["n"])
        out.collect({"user": value["user"], "total": self.total.get()})


def test_streaming_keyed_process_reducing_state_lambda(spark, env, tmp_path):
    """Keyed state holds the user's values, not the state objects: a
    ReducingState built on a lambda carries its value from one
    micro-batch to the next."""
    import os
    import time

    import pandas as pd

    from flink_release_1_16_0_spark.streaming.core import run_to_table

    d = tmp_path / "reduce_stream"
    d.mkdir()
    batches = [[("a", _ts(0), 1), ("a", _ts(1), 3)], [("a", _ts(2), 5), ("b", _ts(3), 10)]]
    for i, rows in enumerate(batches):
        path = d / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["user", "ts", "n"]).astype({"n": "int32"})
        pdf.to_parquet(path, coerce_timestamps="us", index=False)
        t = time.time() - 100 + i * 10
        os.utime(path, (t, t))
    sdf = (
        spark.readStream.schema("user STRING, ts TIMESTAMP, n INT")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    s = env.from_data_frame(sdf).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    )
    out = s.key_by("user").process(RunningTotal(), "user STRING, total INT")
    got = run_to_table(out.to_data_frame(), output_mode="append")
    assert sorted((r.user, r.total) for r in got.collect()) == [
        ("a", 1), ("a", 4), ("a", 9), ("b", 10),
    ]


class CountAcc:
    """A user accumulator class, which a worker knows only by value."""

    def __init__(self):
        self.user, self.n = None, 0


class ClassAccSum(AggregateFunction):
    def create_accumulator(self):
        return CountAcc()

    def add(self, row, acc):
        acc.user, acc.n = row["user"], acc.n + row["n"]
        return acc

    def get_result(self, acc):
        return {"user": acc.user, "n": acc.n}


def test_streaming_window_aggregate_class_accumulator(spark, env, clicks_parquet):
    """An accumulator of a user class survives keyed state, although
    the worker cannot import the class by name."""
    from flink_release_1_16_0_spark.streaming.core import run_to_table

    out = (
        _stream_clicks(spark, env, clicks_parquet)
        .key_by("user")
        .window(TumblingEventTimeWindows.of("10 minutes"))
        .aggregate(ClassAccSum(), "user STRING, n INT")
    )
    got = run_to_table(out.to_data_frame(), output_mode="append")
    assert sorted((r.user, r.n) for r in got.collect()) == [("a", 4), ("a", 5), ("b", 30)]


def test_streaming_window_refuses_allowed_lateness(spark, env, clicks_parquet):
    """An unbounded window fires at the watermark with zero allowed
    lateness; a lateness above zero or a late-data side output raises
    and names the Table layer's allowed-lateness group window."""
    s = _stream_clicks(spark, env, clicks_parquet)
    win = s.key_by("user").window(TumblingEventTimeWindows.of("10 minutes"))
    assert win.allowed_lateness("0 seconds") is win
    with pytest.raises(NotImplementedError, match="allowed-lateness group window"):
        win.allowed_lateness("1 minute")
    with pytest.raises(NotImplementedError, match="allowed-lateness group window"):
        win.side_output_late_data(OutputTag("late", "user STRING, ts TIMESTAMP, n INT"))


def _events_at(tmp_path, rows) -> str:
    """An events fixture of (user_id, ms offset from 2024-01-01) rows."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1)
    n = len(rows)
    pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [t0 + dt.timedelta(milliseconds=ms) for _u, ms in rows],
            "user_id": [u for u, _ms in rows],
            "event_type": ["click"] * n,
            "value": [1.5] * n,
            "props": ["{}"] * n,
        }
    ).to_parquet(tmp_path / "events.parquet", coerce_timestamps="us", index=False)
    return str(tmp_path)


def _registry_vs_oracle(spark, name: str, sf_dir: str):
    import duckdb

    from flink_release_1_16_0_spark.queries import load_registry
    from tools.check_oracle import compare

    spec = load_registry()[name]
    got = spec.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return got, compare(got, con.execute(spec.oracle).fetchdf())


def test_stream_window_aggregate_oracle_at_window_end_minus_one(spark, tmp_path):
    """dsapi_stream_window_aggregate and its oracle on an events
    fixture whose final watermark (max ts - 10 min) is the first hour
    window's end minus 1 ms: the window fires, so the oracle keeps it."""
    hour, delay = 3_600_000, 600_000
    sf = _events_at(tmp_path, [(1, 0), (1, 60_000), (2, hour - 1 + delay)])
    got, verdict = _registry_vs_oracle(spark, "dsapi_stream_window_aggregate", sf)
    assert len(got) == 1  # user 1's first hour
    assert verdict == ("OK", "")


def test_stream_process_timers_oracle_at_the_session_deadline(spark, tmp_path):
    """dsapi_stream_process_timers and its oracle on an events fixture
    whose final watermark (max ts - 10 min) is exactly user 1's session
    deadline (last ts + 30 min): the timer fires, so the oracle keeps
    the session."""
    gap, delay = 1_800_000, 600_000
    sf = _events_at(tmp_path, [(1, 0), (1, 60_000), (2, 60_000 + gap + delay)])
    got, verdict = _registry_vs_oracle(spark, "dsapi_stream_process_timers", sf)
    assert len(got) == 1  # user 1's session of two
    assert verdict == ("OK", "")
