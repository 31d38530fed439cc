"""DataStream API facade coverage: oracle-gated end-to-end programs.

Each entry runs a fluent DataStream program (SURVEY.md section 1.4
item 3 — keyed state, timers, windows, connected streams, broadcast
state, side outputs) against the driver parquet and is hash-compared to
a DuckDB oracle expressing the same semantics in ANSI SQL, gating the
whole lowering chain in ``datastream/stream.py``.

Determinism: integer folds are order-free; double accumulation inside
pandas harnesses goes through ``decimal.Decimal`` (exact on the
fixtures' decimal grid, commutative), so results are bit-identical to
the oracle's DECIMAL sums regardless of partitioning or tie order.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.catalog import load_table
from flink_release_1_16_0_spark.datastream import (
    BroadcastProcessFunction,
    KeyedCoProcessFunction,
    KeyedProcessFunction,
    MapStateDescriptor,
    OutputTag,
    ProcessWindowFunction,
    StreamExecutionEnvironment,
    TumblingEventTimeWindows,
    ValueStateDescriptor,
    WatermarkStrategy,
)
from flink_release_1_16_0_spark.queries import register

_EVENT_TIME = WatermarkStrategy.for_bounded_out_of_orderness(
    "10 minutes"
).with_timestamp_assigner("ts")


def _events(spark: SparkSession, sf_dir: str):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    return env.from_data_frame(
        load_table(spark, sf_dir, "events")
    ).assign_timestamps_and_watermarks(_EVENT_TIME)


# ---------------------------------------------------------------------------
# keyed reduce (KeyedStream.java:743)

_KEYED_REDUCE_ORACLE = """
SELECT user_id,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       COUNT(*) AS n
FROM events
GROUP BY user_id
"""


@register("dsapi_keyed_reduce", _KEYED_REDUCE_ORACLE, tags=("dsapi", "agg"))
def dsapi_keyed_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyBy(user).reduce — integer fold in event-time order (BATCH
    mode emits the final reduced element per key)."""

    def fold(a: dict, b: dict) -> dict:
        # a ReduceFunction returns the full element type (reference
        # contract: reduce is T x T -> T)
        return {
            "user_id": a["user_id"],
            "ts": b["ts"],
            "id_sum": a["id_sum"] + b["id_sum"],
            "n": a["n"] + 1,
        }

    s = _events(spark, sf_dir)
    seeded = s.map(
        lambda r: {"user_id": r["user_id"], "ts": r["ts"], "id_sum": r["event_id"], "n": 1},
        "user_id BIGINT, ts TIMESTAMP, id_sum BIGINT, n BIGINT",
    ).assign_timestamps_and_watermarks(_EVENT_TIME)
    out = seeded.key_by("user_id").reduce(fold)
    return out.to_data_frame().select("user_id", "id_sum", "n")


# ---------------------------------------------------------------------------
# keyed process + event-time timers (KeyedProcessFunction.java:48)


class _GapSessions(KeyedProcessFunction):
    """Gap sessionization via state + timers: a new session starts when
    the gap since the previous element is >= 30 minutes; the deadline
    timer flushes the final session at the end-of-input watermark."""

    GAP_MS = 30 * 60 * 1000

    def open(self, rc):
        self.count = rc.get_state(ValueStateDescriptor("count", 0))
        self.deadline = rc.get_state(ValueStateDescriptor("deadline"))

    def process_element(self, value, ctx, out):
        t = ctx.timestamp()
        dl = self.deadline.value()
        if dl is not None and t >= dl and self.count.value():
            # count==0 means the deadline timer already flushed this
            # session (multi-batch replay) — nothing to emit
            out.collect({"user_id": ctx.get_current_key(), "session_n": self.count.value()})
            self.count.update(0)
        self.count.update(self.count.value() + 1)
        if dl is not None:
            ctx.timer_service().delete_event_time_timer(dl)
        new_dl = t + self.GAP_MS
        ctx.timer_service().register_event_time_timer(new_dl)
        self.deadline.update(new_dl)

    def on_timer(self, timestamp, ctx, out):
        if self.count.value():
            out.collect({"user_id": ctx.get_current_key(), "session_n": self.count.value()})
            self.count.update(0)


_SESSIONS_ORACLE = """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
)
SELECT user_id, CAST(COUNT(*) AS INT) AS session_n
FROM s GROUP BY user_id, sess
"""


@register("dsapi_process_timers", _SESSIONS_ORACLE, tags=("dsapi", "state", "timers"))
def dsapi_process_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyBy(user).process with ValueState + event-time timers — the
    canonical sessionization ProcessFunction, oracle'd against a SQL
    gap-and-islands formulation."""
    out = _events(spark, sf_dir).key_by("user_id").process(
        _GapSessions(), "user_id BIGINT, session_n INT"
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# event-time tumbling window via ProcessWindowFunction (WindowedStream.java:587)


class _HourlyStats(ProcessWindowFunction):
    def process(self, key, context, elements, out):
        total = Decimal(0)
        for e in elements:
            total += Decimal(str(e["value"]))
        out.collect(
            {
                "event_type": key,
                "win_start_ms": context.window.start,
                "cnt": len(elements),
                "total_value": float(total),
            }
        )


_WINDOW_ORACLE = """
SELECT event_type,
       (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type, win_start_ms
"""


@register("dsapi_window_process", _WINDOW_ORACLE, tags=("dsapi", "window"))
def dsapi_window_process(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyBy(type).window(tumble 1h).process — window bounds come from
    the native epoch-ms assignment; Decimal accumulation keeps the
    double sum exact (order-free) to match the oracle's DECIMAL sum."""
    out = (
        _events(spark, sf_dir)
        .key_by("event_type")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .process(
            _HourlyStats(),
            "event_type STRING, win_start_ms BIGINT, cnt BIGINT, total_value DOUBLE",
        )
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# connected streams: keyed co-process enrichment (CoProcessFunction.java)


class _SegmentEnrich(KeyedCoProcessFunction):
    """Control stream (customers, timestamped at epoch-era) seeds
    per-key ValueState; the data stream (orders) reads it — the keyed
    enrichment co-process pattern."""

    def open(self, rc):
        self.segment = rc.get_state(ValueStateDescriptor("segment"))

    def process_element1(self, value, ctx, out):  # orders
        out.collect(
            {
                "o_orderkey": value["o_orderkey"],
                "segment": self.segment.value(),
            }
        )

    def process_element2(self, value, ctx, out):  # customers (control)
        self.segment.update(value["c_mktsegment"])


_ENRICH_ORACLE = """
SELECT o_orderkey, c_mktsegment AS segment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@register("dsapi_connect_enrich", _ENRICH_ORACLE, tags=("dsapi", "join", "state"))
def dsapi_connect_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    orders = env.from_data_frame(
        load_table(spark, sf_dir, "orders")
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("o_orderdate")
    )
    control = env.from_data_frame(
        load_table(spark, sf_dir, "customer").withColumn(
            "ctl_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        )
    ).assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ctl_ts")
    )
    out = (
        orders.connect(control)
        .key_by("o_custkey", "c_custkey")
        .process(_SegmentEnrich(), "o_orderkey BIGINT, segment STRING")
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# side outputs (OutputTag.java:59)


class _RouteBySize(KeyedProcessFunction):
    SMALL = OutputTag("small", "event_id BIGINT, value DOUBLE")

    def process_element(self, value, ctx, out):
        if value["value"] >= 50:
            out.collect({"event_id": value["event_id"], "value": value["value"]})
        else:
            ctx.output(self.SMALL, {"event_id": value["event_id"], "value": value["value"]})


_SIDE_ORACLE = """
SELECT event_id, value,
       CASE WHEN value >= 50 THEN 'main' ELSE 'small' END AS route
FROM events
"""


@register("dsapi_side_outputs", _SIDE_ORACLE, tags=("dsapi",))
def dsapi_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-function side outputs: the main route and the tagged
    route re-unioned with labels, covering the tag plumbing and the
    typed side-output decode."""
    s = _events(spark, sf_dir).key_by("user_id").process(
        _RouteBySize(),
        "event_id BIGINT, value DOUBLE",
        side_outputs=(_RouteBySize.SMALL,),
    )
    main = s.to_data_frame().withColumn("route", F.lit("main"))
    small = s.get_side_output(_RouteBySize.SMALL).to_data_frame().withColumn(
        "route", F.lit("small")
    )
    return main.unionByName(small)


# ---------------------------------------------------------------------------
# broadcast state (BroadcastProcessFunction.java)


class _NationNames(BroadcastProcessFunction):
    NAMES = MapStateDescriptor("names")

    def process_broadcast_element(self, value, ctx):
        ctx.get_broadcast_state(self.NAMES).put(value["n_nationkey"], value["n_name"])

    def process_element(self, value, ctx, out):
        out.collect(
            {
                "c_custkey": value["c_custkey"],
                "nation": ctx.get_broadcast_state(self.NAMES).get(value["c_nationkey"]),
            }
        )


_BCAST_ORACLE = """
SELECT c_custkey, n_name AS nation
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


@register("dsapi_broadcast_state", _BCAST_ORACLE, tags=("dsapi", "join"))
def dsapi_broadcast_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-state enrichment: the small control stream (nation)
    builds the broadcast map consumed by every main-stream task — the
    reference's broadcast state pattern, Spark's replicated small-dim
    shape (no shuffle of the main stream)."""
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    customers = env.from_data_frame(load_table(spark, sf_dir, "customer"))
    nations = env.from_data_frame(load_table(spark, sf_dir, "nation"))
    out = customers.connect(nations.broadcast(_NationNames.NAMES)).process(
        _NationNames(), "c_custkey BIGINT, nation STRING"
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# window coGroup (CoGroupedStreams, DataStream.java:720)

_COGROUP_ORACLE = """
WITH a AS (
  SELECT user_id, (epoch_ms(ts) // 3600000) * 3600000 AS win_ms, COUNT(*) AS nl
  FROM events WHERE event_type = 'click' GROUP BY user_id, win_ms
), b AS (
  SELECT user_id, (epoch_ms(ts) // 3600000) * 3600000 AS win_ms, COUNT(*) AS nr
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, win_ms
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       COALESCE(a.win_ms, b.win_ms) AS win_ms,
       CAST(COALESCE(nl, 0) AS INT) AS n_clicks,
       CAST(COALESCE(nr, 0) AS INT) AS n_purchases
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.win_ms = b.win_ms
"""


@register("dsapi_window_cogroup", _COGROUP_ORACLE, tags=("dsapi", "window", "join"))
def dsapi_window_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed coGroup of two event-type substreams — outer semantics
    (one-sided windows appear), both sides shuffled once on
    (key, window)."""
    from flink_release_1_16_0_spark.datastream import CoGroupFunction
    from flink_release_1_16_0_spark.datastream.stream import _ts_ms

    class CountBoth(CoGroupFunction):
        def co_group(self, first, second, out):
            anchor = first[0] if first else second[0]
            win_ms = (_ts_ms(anchor["ts"]) // 3_600_000) * 3_600_000
            out.collect(
                {
                    "user_id": anchor["user_id"],
                    "win_ms": win_ms,
                    "n_clicks": len(first),
                    "n_purchases": len(second),
                }
            )

    s = _events(spark, sf_dir)
    clicks = s.filter("event_type = 'click'")
    buys = s.filter("event_type = 'purchase'")
    out = (
        clicks.co_group(buys)
        .where("user_id")
        .equal_to("user_id")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .apply(CountBoth(), "user_id BIGINT, win_ms BIGINT, n_clicks INT, n_purchases INT")
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# flink-cep Pattern API (CEP.java:47 / Pattern.java)

_CEP_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         lead(ts)       OVER w AS b_ts,
         lead(event_id) OVER w AS b_id,
         lead(value)    OVER w AS b_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS a_id, b_id
FROM o
WHERE value < 50 AND b_value > 200 AND b_ts < ts + INTERVAL 1 DAY
"""


@register("dsapi_cep_pattern", _CEP_ORACLE, tags=("dsapi", "cep"))
def dsapi_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern.begin(low).next(high).within(1d) over the keyed event
    stream (strict contiguity, reference-default no-skip) — oracle'd as
    the adjacent-pair lead() formulation."""
    from flink_release_1_16_0_spark.datastream import CEP, Pattern

    pat = (
        Pattern.begin("low")
        .where(lambda r: r["value"] < 50)
        .next("high")
        .where(lambda r: r["value"] > 200)
        .within("1 day")
    )
    out = CEP.pattern(_events(spark, sf_dir).key_by("user_id"), pat).select(
        lambda m: {
            "user_id": m["low"][0]["user_id"],
            "a_id": m["low"][0]["event_id"],
            "b_id": m["high"][0]["event_id"],
        },
        "user_id BIGINT, a_id BIGINT, b_id BIGINT",
        tiebreaker="event_id",
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# interval join (KeyedStream.java:438)

_INTERVAL_ORACLE = """
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND epoch_ms(b.ts) >= epoch_ms(a.ts)
 AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 7200000
"""


@register("dsapi_interval_join", _INTERVAL_ORACLE, tags=("dsapi", "join"))
def dsapi_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval join via the facade: the equi+range pair build is
    a native join (no Python in the shuffle); the ProcessJoinFunction
    maps pairs Arrow-batched. Oracle bounds compare at the same epoch-ms
    precision the facade uses."""
    from flink_release_1_16_0_spark.datastream import ProcessJoinFunction

    class Pair(ProcessJoinFunction):
        def process_element(self, left, right, ctx, out):
            out.collect(
                {
                    "user_id": left["user_id"],
                    "a_id": left["event_id"],
                    "b_id": right["event_id"],
                }
            )

    s = _events(spark, sf_dir)
    clicks = s.filter("event_type = 'click'")
    buys = s.filter("event_type = 'purchase'")
    out = (
        clicks.key_by("user_id")
        .interval_join(buys.key_by("user_id"))
        .between("0 seconds", "2 hours")
        .process(Pair(), "user_id BIGINT, a_id BIGINT, b_id BIGINT")
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# window join (DataStream.java:728 / JoinedStreams)

_WJOIN_ORACLE = """
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'purchase'
 AND (epoch_ms(a.ts) // 3600000) = (epoch_ms(b.ts) // 3600000)
"""


@register("dsapi_window_join", _WJOIN_ORACLE, tags=("dsapi", "join", "window"))
def dsapi_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window join via the facade — pairs form through a
    native equi-join on (key, window start); the JoinFunction maps each
    pair."""
    s = _events(spark, sf_dir)
    signups = s.filter("event_type = 'signup'")
    buys = s.filter("event_type = 'purchase'")
    out = (
        signups.join(buys)
        .where("user_id")
        .equal_to("user_id")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .apply(
            lambda l, r: {
                "user_id": l["user_id"],
                "a_id": l["event_id"],
                "b_id": r["event_id"],
            },
            "user_id BIGINT, a_id BIGINT, b_id BIGINT",
        )
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# async I/O (AsyncWaitOperator.java:91 / AsyncDataStream)

_ASYNC_ORACLE = """
SELECT c_custkey, n_name AS nation
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


@register("dsapi_async_lookup", _ASYNC_ORACLE, tags=("dsapi", "join", "async"))
def dsapi_async_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AsyncDataStream.ordered_wait over a point-lookup dimension: a
    bounded in-flight window per task, ordered emission — the async
    I/O pattern for dimensions that can only be point-queried (here the
    'service' is a dict snapshot of nation)."""
    from flink_release_1_16_0_spark.datastream import AsyncDataStream, AsyncFunction

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    dim = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }

    class Lookup(AsyncFunction):
        def async_invoke(self, value):
            return {
                "c_custkey": value["c_custkey"],
                "nation": dim.get(value["c_nationkey"]),
            }

    customers = env.from_data_frame(load_table(spark, sf_dir, "customer"))
    out = AsyncDataStream.ordered_wait(
        customers, Lookup(), "30 seconds", capacity=16,
        output_type="c_custkey BIGINT, nation STRING",
    )
    return out.to_data_frame()


# ---------------------------------------------------------------------------
# STREAMING-mode keyed process (applyInPandasWithState lowering)

_STREAM_SESSIONS_ORACLE = """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM d
), g AS (
  SELECT user_id, sess, COUNT(*) AS n, MAX(ts) AS last_ts
  FROM s GROUP BY user_id, sess
), m AS (SELECT MAX(ts) AS maxts FROM events)
SELECT user_id, CAST(n AS INT) AS session_n
FROM g, m
WHERE sess < (SELECT MAX(sess) FROM g g2 WHERE g2.user_id = g.user_id)
   OR last_ts + INTERVAL 30 MINUTE <= maxts - INTERVAL 10 MINUTE
"""


@register(
    "dsapi_stream_process_timers",
    _STREAM_SESSIONS_ORACLE,
    tags=("dsapi", "streaming", "state", "timers"),
)
def dsapi_stream_process_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionization KeyedProcessFunction run UNBOUNDED: the events
    log replays through the micro-batch engine, keyed state + the timer
    queue live in applyInPandasWithState, and the final watermark
    (max ts - 10 min bounded delay) decides which tail-session timers
    fire — non-final sessions emit in-element when their successor
    arrives; a user's last session emits only if the final watermark
    reaches its 30-min deadline (an event-time timer fires at
    ``t <= wm``), which the oracle mirrors."""
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    s = env.from_data_frame(
        replay_stream(spark, sf_dir, "events")
    ).assign_timestamps_and_watermarks(_EVENT_TIME)
    out = s.key_by("user_id").process(_GapSessions(), "user_id BIGINT, session_n INT")
    return run_to_table(out.to_data_frame(), output_mode="append")


@register(
    "dsapi_stream_interval_join",
    _INTERVAL_ORACLE,
    tags=("dsapi", "streaming", "join"),
)
def dsapi_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade interval join on UNBOUNDED inputs: Spark's native
    stream-stream join with timestamp-interval bounds (state cleanup
    recognizable), pairs mapped by the ProcessJoinFunction. A bounded
    drain emits every qualifying pair, so the batch oracle applies."""
    from flink_release_1_16_0_spark.datastream import ProcessJoinFunction
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table

    class Pair(ProcessJoinFunction):
        def process_element(self, left, right, ctx, out):
            out.collect(
                {
                    "user_id": left["user_id"],
                    "a_id": left["event_id"],
                    "b_id": right["event_id"],
                }
            )

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    s = env.from_data_frame(
        replay_stream(spark, sf_dir, "events")
    ).assign_timestamps_and_watermarks(_EVENT_TIME)
    clicks = s.filter("event_type = 'click'")
    buys = s.filter("event_type = 'purchase'")
    out = (
        clicks.key_by("user_id")
        .interval_join(buys.key_by("user_id"))
        .between("0 seconds", "2 hours")
        .process(Pair(), "user_id BIGINT, a_id BIGINT, b_id BIGINT")
    )
    return run_to_table(out.to_data_frame(), output_mode="append")


# ---------------------------------------------------------------------------
# CEP timed-out partial matches (PatternStream.select timeout variant /
# TimedOutPartialMatchHandler; flatSelect PatternStream.java:352)

_CEP_TIMEOUT_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
pairs AS (
  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id, p.ts AS pts
  FROM ev c JOIN ev p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
   AND p.ts < c.ts + INTERVAL 30 MINUTE
),
best AS (
  SELECT user_id, click_id, purchase_id,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, click_id ORDER BY pts, purchase_id
         ) AS rn
  FROM pairs
)
SELECT user_id, click_id, purchase_id, FALSE AS timed_out
FROM best WHERE rn = 1
UNION ALL
SELECT c.user_id, c.event_id AS click_id,
       CAST(NULL AS BIGINT) AS purchase_id, TRUE AS timed_out
FROM ev c
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM pairs
    WHERE pairs.user_id = c.user_id AND pairs.click_id = c.event_id
  )
"""


@register("dsapi_cep_timeout", _CEP_TIMEOUT_ORACLE, tags=("dsapi", "cep"))
def dsapi_cep_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern click ->(relaxed) purchase WITHIN 30 minutes, with the
    timed-out-partial-match side output: every anchored click either
    pairs with its FIRST in-horizon purchase (main output) or routes to
    the timeout OutputTag when the horizon expires unmatched — nothing
    vanishes. Main and side outputs union under a ``timed_out`` flag;
    the oracle reconstructs both sets with a first-purchase window and a
    NOT EXISTS."""
    from flink_release_1_16_0_spark.datastream import CEP, Pattern

    stream = _events(spark, sf_dir).filter("event_type IN ('click', 'purchase')")
    pat = (
        Pattern.begin("c")
        .where(lambda r: r["event_type"] == "click")
        .followed_by("p")
        .where(lambda r: r["event_type"] == "purchase")
        .within("30 minutes")
    )
    tag = OutputTag(
        "cep-timeouts",
        "user_id BIGINT, click_id BIGINT, purchase_id BIGINT, timed_out BOOLEAN",
    )
    out = CEP.pattern(stream.key_by("user_id"), pat).select(
        lambda m: {
            "user_id": m["c"][0]["user_id"],
            "click_id": m["c"][0]["event_id"],
            "purchase_id": m["p"][0]["event_id"],
            "timed_out": False,
        },
        "user_id BIGINT, click_id BIGINT, purchase_id BIGINT, timed_out BOOLEAN",
        tiebreaker="event_id",
        timeout_tag=tag,
        timeout_fn=lambda m, _t: {
            "user_id": m["c"][0]["user_id"],
            "click_id": m["c"][0]["event_id"],
            "purchase_id": None,
            "timed_out": True,
        },
    )
    return out.to_data_frame().unionByName(out.get_side_output(tag).to_data_frame())


# ---------------------------------------------------------------------------
# unbounded window AggregateFunction (WindowedStream.java:285 +
# AggregatingStateDescriptor — incremental window aggregation on streams)

_STREAM_WINDOW_AGG_ORACLE = """
WITH w AS (
  SELECT user_id,
         CAST(FLOOR(epoch_ms(ts) / 3600000) * 3600000 AS BIGINT) AS win_start,
         value
  FROM events
), m AS (
  SELECT CAST(epoch_ms(MAX(ts)) - 600000 AS BIGINT) AS wm FROM events
)
SELECT user_id, win_start,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
FROM w
WHERE win_start + 3600000 - 1 <= (SELECT wm FROM m)
GROUP BY user_id, win_start
"""


class _HourlyValueAgg:
    """AggregateFunction: per-element fold into (user, hour-bucket,
    count, exact-decimal sum). The window identity is re-derived from
    the element timestamp (same floor arithmetic as the assigner), so
    the result row is self-describing without a ProcessWindowFunction."""

    def create_accumulator(self):
        return {"user_id": None, "win_start": None, "n": 0, "total": Decimal(0)}

    def add(self, row, acc):
        ts_ms = int(row["ts"].value // 1_000_000) if hasattr(row["ts"], "value") else int(
            row["ts"].timestamp() * 1000
        )
        acc["user_id"] = row["user_id"]
        acc["win_start"] = (ts_ms // 3_600_000) * 3_600_000
        acc["n"] += 1
        acc["total"] += Decimal(str(row["value"]))
        return acc

    def get_result(self, acc):
        return {
            "user_id": acc["user_id"],
            "win_start": acc["win_start"],
            "n": acc["n"],
            "total": float(acc["total"]),
        }


@register(
    "dsapi_stream_window_aggregate",
    _STREAM_WINDOW_AGG_ORACLE,
    tags=("dsapi", "streaming", "window"),
)
def dsapi_stream_window_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour AggregateFunction on the UNBOUNDED replayed event
    log: windows assign natively, one accumulator per (user, window)
    lives in keyed state, and each window fires exactly once when the
    watermark (max ts - 10 min bounded delay) reaches its end - 1
    (EventTimeTrigger) — the oracle keeps exactly the windows with
    ``end - 1 <= wm`` at the final watermark."""
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    s = env.from_data_frame(
        replay_stream(spark, sf_dir, "events")
    ).assign_timestamps_and_watermarks(_EVENT_TIME)
    out = (
        s.key_by("user_id")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .aggregate(
            _HourlyValueAgg(),
            "user_id BIGINT, win_start BIGINT, n BIGINT, total DOUBLE",
        )
    )
    return run_to_table(out.to_data_frame(), output_mode="append")
