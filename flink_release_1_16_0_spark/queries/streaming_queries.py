"""Structured-Streaming queries (SURVEY.md sections 2.9, M3).

Each query replays the bounded events log through the micro-batch
engine (availableNow) and materializes the sink — the reference's
ITCase replay-and-assert pattern. Correctness argument is stream-table
duality: the drained stream must equal the equivalent batch query, so
the DuckDB oracles are the *batch* SQL over the fully-replayed log
(identical to the event_windows oracles where the operator matches).

Operators covered: watermark assignment (withWatermark ==
WatermarkAssignerOperator.java:39), streaming tumble/hop/session window
agg in complete mode (StreamExecGroupWindowAggregate /
slicing assigners), stateless streaming calc (StreamExecCalc),
stream-stream interval join (RT/join/interval/TimeIntervalJoin.java:51
— native in Structured Streaming with a time-bound condition), and
streaming group agg (GroupAggFunction.java:43, complete mode standing
for the retract-stream's final state).

Note on modes: complete mode emits the full final state of an
unbounded agg (the materialized view a Flink retract stream converges
to); append mode is used where rows emit within their batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.queries import register
from flink_release_1_16_0_spark.queries._util import dsum, sql_dsum
from flink_release_1_16_0_spark.streaming.core import (
    events_stream,
    replay_stream,
    run_to_table,
)

_US = 1_000_000

# --------------------------------------------------------------------------
# stateless streaming calc (filter + projection) — append mode
# --------------------------------------------------------------------------

_SCALC_ORACLE = """
SELECT event_id, user_id, value * 2 AS value2, upper(event_type) AS type_uc
FROM events
WHERE event_type IN ('click', 'purchase') AND value > 50
"""


@register("stream_calc", _SCALC_ORACLE, tags=("streaming", "calc"))
def stream_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_stream(spark, sf_dir, "events")
    out = ev.filter(
        F.col("event_type").isin("click", "purchase") & (F.col("value") > 50)
    ).select(
        "event_id",
        "user_id",
        (F.col("value") * 2).alias("value2"),
        F.upper("event_type").alias("type_uc"),
    )
    return run_to_table(out, "append")


# --------------------------------------------------------------------------
# streaming tumbling-window agg with watermark — complete mode
# --------------------------------------------------------------------------

_STUMBLE_ORACLE = f"""
SELECT
  make_timestamp((epoch_us(ts) // {5 * 60 * _US}) * {5 * 60 * _US}) AS win_start,
  event_type,
  COUNT(*) AS n,
  {sql_dsum('value')} AS total
FROM events
GROUP BY 1, 2
"""


@register("stream_tumble_agg", _STUMBLE_ORACLE, tags=("streaming", "window", "time"))
def stream_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total")
    )
    return run_to_table(out, "complete")


# --------------------------------------------------------------------------
# streaming hop-window agg — complete mode
# --------------------------------------------------------------------------

_SHOP_ORACLE = f"""
SELECT
  make_timestamp((epoch_us(ts) // {10 * 60 * _US}) * {10 * 60 * _US} - i * {10 * 60 * _US})
    AS win_start,
  COUNT(*) AS n
FROM events, generate_series(0, 1) AS g(i)
GROUP BY 1
"""


@register("stream_hop_agg", _SHOP_ORACLE, tags=("streaming", "window", "time"))
def stream_hop_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = (
        ev.groupBy(F.window("ts", "20 minutes", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )
    return run_to_table(out, "complete")


# --------------------------------------------------------------------------
# streaming session-window agg (gap merge) — complete mode
# --------------------------------------------------------------------------

_SSESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
       {sql_dsum('value')} AS total
FROM numbered
GROUP BY user_id, session_id
"""


@register("stream_session_agg", _SSESSION_ORACLE, tags=("streaming", "window", "time"))
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n",
            "total",
        )
    )
    return run_to_table(out, "complete")


# --------------------------------------------------------------------------
# stream-stream interval join (TimeIntervalJoin.java:51 semantics,
# native in Structured Streaming) — purchases matched to the same
# user's clicks within the previous 10 minutes
# --------------------------------------------------------------------------

_SIJOIN_ORACLE = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
 AND c.ts < p.ts
"""


@register("stream_interval_join", _SIJOIN_ORACLE, tags=("streaming", "join", "time"))
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    return run_to_table(joined, "append")


# --------------------------------------------------------------------------
# streaming unbounded group agg (GroupAggFunction.java:43) — complete
# mode materializes the final state the retract stream converges to
# --------------------------------------------------------------------------

_SGROUP_ORACLE = f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS total,
       CAST(MIN(value) AS DOUBLE) AS min_v, CAST(MAX(value) AS DOUBLE) AS max_v
FROM events
GROUP BY event_type
"""


@register("stream_group_agg", _SGROUP_ORACLE, tags=("streaming", "agg"))
def stream_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_stream(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("total"),
        F.min("value").cast("double").alias("min_v"),
        F.max("value").cast("double").alias("max_v"),
    )
    return run_to_table(out, "complete")


# --------------------------------------------------------------------------
# streaming deduplication on the event key (StreamExecDeduplicate):
# dropDuplicates over a bounded replay — row set equals DISTINCT
# --------------------------------------------------------------------------

_SDEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("stream_dedup_pairs", _SDEDUP_ORACLE, tags=("streaming", "dedup"))
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_stream(spark, sf_dir, "events")
    out = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_to_table(out, "append")


# --------------------------------------------------------------------------
# streaming stateful TopN (AbstractTopNFunction family): per-type top-3
# by value, state maintained in applyInPandasWithState. Bounded replay
# converges to the batch window-function TopN (the oracle).
# --------------------------------------------------------------------------

_STOPN_ORACLE = """
SELECT event_type, event_id, value
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
"""


@register("stream_stateful_topn", _STOPN_ORACLE, tags=("streaming", "rank"))
def stream_stateful_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_topn

    ev = replay_stream(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    out = run_to_table(
        streaming_topn(ev, keys=["event_type"], order_col="value", n=3), "update"
    )
    # update-mode sink accumulates per-batch emissions; the final top-3
    # per key is the last emission — for the bounded single-batch replay
    # the distinct row set IS the final state, deduped here for sinks
    # that saw multiple improving emissions.
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        out.distinct()
        .select("event_type", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# streaming keep-last dedup (ProcTimeDeduplicateKeepLastRowFunction /
# ChangelogNormalize): latest event per user via keyed state
# --------------------------------------------------------------------------

_SKEEPLAST_ORACLE = """
SELECT user_id, event_id
FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


@register("stream_dedup_keep_last", _SKEEPLAST_ORACLE, tags=("streaming", "dedup"))
def stream_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_dedup_keep_last,
    )

    ev = replay_stream(spark, sf_dir, "events").select("user_id", "event_id")
    out = run_to_table(
        streaming_dedup_keep_last(ev, keys=["user_id"], order_col="event_id"),
        "update",
    )
    # final state per key = max event_id ever emitted (emissions improve
    # monotonically in arrival order)
    return out.groupBy("user_id").agg(F.max("event_id").alias("event_id"))


# --------------------------------------------------------------------------
# streaming event-time temporal join (TemporalRowTimeJoinOperator):
# each purchase joins the latest same-user click at or before it.
# Bounded replay is a single time-sortable batch, so the stateful
# operator reproduces the batch as-of join (the DuckDB ASOF oracle).
# --------------------------------------------------------------------------

_STEMPORAL_ORACLE = """
SELECT p.event_id, p.user_id, c.event_id AS click_id, c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@register("stream_temporal_join", _STEMPORAL_ORACLE, tags=("streaming", "join", "time"))
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_join

    ev = replay_stream(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = run_to_table(
        streaming_temporal_join(
            purchases, clicks, keys=["user_id"], left_ts="ts", right_ts="ts"
        ),
        "update",
    )
    return out.select(
        "event_id", "user_id", "click_id", F.col("__asof_ts").alias("click_ts")
    )


# --------------------------------------------------------------------------
# watermark-buffered event-time temporal join: same as
# stream_temporal_join but tolerant of out-of-order arrival — rows
# buffer in keyed state and finalize in event-time order on watermark
# advance; probe rows inside the final delay window stay pending, so
# the oracle cuts the probe side at max(ts)-delay. The watermark
# assigner sits AFTER the click/purchase filters, so the max is over
# those event types only — maxing over all events broke at sf0.1,
# where the globally-latest event is neither (one pending probe row).
# --------------------------------------------------------------------------

_STEMPORAL_ET_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events
             WHERE event_type IN ('click', 'purchase'))
SELECT p.event_id, p.user_id, c.event_id AS click_id, c.ts AS click_ts
FROM (SELECT e.* FROM events e, cut
      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) <= cut.wm) p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@register(
    "stream_temporal_join_rowtime",
    _STEMPORAL_ET_ORACLE,
    tags=("streaming", "join", "time"),
)
def stream_temporal_join_rowtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_temporal_join_event_time,
    )

    ev = replay_stream(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = run_to_table(
        streaming_temporal_join_event_time(
            purchases, clicks, keys=["user_id"], left_ts="ts", right_ts="ts"
        ),
        "update",
    )
    return out.select(
        "event_id", "user_id", "click_id", F.col("__asof_ts").alias("click_ts")
    )


# --------------------------------------------------------------------------
# watermark-buffered rowtime OVER aggregation: out-of-order arrivals
# buffer in keyed state and finalize in event-time order once the
# watermark passes; rows the final watermark never covers (the last
# 10 minutes of the bounded replay) stay pending — the oracle applies
# the same max(ts)-delay cutoff.
# --------------------------------------------------------------------------

_SOVER_ET_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, event_id, ts,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS running_n,
       CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER w AS DOUBLE) AS running_sum
FROM events, cut
WHERE epoch_ms(ts) <= cut.wm
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
"""


@register("stream_over_event_time", _SOVER_ET_ORACLE, tags=("streaming", "over", "time"))
def stream_over_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_event_time,
    )

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "10 minutes")
    )
    return run_to_table(
        streaming_over_rows_event_time(
            ev, keys=["user_id"], value_col="value", id_col="event_id"
        ),
        "update",
    )


# --------------------------------------------------------------------------
# streaming temporal sort (StreamExecTemporalSort): emit events in exact
# event-time order as the watermark advances; emit_seq gates the ORDER
# itself, not just the content — ROW_NUMBER over the same cutoff must
# match the operator's emission counter.
# --------------------------------------------------------------------------

_STSORT_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, ts, event_id,
       CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT) AS emit_seq
FROM events, cut
WHERE epoch_ms(ts) <= cut.wm
"""


@register("stream_temporal_sort", _STSORT_ORACLE, tags=("streaming", "sort", "time"))
def stream_temporal_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_sort

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .withWatermark("ts", "10 minutes")
    )
    return run_to_table(
        streaming_temporal_sort(ev, order_cols=["ts", "event_id"]),
        "update",
    )


# --------------------------------------------------------------------------
# streaming CUMULATE window agg (SliceAssigners.java:281 dual): growing
# 15-min slices within the hour, over the stream — slices explode
# statelessly, then a windowed agg in complete mode.
# --------------------------------------------------------------------------

_SCUMULATE_ORACLE = f"""
SELECT
  make_timestamp((epoch_us(ts) // {3600 * _US}) * {3600 * _US}) AS win_start,
  make_timestamp((epoch_us(ts) // {3600 * _US}) * {3600 * _US} + j * {15 * 60 * _US}) AS win_end,
  COUNT(*) AS n
FROM events, generate_series(1, 4) AS g(j)
WHERE epoch_us(ts) < (epoch_us(ts) // {3600 * _US}) * {3600 * _US} + j * {15 * 60 * _US}
GROUP BY 1, 2
"""


@register("stream_cumulate_agg", _SCUMULATE_ORACLE, tags=("streaming", "window", "time"))
def stream_cumulate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    hour_start_us = (F.unix_micros("ts") / (3600 * _US)).cast("bigint") * (3600 * _US)
    sliced = (
        ev.withColumn("win_start_us", hour_start_us)
        .withColumn(
            "j", F.explode(F.array(*[F.lit(j).cast("bigint") for j in (1, 2, 3, 4)]))
        )
        .withColumn(
            "win_end_us",
            F.col("win_start_us") + F.col("j") * F.lit(15 * 60 * _US).cast("bigint"),
        )
        .filter(F.unix_micros("ts") < F.col("win_end_us"))
    )
    out = (
        sliced.groupBy("win_start_us", "win_end_us")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.timestamp_micros(F.col("win_start_us")).alias("win_start"),
            F.timestamp_micros(F.col("win_end_us")).alias("win_end"),
            "n",
        )
    )
    return run_to_table(out, "complete")


# --------------------------------------------------------------------------
# stream-stream LEFT OUTER interval join (TimeIntervalJoin.java outer
# padding): unmatched purchases emit NULL click columns once the
# watermark passes their timestamp. Boundary purchases (inside the
# final watermark + 1-minute guard) are post-filtered on BOTH sides —
# Spark's outer-null emission at the exact watermark boundary is
# engine-internal, so the gate only asserts the settled region.
# --------------------------------------------------------------------------

_SIJOIN_LEFT_ORACLE = """
WITH cut AS (
  -- the type filter pushes below the watermark assignment, so each
  -- join input's watermark tracks ITS OWN max event time; the join's
  -- watermark is the min of the two (minus delay, minus a 1-min guard)
  SELECT least(
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'purchase'),
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'click')
         ) - 600000 - 60000 AS safe
),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id, p.ts AS p_ts
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
UNION ALL
SELECT p.event_id, NULL, p.user_id, p.ts
FROM p, cut
WHERE epoch_ms(p.ts) <= cut.safe
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
  )
"""


@register(
    "stream_interval_join_left",
    _SIJOIN_LEFT_ORACLE,
    tags=("streaming", "join", "time"),
)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.catalog import load_table

    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id", "p_ts")
    out = run_to_table(joined, "append")
    ev_batch = load_table(spark, sf_dir, "events")
    safe = ev_batch.agg(
        F.timestamp_micros(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))),
            )
            - F.lit((600 + 60) * _US)
        ).alias("safe")
    )
    return out.crossJoin(safe).filter(
        F.col("click_id").isNotNull() | (F.col("p_ts") <= F.col("safe"))
    ).drop("safe")


# --------------------------------------------------------------------------
# rowtime dedup keep-FIRST (RowTimeDeduplicateFunction.java:31): the
# earliest event per user in event-time order, refined eagerly across
# batches; the final converged state per key is the batch minimum of
# (ts, event_id).
# --------------------------------------------------------------------------

_SDEDUP_ROWTIME_ORACLE = """
SELECT user_id, ts, event_id
FROM (
  SELECT user_id, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


@register(
    "stream_dedup_first_rowtime", _SDEDUP_ROWTIME_ORACLE, tags=("streaming", "dedup", "time")
)
def stream_dedup_first_rowtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_dedup_keep_last,
    )

    ev = replay_stream(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = run_to_table(
        streaming_dedup_keep_last(
            ev, keys=["user_id"], order_col=["ts", "event_id"], keep="first"
        ),
        "update",
    )
    # emissions per key improve monotonically toward the minimum
    return (
        out.groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("m"))
        .select("user_id", "m.ts", "m.event_id")
    )


# --------------------------------------------------------------------------
# stream-stream LEFT SEMI join (StreamingSemiAntiJoinOperator.java):
# purchases that had a same-user click in the prior 10 minutes, emitted
# on first match. (Left ANTI stream-stream is unsupported by Structured
# Streaming — its batch dual join_anti covers the semantics; the outer
# interval join's NULL rows give the streaming not-matched signal.)
# --------------------------------------------------------------------------

_SSEMI_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
WHERE EXISTS (
  SELECT 1 FROM (SELECT * FROM events WHERE event_type = 'click') c
  WHERE c.user_id = p.user_id
    AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
)
"""


@register("stream_semi_join", _SSEMI_ORACLE, tags=("streaming", "join", "time"))
def stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftSemi",
    )
    return run_to_table(joined, "append")


# --------------------------------------------------------------------------
# streaming window join (WindowJoinOperator.java:66): clicks joined to
# same-user purchases in the same 15-minute tumbling window, both sides
# watermarked — the window-bucket equi-join lets the engine scope and
# evict join state per window instead of holding unbounded input.
# --------------------------------------------------------------------------

_SWJOIN_ORACLE = f"""
WITH b AS (
  SELECT *, make_timestamp((epoch_us(ts) // {15 * 60 * _US}) * {15 * 60 * _US}) AS win
  FROM events
)
SELECT c.win AS win_start, c.user_id,
       c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT * FROM b WHERE event_type = 'click') c
JOIN (SELECT * FROM b WHERE event_type = 'purchase') p
  ON c.win = p.win AND c.user_id = p.user_id
"""


@register("stream_window_join", _SWJOIN_ORACLE, tags=("streaming", "window", "join"))
def stream_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.window("ts", "15 minutes").alias("win"),
            "user_id",
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.window("ts", "15 minutes").alias("p_win"),
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("win") == F.col("p_win")) & (F.col("user_id") == F.col("p_user_id")),
    ).select(
        F.col("win.start").alias("win_start"), "user_id", "click_id", "purchase_id"
    )
    return run_to_table(joined, "append")


# --------------------------------------------------------------------------
# streaming window TopN (StreamExecWindowRank / WindowRankOperatorBuilder):
# top-2 by value per (30-min tumbling window, event_type), maintained by
# the keyed TopN state op with the window bucket in the key — the
# window-rank specialization of AppendOnlyTopNFunction. Same oracle as
# the batch window_topn.
# --------------------------------------------------------------------------

_SWTOPN_ORACLE = f"""
SELECT win_start, event_type, event_id, value
FROM (
  SELECT make_timestamp((epoch_us(ts) // {30 * 60 * 1_000_000}) * {30 * 60 * 1_000_000})
           AS win_start,
         event_type, event_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY (epoch_us(ts) // {30 * 60 * 1_000_000}), event_type
           ORDER BY value DESC, event_id) AS rn
  FROM events
)
WHERE rn <= 2
"""


@register("stream_window_topn", _SWTOPN_ORACLE, tags=("streaming", "window", "rank"))
def stream_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_topn

    ev = replay_stream(spark, sf_dir, "events").select(
        F.window("ts", "30 minutes").getField("start").alias("win_start"),
        "event_type",
        "event_id",
        "value",
    )
    out = run_to_table(
        streaming_topn(ev, keys=["win_start", "event_type"], order_col="value", n=2),
        "update",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("win_start", "event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        out.distinct()
        .select("win_start", "event_type", "event_id", "value",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# streaming window dedup (StreamExecWindowDeduplicate /
# RowTimeWindowDeduplicateOperatorBuilder): first event per
# (1-hour window, user), maintained by the keep-first dedup state op
# with the window bucket in the key. Same oracle as batch window_dedup.
# --------------------------------------------------------------------------

_SWDEDUP_ORACLE = f"""
SELECT win_start, user_id, event_id, ts
FROM (
  SELECT make_timestamp((epoch_us(ts) // {3600 * _US}) * {3600 * _US}) AS win_start,
         user_id, event_id, ts,
         ROW_NUMBER() OVER (
           PARTITION BY (epoch_us(ts) // {3600 * _US}), user_id
           ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("stream_window_dedup", _SWDEDUP_ORACLE, tags=("streaming", "window", "dedup"))
def stream_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_window_dedup

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select(
            F.window("ts", "1 hour").getField("start").alias("win_start"),
            "user_id",
            "event_id",
            "ts",
        )
        .withWatermark("ts", "10 minutes")
    )
    out = run_to_table(
        streaming_window_dedup(
            ev,
            window_col="win_start",
            keys=["user_id"],
            order_col=["ts", "event_id"],
            keep="first",
            window_size_ms=3_600_000,
        ),
        "update",
    )
    # update emissions refine toward the final winner per key
    from pyspark.sql import Window as W

    w = W.partitionBy("win_start", "user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        out.distinct()
        .select("win_start", "user_id", "event_id", "ts",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# stream-stream FULL OUTER interval join (TimeIntervalJoin.java pads
# BOTH inputs): unmatched purchases AND unmatched clicks emit
# NULL-padded rows once the joint watermark passes them. Same settled-
# region post-filter as the LEFT variant, applied per side.
# --------------------------------------------------------------------------

_SIJOIN_FULL_ORACLE = """
WITH cut AS (
  SELECT least(
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'purchase'),
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'click')
         ) - 600000 - 60000 AS safe
),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id, p.ts AS p_ts, c.ts AS c_ts
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
UNION ALL
SELECT p.event_id, NULL, p.user_id, p.ts, NULL
FROM p, cut
WHERE epoch_ms(p.ts) <= cut.safe
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
  )
UNION ALL
-- a click is paddable only once the watermark passes the END of its
-- match window (c_ts + 10 min): matching purchases arrive up to 10
-- minutes after the click, so the click side's settled region sits a
-- window-width earlier than the purchase side's
SELECT NULL, c.event_id, c.user_id, NULL, c.ts
FROM c, cut
WHERE epoch_ms(c.ts) <= cut.safe - 600000
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id
      AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
  )
"""


@register(
    "stream_interval_join_full",
    _SIJOIN_FULL_ORACLE,
    tags=("streaming", "join", "time"),
)
def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.catalog import load_table

    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user_id"), F.col("c_user_id")).alias("user_id"),
        "p_ts",
        "c_ts",
    )
    out = run_to_table(joined, "append")
    ev_batch = load_table(spark, sf_dir, "events")
    safe = ev_batch.agg(
        F.timestamp_micros(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))),
            )
            - F.lit((600 + 60) * _US)
        ).alias("safe")
    )
    return (
        out.crossJoin(safe)
        .filter(
            (F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull())
            | (F.col("click_id").isNull() & (F.col("p_ts") <= F.col("safe")))
            # click side settles a window-width later (see oracle note)
            | (
                F.col("purchase_id").isNull()
                & (F.col("c_ts") <= F.col("safe") - F.expr("INTERVAL 10 MINUTES"))
            )
        )
        .drop("safe")
    )


# --------------------------------------------------------------------------
# streaming RANGE-bounded-preceding over-agg
# (RowTimeRangeBoundedPrecedingFunction): per user, SUM/COUNT over the
# trailing 30-minute event-time window; peers (equal ts) share a frame.
# Oracle = the batch RANGE frame under the settled-region cutoff.
# --------------------------------------------------------------------------

_SOVER_RANGE_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, event_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
       CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER w AS DOUBLE) AS win_sum
FROM events, cut
WHERE epoch_ms(ts) <= cut.wm
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW)
"""


@register(
    "stream_over_range_event_time",
    _SOVER_RANGE_ORACLE,
    tags=("streaming", "over", "time"),
)
def stream_over_range_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_range_event_time,
    )

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "10 minutes")
    )
    return run_to_table(
        streaming_over_range_event_time(
            ev,
            keys=["user_id"],
            value_col="value",
            id_col="event_id",
            bound_ms=30 * 60 * 1000,
        ),
        "update",
    )


# --------------------------------------------------------------------------
# streaming sort-limit (StreamExecSortLimit / AppendOnlyFirstNFunction):
# the first 100 events in exact event-time order — the temporal sort's
# emission counter IS the rank, so LIMIT = a filter on it. Emission is
# watermark-gated, so only the settled region is asserted.
# --------------------------------------------------------------------------

_SLIMIT_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, ts, event_id, emit_seq FROM (
  SELECT user_id, ts, event_id,
         CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT) AS emit_seq
  FROM events, cut
  WHERE epoch_ms(ts) <= cut.wm
) WHERE emit_seq <= 100
"""


@register("stream_sort_limit", _SLIMIT_ORACLE, tags=("streaming", "sort"))
def stream_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_sort

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .withWatermark("ts", "10 minutes")
    )
    out = run_to_table(
        streaming_temporal_sort(ev, order_cols=["ts", "event_id"]),
        "update",
    )
    return out.filter(F.col("emit_seq") <= 100)


# --------------------------------------------------------------------------
# streaming distinct agg (GroupAggFunction's DistinctViewDataView):
# COUNT(DISTINCT user) per event type — unsupported natively by
# Structured Streaming, held as a keyed seen-set by the retracting
# group agg. Its -U/+U changelog nets to one live row per event type.
# --------------------------------------------------------------------------

_SDISTINCT_ORACLE = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


@register("stream_distinct_agg", _SDISTINCT_ORACLE, tags=("streaming", "agg"))
def stream_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    from flink_release_1_16_0_spark.streaming.changelog import net_multiplicity
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    ev = replay_stream(spark, sf_dir, "events").select("event_type", "user_id")
    out = run_to_table(
        streaming_retracting_multi_agg(
            ev,
            ["event_type"],
            [("n_distinct", "count_distinct", "user_id", LongType())],
        ),
        "update",
    )
    return net_multiplicity(out).select("event_type", "n_distinct")


# --------------------------------------------------------------------------
# stream-stream LEFT OUTER window join (WindowJoinOperator.java outer
# variants): both inputs bucketed into the same tumbling window and
# equi-joined on (window, user); unmatched left rows NULL-pad once the
# window closes. Settled-region filter: a left row can be padded only
# after the watermark passes its WINDOW END.
# --------------------------------------------------------------------------

_SWJOIN_LEFT_ORACLE = f"""
WITH cut AS (
  SELECT least(
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'purchase'),
           (SELECT MAX(epoch_ms(ts)) FROM events WHERE event_type = 'click')
         ) - 600000 - 60000 AS safe
),
p AS (
  SELECT user_id, event_id,
         (epoch_us(ts) // {15 * 60 * _US}) * {15 * 60 * _US} AS win_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id,
         (epoch_us(ts) // {15 * 60 * _US}) * {15 * 60 * _US} AS win_us
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       make_timestamp(p.win_us) AS win_start
FROM p JOIN c ON p.user_id = c.user_id AND p.win_us = c.win_us
UNION ALL
SELECT p.event_id, NULL, p.user_id, make_timestamp(p.win_us)
FROM p, cut
WHERE (p.win_us // 1000) + {15 * 60 * 1000} <= cut.safe
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id AND c.win_us = p.win_us
  )
"""


@register(
    "stream_window_join_left", _SWJOIN_LEFT_ORACLE, tags=("streaming", "join", "window")
)
def stream_window_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.catalog import load_table

    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.window("ts", "15 minutes").alias("p_win"),
        )
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.window("ts", "15 minutes").alias("c_win"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_win") == F.col("c_win")),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user_id").alias("user_id"),
        F.col("p_win.start").alias("win_start"),
        F.col("p_win.end").alias("win_end"),
    )
    out = run_to_table(joined, "append")
    ev_batch = load_table(spark, sf_dir, "events")
    safe = ev_batch.agg(
        F.timestamp_micros(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.unix_micros("ts"))),
            )
            - F.lit((600 + 60) * _US)
        ).alias("safe")
    )
    return (
        out.crossJoin(safe)
        .filter(
            F.col("click_id").isNotNull() | (F.col("win_end") <= F.col("safe"))
        )
        .drop("safe", "win_end")
    )


# --------------------------------------------------------------------------
# streaming CEP with WITHIN: the reference's CepOperator.java:82 is a
# *streaming* keyed operator — this runs the same c+p / WITHIN 12h
# pattern as the batch cep_within through the watermarked stateful
# operator (streaming/cep_stream.py). A match is emitted (and final)
# once the watermark passes start_ts + 12h; matches anchored too close
# to the end of the log never finalize, so the oracle adds that
# cutoff (ms-floored like Spark's watermark) to the batch relational
# derivation (advanced_ops._CEP_WITHIN_ORACLE).
# --------------------------------------------------------------------------

_SCEP_WITHIN_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'p'
              ELSE '-' END AS sym
  FROM events
), seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM tagged
), runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, sym ORDER BY rn) AS grp
  FROM seq
), c_runs AS (
  SELECT user_id, grp, MIN(rn) AS run_start, MAX(rn) AS run_end
  FROM runs WHERE sym = 'c' GROUP BY user_id, grp
), p_rows AS (
  SELECT user_id, rn AS p_rn, ts AS p_ts FROM seq WHERE sym = 'p'
), matches AS (
  SELECT p.user_id, p.p_rn, COUNT(*) AS n_c
  FROM p_rows p
  JOIN c_runs cr
    ON cr.user_id = p.user_id AND p.p_rn - 1 = cr.run_end
  JOIN runs r
    ON r.user_id = p.user_id AND r.sym = 'c'
   AND r.rn BETWEEN cr.run_start AND cr.run_end
   AND r.ts > p.p_ts - INTERVAL 12 HOUR
  GROUP BY p.user_id, p.p_rn
  -- finalization cutoff: the earliest in-window click is the match
  -- start; the watermark (ms-floored max ts - 10 min delay) must pass
  -- start + 12h for the streaming operator to emit
  HAVING epoch_ms(MIN(r.ts)) + 43200000
         <= (SELECT epoch_ms(MAX(ts)) - 600000 FROM events)
)
SELECT user_id,
       COUNT(*) AS n_matches,
       CAST(SUM(n_c) + COUNT(*) AS BIGINT) AS matched_rows
FROM matches GROUP BY user_id
"""


@register("stream_cep_within", _SCEP_WITHIN_ORACLE, tags=("streaming", "cep", "match"))
def stream_cep_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.operators.cep import classify
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    ev = events_stream(spark, sf_dir)
    tagged = ev.withColumn(
        "__sym",
        classify(
            {
                "c": F.col("event_type") == "click",
                "p": F.col("event_type") == "purchase",
            }
        ),
    )
    matches = streaming_cep_within(
        tagged,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        sym_col="__sym",
        pattern="c+p",
        within_ms=12 * 3600 * 1000,
    )
    out = run_to_table(matches, "update")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("n_rows").cast("bigint").alias("matched_rows"),
    )


# --------------------------------------------------------------------------
# streaming CEP with MEASURES: the full StreamExecMatch surface on the
# streaming tier — per-variable aggregates (COUNT/SUM/LAST over the
# named-group spans) computed at emission time from keyed state, with
# the same WITHIN finalization bound as stream_cep_within. SUM runs on
# the scale-2 grid so the emitted measures are engine-exact.
# --------------------------------------------------------------------------

_SCEP_MEASURES_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'p'
              ELSE '-' END AS sym
  FROM events
), seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM tagged
), runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, sym ORDER BY rn) AS grp
  FROM seq
), c_runs AS (
  SELECT user_id, grp, MIN(rn) AS run_start, MAX(rn) AS run_end
  FROM runs WHERE sym = 'c' GROUP BY user_id, grp
), p_rows AS (
  SELECT user_id, rn AS p_rn, ts AS p_ts, event_id AS p_id
  FROM seq WHERE sym = 'p'
), matches AS (
  SELECT p.user_id, p.p_rn, p.p_id,
         CAST(COUNT(*) AS INT) AS n_clicks,
         CAST(SUM(CAST(ROUND(r.value * 100) AS BIGINT)) AS DOUBLE) / 100
           AS clicks_value
  FROM p_rows p
  JOIN c_runs cr
    ON cr.user_id = p.user_id AND p.p_rn - 1 = cr.run_end
  JOIN runs r
    ON r.user_id = p.user_id AND r.sym = 'c'
   AND r.rn BETWEEN cr.run_start AND cr.run_end
   AND r.ts > p.p_ts - INTERVAL 12 HOUR
  GROUP BY p.user_id, p.p_rn, p.p_id
  HAVING epoch_ms(MIN(r.ts)) + 43200000
         <= (SELECT epoch_ms(MAX(ts)) - 600000 FROM events)
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY p_rn) - 1 AS INT)
         AS match_no,
       n_clicks,
       clicks_value,
       p_id AS purchase_id
FROM matches
"""


@register(
    "stream_cep_measures", _SCEP_MEASURES_ORACLE, tags=("streaming", "cep", "match")
)
def stream_cep_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.operators.cep import classify
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    ev = events_stream(spark, sf_dir)
    tagged = ev.withColumn(
        "__sym",
        classify(
            {
                "c": F.col("event_type") == "click",
                "p": F.col("event_type") == "purchase",
            }
        ),
    )
    matches = streaming_cep_within(
        tagged,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        sym_col="__sym",
        pattern="(?P<C>c+)(?P<P>p)",
        within_ms=12 * 3600 * 1000,
        measures={
            "n_clicks": ("C", "count", "event_id", "int"),
            "clicks_value": ("C", "sum", "value", "double"),
            "purchase_id": ("P", "last", "event_id", "bigint"),
        },
        value_cols=["value"],
        grid_scale=2,
    )
    return run_to_table(matches, "update")


# --------------------------------------------------------------------------
# streaming COUNT window (CountTumblingWindowAssigner on a stream): per
# user, every 10 settled events in event-time order form one window,
# which fires only when FULL. Composed from the keyed temporal-sort
# operator's emission counter (the deterministic event-time dual of
# Flink's arrival-order count trigger): window id = (seq-1)/10 over
# emitted rows, complete windows only. Oracle: ROW_NUMBER over the
# settled region with the same grouping and HAVING n = 10.
# --------------------------------------------------------------------------

_SCOUNT_TUMBLE_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events),
seq AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events, cut
  WHERE epoch_ms(ts) <= cut.wm
)
SELECT user_id, CAST((rn - 1) // 10 AS BIGINT) AS win_id,
       CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS total
FROM seq
GROUP BY user_id, (rn - 1) // 10
HAVING COUNT(*) = 10
"""


@register(
    "stream_count_tumble", _SCOUNT_TUMBLE_ORACLE, tags=("streaming", "window", "count")
)
def stream_count_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_sort

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "10 minutes")
    )
    ordered = run_to_table(
        streaming_temporal_sort(
            ev, order_cols=["ts", "event_id"], keys=["user_id"]
        ),
        "update",
    )
    return (
        ordered.withColumn("win_id", ((F.col("emit_seq") - 1) / 10).cast("bigint"))
        .groupBy("user_id", "win_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("total"),
        )
        .filter(F.col("n") == 10)
        .drop("n")
    )


# --------------------------------------------------------------------------
# streaming ALL ROWS PER MATCH: the per-event emission mode of the
# streaming CEP tier — every matched event emits with match_no,
# CLASSIFIER() and RUNNING measures, finalized under the same WITHIN
# watermark bound. Oracle: the batch all-rows derivation with the
# WITHIN-truncated match start (earliest in-window click) and the
# finalization cutoff.
# --------------------------------------------------------------------------

_SCEP_ALL_ROWS_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'click' THEN 'c'
              WHEN event_type = 'purchase' THEN 'p'
              ELSE '-' END AS sym,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), clicks AS (
  SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM tagged WHERE sym = 'c'
), islands AS (
  SELECT user_id, grp, MIN(rn) AS run_start, MAX(rn) AS run_end
  FROM clicks GROUP BY user_id, grp
), p_match AS (
  SELECT i.user_id, i.run_start, i.run_end, p.rn AS p_rn, p.ts AS p_ts
  FROM islands i
  JOIN tagged p
    ON p.user_id = i.user_id AND p.rn = i.run_end + 1 AND p.sym = 'p'
), matches AS (
  SELECT pm.user_id, pm.p_rn, MIN(r.rn) AS start_rn
  FROM p_match pm
  JOIN tagged r
    ON r.user_id = pm.user_id AND r.sym = 'c'
   AND r.rn BETWEEN pm.run_start AND pm.run_end
   AND r.ts > pm.p_ts - INTERVAL 12 HOUR
  GROUP BY pm.user_id, pm.p_rn
  HAVING epoch_ms(MIN(r.ts)) + 43200000
         <= (SELECT epoch_ms(MAX(ts)) - 600000 FROM events)
), numbered AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start_rn) - 1
                 AS INT) AS match_no
  FROM matches
), rows_out AS (
  SELECT t.user_id, t.ts, t.event_id, t.value, t.sym, t.rn,
         n.match_no, n.start_rn, n.p_rn
  FROM tagged t
  JOIN numbered n
    ON t.user_id = n.user_id AND t.rn BETWEEN n.start_rn AND n.p_rn
)
SELECT user_id, ts, event_id, value, match_no,
       CASE WHEN sym = 'c' THEN 'C' ELSE 'P' END AS classifier,
       CAST(CASE WHEN sym = 'c' THEN rn - start_rn + 1
                 ELSE p_rn - start_rn END AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN sym = 'c' THEN CAST(value AS DECIMAL(38,2))
                     ELSE CAST(0 AS DECIMAL(38,2)) END)
            OVER (PARTITION BY user_id, start_rn ORDER BY rn) AS DOUBLE)
           AS click_value_sum
FROM rows_out
"""


@register(
    "stream_cep_all_rows", _SCEP_ALL_ROWS_ORACLE, tags=("streaming", "cep", "match")
)
def stream_cep_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.operators.cep import classify
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    ev = events_stream(spark, sf_dir)
    tagged = ev.withColumn(
        "__sym",
        classify(
            {
                "c": F.col("event_type") == "click",
                "p": F.col("event_type") == "purchase",
            }
        ),
    )
    matches = streaming_cep_within(
        tagged,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        sym_col="__sym",
        pattern="(?P<C>c+)(?P<P>p)",
        within_ms=12 * 3600 * 1000,
        measures={
            "n_clicks": ("C", "count", "event_id", "bigint"),
            "click_value_sum": ("C", "sum", "value", "double"),
        },
        value_cols=["value"],
        grid_scale=2,
        all_rows=True,
    )
    out = run_to_table(matches, "update")
    return out.withColumn(
        "classifier", F.upper("classifier")
    )


# --------------------------------------------------------------------------
# streaming first-N per key (AppendOnlyFirstNFunction: emit only the
# first N rows per key, by time, then drop the rest). Deterministic
# event-time reading via the keyed temporal-sort emission counter.
# --------------------------------------------------------------------------

_SFIRST_N_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events),
seq AS (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events, cut
  WHERE epoch_ms(ts) <= cut.wm
)
SELECT user_id, event_id, ts, CAST(rn AS BIGINT) AS arrival_rank
FROM seq WHERE rn <= 5
"""


@register("stream_first_n", _SFIRST_N_ORACLE, tags=("streaming", "rank"))
def stream_first_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_temporal_sort

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .withWatermark("ts", "10 minutes")
    )
    ordered = run_to_table(
        streaming_temporal_sort(
            ev, order_cols=["ts", "event_id"], keys=["user_id"]
        ),
        "update",
    )
    return (
        ordered.filter(F.col("emit_seq") <= 5)
        .select(
            "user_id", "event_id", "ts", F.col("emit_seq").alias("arrival_rank")
        )
    )


# --------------------------------------------------------------------------
# streaming ROWS-bounded over agg (RowTimeRowsBoundedPrecedingFunction):
# trailing-20-rows frame per user in event-time order — completes the
# streaming OVER matrix (proc/rowtime x unbounded, RANGE-bounded,
# ROWS-bounded).
# --------------------------------------------------------------------------

_SOVER_ROWS_BOUNDED_ORACLE = """
WITH cut AS (SELECT epoch_ms(MAX(ts)) - 600000 AS wm FROM events)
SELECT user_id, event_id, ts,
       CAST(COUNT(*) OVER f AS BIGINT) AS win_n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER f AS DOUBLE) / 100
           AS win_sum
FROM events, cut
WHERE epoch_ms(ts) <= cut.wm
WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


@register(
    "stream_over_rows_bounded",
    _SOVER_ROWS_BOUNDED_ORACLE,
    tags=("streaming", "over", "time"),
)
def stream_over_rows_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_bounded_event_time,
    )

    ev = (
        replay_stream(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withWatermark("ts", "10 minutes")
    )
    return run_to_table(
        streaming_over_rows_bounded_event_time(
            ev, keys=["user_id"], value_col="value", id_col="event_id"
        ),
        "update",
    )


# --------------------------------------------------------------------------
# stream-stream LEFT ANTI join (StreamingSemiAntiJoinOperator.java:217):
# purchases with NO same-user click in the prior 10 minutes, emitted
# when the watermark closes the purchase's match window — the stateful
# dual of stream_semi_join, which Structured Streaming cannot express
# natively. Oracle cutoff: a purchase is final once the ms-floored
# watermark (max event ts over the filtered union, minus the 10-minute
# delay) passes its own ms-floored ts (upper bound = 0); the NOT EXISTS
# window is µs-exact, same as the operator's in-state comparison.
# --------------------------------------------------------------------------

_SANTI_ORACLE = """
WITH cut AS (
  SELECT MAX(epoch_ms(ts)) - 600000 AS wm
  FROM events WHERE event_type IN ('click', 'purchase')
),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts
FROM p, cut
WHERE epoch_ms(p.ts) <= cut.wm
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
  )
"""


@register("stream_anti_join", _SANTI_ORACLE, tags=("streaming", "join", "time"))
def stream_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.stateful import streaming_anti_join

    base = replay_stream(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).withWatermark("ts", "10 minutes")
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    out = run_to_table(
        streaming_anti_join(
            purchases,
            clicks,
            keys=["user_id"],
            l_ts_col="ts",
            r_ts_col="ts",
            lower_ms=-600_000,
            upper_ms=0,
        ),
        "append",
    )
    return out.select(
        F.col("purchase_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )


# --------------------------------------------------------------------------
# Streaming NFA CEP: cross-variable DEFINE over a watermarked stream
# (CepOperator.java:82 with IterativeCondition — the reference's normal
# CEP usage) with WITHIN finalization. Pattern A+ B on the
# click/purchase subsequence: B must be a purchase strictly larger than
# FIRST(A.value) AND inside the anchor's 12-hour WITHIN window. Same
# leftmost-anchor derivation as cep_nfa_define (an attempt at click s
# succeeds iff p.value > value[s], now also p.ts < s.ts + 12h — the
# deadline excludes the boundary row, so strict <), restricted to
# watermark-finalizable anchors: ms-floored anchor ts + WITHIN <= wm
# (epoch_ms flooring per the established convention; the WITHIN window
# membership itself is µs-exact like the operator's timestamp compare).
# --------------------------------------------------------------------------

_SCEP_NFA_ORACLE = """
WITH cut AS (
  SELECT MAX(epoch_ms(ts)) - 600000 AS wm
  FROM events WHERE event_type IN ('click', 'purchase')
), seq AS (
  SELECT user_id, ts, event_id, event_type, value,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
  FROM events
  WHERE event_type IN ('click', 'purchase')
), clicks AS (
  SELECT user_id, run_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, run_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, run_id) AS run_len
  FROM seq WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, run_id, ts, event_id, value AS purchase_value
  FROM seq WHERE event_type = 'purchase'
), matched AS (
  SELECT p.user_id, p.run_id, p.ts, p.event_id, p.purchase_value,
         MIN(c.rn) AS start_rn, MAX(c.run_len) AS run_len
  FROM purchases p
  JOIN clicks c ON c.user_id = p.user_id AND c.run_id = p.run_id
             AND p.purchase_value > c.value
             AND p.ts < c.ts + INTERVAL 12 HOUR
  GROUP BY p.user_id, p.run_id, p.ts, p.event_id, p.purchase_value
), final AS (
  SELECT m.*, fc.ts AS anchor_ts, fc.value AS first_click_value
  FROM matched m
  JOIN clicks fc ON fc.user_id = m.user_id AND fc.run_id = m.run_id
               AND fc.rn = m.start_rn
)
SELECT f.user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY f.user_id
                               ORDER BY f.anchor_ts, f.event_id) - 1 AS INT)
         AS match_no,
       CAST(f.run_len - f.start_rn + 1 AS BIGINT) AS n_clicks,
       f.first_click_value,
       f.purchase_value
FROM final f, cut
WHERE epoch_ms(f.anchor_ts) + 43200000 <= cut.wm
"""


@register(
    "stream_cep_nfa_define", _SCEP_NFA_ORACLE, tags=("streaming", "cep", "match")
)
def stream_cep_nfa_define(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
    )

    base = replay_stream(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).withWatermark("ts", "10 minutes")
    return run_to_table(
        streaming_cep_nfa_within(
            base,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            steps=[("A", "+"), ("B", "1")],
            defines={
                "A": lambda r, c: r["event_type"] == "click",
                "B": lambda r, c: r["event_type"] == "purchase"
                and r["value"] > c["A"][0]["value"],
            },
            measures={
                "n_clicks": ("A", "count", "__id", "bigint"),
                "first_click_value": ("A", "first", "value", "double"),
                "purchase_value": ("B", "last", "value", "double"),
            },
            within_ms=12 * 3600 * 1000,
            value_cols=["event_type", "value"],
        ),
        "update",
    )


# --------------------------------------------------------------------------
# Streaming CEP with AFTER MATCH SKIP TO NEXT ROW (SkipToNextStrategy
# .java on CepOperator's keyed horizon): overlapping c+p matches — every
# click of a purchase-terminated run anchors its own match. A click c
# in a run ending at purchase p matches iff p is inside c's WITHIN
# window (µs-exact p.ts < c.ts + 12h; intermediate clicks are closer so
# always inside), finalized once the ms-floored watermark passes
# c.ts + WITHIN. match_no = per-user anchor order.
# --------------------------------------------------------------------------

_SCEP_SKIPNEXT_ORACLE = """
WITH cut AS (
  SELECT MAX(epoch_ms(ts)) - 600000 AS wm
  FROM events WHERE event_type IN ('click', 'purchase')
), seq AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IN ('click', 'purchase')
), runs AS (
  SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY rn) AS grp
  FROM seq
), c_runs AS (
  SELECT user_id, grp, MIN(rn) AS run_start, MAX(rn) AS run_end
  FROM runs WHERE event_type = 'click' GROUP BY user_id, grp
), p_adj AS (
  SELECT cr.user_id, cr.run_start, cr.run_end,
         p.event_id AS end_id, p.ts AS p_ts
  FROM c_runs cr
  JOIN seq p ON p.user_id = cr.user_id AND p.rn = cr.run_end + 1
            AND p.event_type = 'purchase'
), anchors AS (
  SELECT a.user_id, c.ts AS anchor_ts, c.event_id AS start_id,
         a.end_id, CAST(a.run_end - c.rn + 2 AS INT) AS n_rows
  FROM p_adj a
  JOIN runs c ON c.user_id = a.user_id AND c.event_type = 'click'
             AND c.rn BETWEEN a.run_start AND a.run_end
  WHERE a.p_ts < c.ts + INTERVAL 12 HOUR
)
SELECT a.user_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY a.user_id
                               ORDER BY a.anchor_ts, a.start_id) - 1 AS INT)
         AS match_no,
       a.start_id, a.end_id, a.n_rows
FROM anchors a, cut
WHERE epoch_ms(a.anchor_ts) + 43200000 <= cut.wm
"""


@register(
    "stream_cep_skip_next", _SCEP_SKIPNEXT_ORACLE, tags=("streaming", "cep", "match")
)
def stream_cep_skip_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.operators.cep import classify
    from flink_release_1_16_0_spark.streaming.cep_stream import streaming_cep_within

    sym = classify(
        {
            "c": F.col("event_type") == "click",
            "p": F.col("event_type") == "purchase",
        }
    )
    base = (
        replay_stream(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .withWatermark("ts", "10 minutes")
        .withColumn("__s", sym)
    )
    return run_to_table(
        streaming_cep_within(
            base,
            keys=["user_id"],
            ts_col="ts",
            id_col="event_id",
            sym_col="__s",
            pattern="c+p",
            within_ms=12 * 3600 * 1000,
            skip="to_next_row",
        ),
        "update",
    )


# --------------------------------------------------------------------------
# tumbling window agg with ALLOWED LATENESS + late firing
# (WindowOperator.java:380-409 — the lateness path Spark's native
# window agg cannot express; operator in streaming/group_window.py). The
# bounded single-file replay has no late arrivals, so the oracle
# verifies the on-time firing set: windows whose end - 1 the final
# watermark reached (isWindowFired, ms-floored, the module convention),
# as the operator fires them; the -U/+U late path is pytest-covered
# with a multi-batch replay
# (tests/test_streaming.py::test_window_agg_allowed_lateness).
# --------------------------------------------------------------------------

_SLATENESS_ORACLE = f"""
WITH wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000) - 600000 AS wm_ms FROM events
), b AS (
  SELECT (epoch_us(ts) // {5 * 60 * _US}) AS bucket FROM events
)
SELECT
  make_timestamp(bucket * {5 * 60 * _US}) AS win_start,
  '+I' AS op,
  CAST(COUNT(*) AS BIGINT) AS n
FROM b, wm
GROUP BY bucket, wm_ms
HAVING bucket * {5 * 60 * 1000} + {5 * 60 * 1000} - 1 <= wm_ms
"""


@register(
    "stream_window_allowed_lateness",
    _SLATENESS_ORACLE,
    tags=("streaming", "window", "time"),
)
def stream_window_allowed_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )

    ev = events_stream(spark, sf_dir)
    out = streaming_group_window_agg(
        ev.select("ts", F.lit(0).alias("__g")),
        ["__g"],
        "ts",
        [("n", "count_star", None, LongType())],
        kind="tumble",
        size_ms=5 * 60 * 1000,
        allowed_lateness_ms=10 * 60 * 1000,
    )
    return run_to_table(out, "update").select(
        F.col("window_start").alias("win_start"),
        F.col("__rowkind").alias("op"),
        "n",
    )


# --------------------------------------------------------------------------
# manifest-log incremental tail (FileSystemTableSource.java:83 streaming
# read / ContinuousFileMonitoringFunction): the commit log IS the
# monitoring signal — each manifest seq is an offset, exactly-once by
# the query checkpoint. Oracle = batch over the same source rows
# (stream-table duality: the drained tail must equal the table).
# --------------------------------------------------------------------------

_MANIFEST_TAIL_ORACLE = """
SELECT o_orderpriority AS pri,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY o_orderpriority
"""


@register(
    "stream_manifest_tail",
    _MANIFEST_TAIL_ORACLE,
    tags=("streaming", "sink", "commit"),
)
def stream_manifest_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-by-commit tail of a manifest table: four separate INSERTs
    publish four manifests; the Python-data-source stream reader
    (sources/manifest_stream.py) replays them by sequence offset and
    the drained tail must aggregate to exactly the batch table."""
    import tempfile

    from flink_release_1_16_0_spark.sources.manifest_stream import (
        manifest_tail_stream,
    )
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    work = tempfile.mkdtemp(prefix="manifest_tail_")
    out = f"{work}/mt_tbl"
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mt_src (
          o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING
        ) WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet',
                'format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE mt_tail_tbl (
          o_orderkey BIGINT, o_totalprice DOUBLE, pri STRING
        ) WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    for i in (0, 2, 4, 6):  # four commits -> four manifests
        tenv.execute_sql(
            "INSERT INTO mt_tail_tbl SELECT o_orderkey, o_totalprice, "
            f"o_orderpriority FROM mt_src WHERE o_orderkey % 8 = {i}"
        )
    tail = manifest_tail_stream(
        spark, out, "o_orderkey BIGINT, o_totalprice DOUBLE, pri STRING"
    )
    drained = run_to_table(tail, "append")
    return drained.groupBy(F.col("pri")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(38,2)") * 100).cast("bigint")
        ).cast("bigint").alias("total_cents"),
    )


# --------------------------------------------------------------------------
# manifest-tail x ChangelogNormalize composition: tailing an UPSERT
# manifest table as a clean retract changelog — the upsert-kafka shape
# on files (UpsertKafkaDynamicTableFactory.java's source side composed
# with StreamExecChangelogNormalize.java:156). A keyed upsert log
# (+I/+U/-D) publishes across three manifest commits; the tail feeds
# the stateful upsert->retract operator; folding the retract stream
# must materialize the log's final state.
# --------------------------------------------------------------------------

_MANIFEST_UPSERT_ORACLE = """
SELECT c_custkey,
       CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT)
         * (CASE WHEN c_custkey % 8 = 0 THEN 2 ELSE 1 END) AS bal_cents
FROM customer
WHERE c_custkey % 4 = 0 AND c_custkey % 16 <> 0
"""


@register(
    "stream_manifest_upsert_tail",
    _MANIFEST_UPSERT_ORACLE,
    tags=("streaming", "sink", "commit", "changelog"),
)
def stream_manifest_upsert_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert manifest table -> incremental tail -> stateful
    ChangelogNormalize -> net materialization. Commit 1 inserts every
    %4 key, commit 2 doubles every %8 key (+U), commit 3 deletes every
    %16 key (-D, key-only payload — the value comes from state)."""
    import tempfile

    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.sources.manifest_stream import (
        manifest_tail_stream,
    )
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_upsert_to_retract,
    )
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    work = tempfile.mkdtemp(prefix="manifest_upsert_")
    out = f"{work}/mu_tbl"
    cents = (F.col("c_acctbal").cast("decimal(38,2)") * 100).cast("bigint")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    log_commits = [
        cust.filter(F.col("c_custkey") % 4 == 0).select(
            F.lit("+I").alias("kind"),
            (F.col("c_custkey") * 4).alias("seq"),
            "c_custkey",
            cents.alias("bal_cents"),
        ),
        cust.filter(F.col("c_custkey") % 8 == 0).select(
            F.lit("+U").alias("kind"),
            (F.col("c_custkey") * 4 + 1).alias("seq"),
            "c_custkey",
            (cents * 2).alias("bal_cents"),
        ),
        cust.filter(F.col("c_custkey") % 16 == 0).select(
            F.lit("-D").alias("kind"),
            (F.col("c_custkey") * 4 + 2).alias("seq"),
            "c_custkey",
            F.lit(0).cast("bigint").alias("bal_cents"),
        ),
    ]
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mu_tbl (
          kind STRING, seq BIGINT, c_custkey BIGINT, bal_cents BIGINT
        ) WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    for i, commit in enumerate(log_commits):
        commit.createOrReplaceTempView(f"mu_log_{i}")
        tenv.execute_sql(
            f"INSERT INTO mu_tbl SELECT kind, seq, c_custkey, bal_cents "
            f"FROM mu_log_{i}"
        )
    tail = manifest_tail_stream(
        spark, out, "kind STRING, seq BIGINT, c_custkey BIGINT, bal_cents BIGINT"
    ).withColumnRenamed("kind", ROWKIND)
    retract = streaming_upsert_to_retract(
        tail, keys=["c_custkey"], seq_col="seq"
    )
    emitted = run_to_table(retract, "update")
    # net materialization of the retract log: live rows carry net +1
    from flink_release_1_16_0_spark.streaming.changelog import (
        net_multiplicity,
    )

    return net_multiplicity(emitted).select("c_custkey", "bal_cents")
