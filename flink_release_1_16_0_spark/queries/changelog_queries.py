"""Changelog-algebra queries (SURVEY.md sections 2.6, 2.9, 7.0 — M4).

The driver fixtures are insert-only, so these queries first *derive* a
deterministic changelog from `orders` (the same construction in Spark
and in the oracle SQL):

- +I for every order at its orderdate;
- a -U/+U pair at orderdate+30d for finished ('F') orders, raising
  totalprice by 10%;
- -D at orderdate+60d for orders with orderkey % 50 == 0.

Then they exercise the changelog operators:
- `changelog_normalize` (StreamExecChangelogNormalize.java:156): the
  materialized current state;
- `retracting_group_agg` (GroupAggFunction.java:125-172): signed
  aggregation with group-vanish-on-zero-count semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.catalog import load_table
from flink_release_1_16_0_spark.queries import register
from flink_release_1_16_0_spark.streaming import changelog as C

# The changelog construction, once in SQL (oracle) and once in Spark.
# seq disambiguates same-timestamp rows: -U sorts before +U.

_LOG_SQL = """
  SELECT '+I' AS __rowkind, o_orderdate AS ts, 0 AS seq,
         o_orderkey, o_orderpriority, o_totalprice
  FROM orders
  UNION ALL
  SELECT '-U', o_orderdate + INTERVAL 30 DAY, 1,
         o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT '+U', o_orderdate + INTERVAL 30 DAY, 2,
         o_orderkey, o_orderpriority, CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT '-D', o_orderdate + INTERVAL 60 DAY, 3,
         o_orderkey, o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
              ELSE o_totalprice END
  FROM orders WHERE o_orderkey % 50 = 0
"""


def _bumped_price() -> Column:
    """+10%, computed in exact decimal so the half-up rounding is
    engine-identical (double*1.1 lands on .5 ties that Spark and DuckDB
    round differently)."""
    return (
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(2,1)"),
            2,
        )
        .cast("double")
    )


def _orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _orders_changelog_df(load_table(spark, sf_dir, "orders"))


def _orders_changelog_df(o: DataFrame) -> DataFrame:
    base = o.select(
        F.lit(C.INSERT).alias(C.ROWKIND),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("seq"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
    )
    finished = o.filter(F.col("o_orderstatus") == "F")
    upd_before = finished.select(
        F.lit(C.UPDATE_BEFORE).alias(C.ROWKIND),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(1).alias("seq"),
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
    )
    upd_after = finished.select(
        F.lit(C.UPDATE_AFTER).alias(C.ROWKIND),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(2).alias("seq"),
        "o_orderkey",
        "o_orderpriority",
        _bumped_price().alias("o_totalprice"),
    )
    deleted = o.filter(F.col("o_orderkey") % 50 == 0).select(
        F.lit(C.DELETE).alias(C.ROWKIND),
        (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
        F.lit(3).alias("seq"),
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", _bumped_price())
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return base.unionByName(upd_before).unionByName(upd_after).unionByName(deleted)


# --------------------------------------------------------------------------
# ChangelogNormalize: materialized current state of the keyed changelog
# --------------------------------------------------------------------------

_NORMALIZE_ORACLE = f"""
WITH log AS ({_LOG_SQL}),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY ts DESC, seq DESC) AS rn
  FROM log
)
SELECT ts, seq, o_orderkey, o_orderpriority, o_totalprice
FROM ranked
WHERE rn = 1 AND __rowkind IN ('+I', '+U')
"""


@register("changelog_normalize", _NORMALIZE_ORACLE, tags=("changelog", "streaming"))
def changelog_normalize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _orders_changelog(spark, sf_dir)
    return C.changelog_normalize(log, keys=["o_orderkey"], ts_col="ts", seq_col="seq")


# --------------------------------------------------------------------------
# retracting group agg: net state per priority after replaying the log
# --------------------------------------------------------------------------

_RETRACT_AGG_ORACLE = f"""
WITH log AS ({_LOG_SQL})
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS BIGINT) AS n,
       CAST(SUM((CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END)
                * CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS net_total
FROM log
GROUP BY o_orderpriority
HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
"""


@register("changelog_retract_agg", _RETRACT_AGG_ORACLE, tags=("changelog", "agg", "streaming"))
def changelog_retract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _orders_changelog(spark, sf_dir)
    out = C.retracting_group_agg(
        log,
        group_cols=["o_orderpriority"],
        sum_cols={"net_total": F.col("o_totalprice").cast("DECIMAL(38,2)")},
    )
    return out.withColumn("net_total", F.col("net_total").cast("double"))


# --------------------------------------------------------------------------
# DropUpdateBefore: upsert view of the changelog (counts by kind)
# --------------------------------------------------------------------------

_DROP_UB_ORACLE = f"""
WITH log AS ({_LOG_SQL})
SELECT __rowkind, COUNT(*) AS n
FROM log
WHERE __rowkind <> '-U'
GROUP BY __rowkind
"""


@register("changelog_drop_update_before", _DROP_UB_ORACLE, tags=("changelog", "streaming"))
def changelog_drop_update_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _orders_changelog(spark, sf_dir)
    return (
        C.drop_update_before(log)
        .groupBy(C.ROWKIND)
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# changelog join: the multiset algebra of StreamingJoinOperator, batch
# form and the real two-input stateful streaming operator. Two logs:
# orders (keyed by custkey; doubled rows for orderkey%3 exercise
# multiplicity > 1, deletes for orderkey%20) and customer (segment
# update for custkey%5, delete for custkey%7).
# --------------------------------------------------------------------------

_JOIN_LOGS_SQL = """
llog AS (
  SELECT '+I' AS __rowkind, 0 AS seq, o_custkey AS custkey,
         o_orderkey, o_totalprice
  FROM orders
  UNION ALL
  SELECT '+I', 0, o_custkey, o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT '-D', 3, o_custkey, o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 20 = 0
),
rlog AS (
  SELECT '+I' AS __rowkind, 0 AS seq, c_custkey AS custkey, c_mktsegment
  FROM customer
  UNION ALL
  SELECT '-U', 1, c_custkey, c_mktsegment
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT '+U', 2, c_custkey, 'UPDATED'
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT '-D', 4, c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED' ELSE c_mktsegment END
  FROM customer WHERE c_custkey % 7 = 0
)
"""

_CHANGELOG_JOIN_ORACLE = f"""
WITH {_JOIN_LOGS_SQL},
lnet AS (
  SELECT custkey, o_orderkey, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS ml
  FROM llog GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
),
rnet AS (
  SELECT custkey, c_mktsegment,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS mr
  FROM rlog GROUP BY 1, 2
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
)
SELECT lnet.custkey, o_orderkey, o_totalprice, c_mktsegment,
       CAST(ml * mr AS BIGINT) AS m
FROM lnet JOIN rnet ON lnet.custkey = rnet.custkey
"""


def _orders_join_log(df: DataFrame) -> DataFrame:
    base = df.select(
        F.lit(C.INSERT).alias(C.ROWKIND),
        F.lit(0).alias("seq"),
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
    )
    doubled = df.filter(F.col("o_orderkey") % 3 == 0).select(
        F.lit(C.INSERT).alias(C.ROWKIND),
        F.lit(0).alias("seq"),
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
    )
    deleted = df.filter(F.col("o_orderkey") % 20 == 0).select(
        F.lit(C.DELETE).alias(C.ROWKIND),
        F.lit(3).alias("seq"),
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_totalprice",
    )
    return base.unionByName(doubled).unionByName(deleted)


def _customer_join_log(df: DataFrame) -> DataFrame:
    base = df.select(
        F.lit(C.INSERT).alias(C.ROWKIND),
        F.lit(0).alias("seq"),
        F.col("c_custkey").alias("custkey"),
        "c_mktsegment",
    )
    upd = df.filter(F.col("c_custkey") % 5 == 0)
    upd_before = upd.select(
        F.lit(C.UPDATE_BEFORE).alias(C.ROWKIND),
        F.lit(1).alias("seq"),
        F.col("c_custkey").alias("custkey"),
        "c_mktsegment",
    )
    upd_after = upd.select(
        F.lit(C.UPDATE_AFTER).alias(C.ROWKIND),
        F.lit(2).alias("seq"),
        F.col("c_custkey").alias("custkey"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    deleted = df.filter(F.col("c_custkey") % 7 == 0).select(
        F.lit(C.DELETE).alias(C.ROWKIND),
        F.lit(4).alias("seq"),
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UPDATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return base.unionByName(upd_before).unionByName(upd_after).unionByName(deleted)


@register("changelog_join", _CHANGELOG_JOIN_ORACLE, tags=("changelog", "join"))
def changelog_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    llog = _orders_join_log(load_table(spark, sf_dir, "orders")).drop("seq")
    rlog = _customer_join_log(load_table(spark, sf_dir, "customer")).drop("seq")
    return C.changelog_join(llog, rlog, on=["custkey"], m_col="m")


@register(
    "stream_changelog_join",
    _CHANGELOG_JOIN_ORACLE,
    tags=("changelog", "join", "streaming"),
)
def stream_changelog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-input stateful join operator itself, drained over the
    bounded replay; emissions are then multiset-materialized, which by
    the telescoping-product invariant equals the batch changelog_join.
    """
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import streaming_changelog_join

    llog = _orders_join_log(replay_stream(spark, sf_dir, "orders"))
    rlog = _customer_join_log(replay_stream(spark, sf_dir, "customer"))
    out = run_to_table(
        streaming_changelog_join(llog, rlog, keys=["custkey"]), "update"
    )
    emitted_sign = F.when(
        F.col(C.ROWKIND).isin(C.INSERT, C.UPDATE_AFTER), F.col("__m")
    ).otherwise(-F.col("__m"))
    return (
        out.groupBy("custkey", "o_orderkey", "o_totalprice", "c_mktsegment")
        .agg(F.sum(emitted_sign).cast("bigint").alias("m"))
        .filter(F.col("m") != 0)
    )


# --------------------------------------------------------------------------
# retractable TopN (RetractableTopNFunction.java:478): top-3 orders by
# price per priority over the CHANGELOG — deletes/updates retract prior
# inserts and promote lower-ranked rows. The ts/seq bookkeeping columns
# drop before the operator so a retraction row tuple-matches its insert.
# --------------------------------------------------------------------------

_RETRACT_TOPN_ORACLE = f"""
WITH log AS ({_LOG_SQL}),
net AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS m
  FROM log
  GROUP BY o_orderkey, o_orderpriority, o_totalprice
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) > 0
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM net
)
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
"""


@register(
    "stream_retractable_topn",
    _RETRACT_TOPN_ORACLE,
    tags=("changelog", "rank", "streaming"),
)
def stream_retractable_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_retractable_topn,
    )

    log = _orders_changelog_df(replay_stream(spark, sf_dir, "orders")).drop(
        "ts", "seq"
    )
    out = run_to_table(
        streaming_retractable_topn(
            log,
            keys=["o_orderpriority"],
            order_cols=["o_totalprice", "o_orderkey"],
            n=3,
            ascending=[False, True],
        ),
        "update",
    )
    w = Window.partitionBy("o_orderpriority")
    return (
        out.withColumn("mx", F.max("__epoch").over(w))
        .filter(F.col("__epoch") == F.col("mx"))
        .filter(F.col("rn") >= 1)  # drop "now empty" tombstones (rn=0)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


# --------------------------------------------------------------------------
# debezium-json decoding format (DebeziumJsonDecodingFormat.java):
# events rows are wrapped into CDC envelopes in-plan (to_json), decoded
# by the format into RowKind-tagged rows, and compared against DuckDB
# building the same changelog directly. op mapping: c/r -> +I(after),
# u -> -U(before)+U(after), d -> -D(before), unknown ops dropped.
# --------------------------------------------------------------------------

_DEBEZIUM_ORACLE = """
WITH e AS (SELECT * FROM events WHERE event_id % 7 = 0)
SELECT '+I' AS rowkind, event_id, user_id, value FROM e
 WHERE event_type IN ('click', 'view')
UNION ALL
SELECT '-U', event_id, user_id, value FROM e WHERE event_type = 'purchase'
UNION ALL
SELECT '+U', event_id, user_id, value * 2 FROM e WHERE event_type = 'purchase'
UNION ALL
SELECT '-D', event_id, user_id, value FROM e WHERE event_type = 'error'
"""


@register("format_debezium_cdc", _DEBEZIUM_ORACLE, tags=("format", "changelog"))
def format_debezium_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.sources.formats import debezium_json_to_changelog

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    et = F.col("event_type")

    def row(value_col):
        return F.struct(
            F.col("event_id"), F.col("user_id"), value_col.alias("value")
        )

    before = F.when(et.isin("purchase", "error"), row(F.col("value")))
    after = F.when(et.isin("click", "view"), row(F.col("value"))).when(
        et == "purchase", row(F.col("value") * 2)
    )
    op = (
        F.when(et == "click", "c")
        .when(et == "view", "r")
        .when(et == "purchase", "u")
        .when(et == "error", "d")
        .otherwise("x")  # 'signup': unknown op, must be dropped
    )
    envelopes = ev.select(
        F.to_json(
            F.struct(before.alias("before"), after.alias("after"), op.alias("op"))
        ).alias("value")
    )
    decoded = debezium_json_to_changelog(
        envelopes, "value", "event_id BIGINT, user_id BIGINT, value DOUBLE"
    )
    return decoded.withColumnRenamed("__rowkind", "rowkind")


# --------------------------------------------------------------------------
# retractable MIN/MAX (Min/MaxWithRetractAggFunction): extrema per
# priority over the changelog — deletes can RAISE the min / LOWER the
# max, which plain streaming min/max cannot express; the operator's
# multiset state converges independent of batch slicing, and the
# emitted -U/+U changelog nets to one live row per priority.
# --------------------------------------------------------------------------

_RETRACT_MINMAX_ORACLE = f"""
WITH log AS ({_LOG_SQL}),
net AS (
  SELECT o_orderpriority, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS m
  FROM log
  GROUP BY o_orderpriority, o_totalprice
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) > 0
)
SELECT o_orderpriority,
       CAST(SUM(m) AS BIGINT) AS n_live,
       MIN(o_totalprice) AS min_v,
       MAX(o_totalprice) AS max_v
FROM net GROUP BY o_orderpriority
"""


@register(
    "stream_retract_minmax", _RETRACT_MINMAX_ORACLE, tags=("changelog", "streaming", "agg")
)
def stream_retract_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    log = _orders_changelog_df(replay_stream(spark, sf_dir, "orders")).select(
        C.ROWKIND, "o_orderpriority", "o_totalprice"
    )
    price = log.schema["o_totalprice"].dataType
    out = run_to_table(
        streaming_retracting_multi_agg(
            log,
            ["o_orderpriority"],
            [
                ("n_live", "count_star", None, LongType()),
                ("min_v", "min", "o_totalprice", price),
                ("max_v", "max", "o_totalprice", price),
            ],
            rowkind_col=C.ROWKIND,
        ),
        "update",
    )
    return C.net_multiplicity(out).select("o_orderpriority", "n_live", "min_v", "max_v")


# --------------------------------------------------------------------------
# changelog-ENCODING formats (DebeziumJsonSerializationSchema.java):
# the same synthetic changelog as format_debezium_cdc is serialized to
# debezium envelopes and decoded back. The wire maps each row alone
# (+I/+U -> create, -D/-U -> delete — the reference's serializer does
# not re-pair updates), so the decoded changelog is the source's with
# +U collapsed to +I and -U to -D.
# --------------------------------------------------------------------------

_DEBEZIUM_ENCODE_ORACLE = """
WITH e AS (SELECT * FROM events WHERE event_id % 7 = 0)
SELECT '+I' AS rowkind, event_id, user_id, value FROM e
 WHERE event_type IN ('click', 'view')
UNION ALL
SELECT '-D', event_id, user_id, value FROM e WHERE event_type = 'purchase'
UNION ALL
SELECT '+I', event_id, user_id, value * 2 FROM e WHERE event_type = 'purchase'
UNION ALL
SELECT '-D', event_id, user_id, value FROM e WHERE event_type = 'error'
"""


@register(
    "format_debezium_encode", _DEBEZIUM_ENCODE_ORACLE, tags=("format", "changelog")
)
def format_debezium_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_release_1_16_0_spark.sources.formats import (
        changelog_to_debezium_json,
        debezium_json_to_changelog,
    )

    log = format_debezium_cdc(spark, sf_dir).withColumnRenamed(
        "rowkind", "__rowkind"
    )
    wire = changelog_to_debezium_json(log)
    decoded = debezium_json_to_changelog(
        wire, "value", "event_id BIGINT, user_id BIGINT, value DOUBLE"
    )
    return decoded.withColumnRenamed("__rowkind", "rowkind")


# --------------------------------------------------------------------------
# OUTER changelog join (StreamingJoinOperator.java:60 with
# OuterJoinRecordStateView): orders whose customer's changelog drained
# to zero (-D at custkey % 7 = 0) surface null-padded; the converged
# multiset is the netted LEFT join with m = ml when unmatched.
# --------------------------------------------------------------------------

_CHANGELOG_LEFT_JOIN_ORACLE = f"""
WITH {_JOIN_LOGS_SQL},
lnet AS (
  SELECT custkey, o_orderkey, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS ml
  FROM llog GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
),
rnet AS (
  SELECT custkey, c_mktsegment,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS mr
  FROM rlog GROUP BY 1, 2
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
)
SELECT lnet.custkey, o_orderkey, o_totalprice, c_mktsegment,
       CAST(CASE WHEN mr IS NULL THEN ml ELSE ml * mr END AS BIGINT) AS m
FROM lnet LEFT JOIN rnet ON lnet.custkey = rnet.custkey
"""


@register(
    "changelog_outer_join",
    _CHANGELOG_LEFT_JOIN_ORACLE,
    tags=("changelog", "join"),
)
def changelog_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    llog = _orders_join_log(load_table(spark, sf_dir, "orders")).drop("seq")
    rlog = _customer_join_log(load_table(spark, sf_dir, "customer")).drop("seq")
    return C.changelog_join(llog, rlog, on=["custkey"], m_col="m", how="left")


@register(
    "stream_changelog_outer_join",
    _CHANGELOG_LEFT_JOIN_ORACLE,
    tags=("changelog", "join", "streaming"),
)
def stream_changelog_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-input stateful OUTER join drained over the bounded
    replay: null-padded emissions retract when a key's first match
    arrives and re-emit when the match side drains to zero; the
    multiset-materialized emissions equal the batch netted LEFT join —
    independent of batch boundaries (the fuzzer's join arm pins the
    same invariant for random interleavings)."""
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import streaming_changelog_join

    llog = _orders_join_log(replay_stream(spark, sf_dir, "orders"))
    rlog = _customer_join_log(replay_stream(spark, sf_dir, "customer"))
    out = run_to_table(
        streaming_changelog_join(llog, rlog, keys=["custkey"], join_type="left"),
        "update",
    )
    emitted_sign = F.when(
        F.col(C.ROWKIND).isin(C.INSERT, C.UPDATE_AFTER), F.col("__m")
    ).otherwise(-F.col("__m"))
    return (
        out.groupBy("custkey", "o_orderkey", "o_totalprice", "c_mktsegment")
        .agg(F.sum(emitted_sign).cast("bigint").alias("m"))
        .filter(F.col("m") != 0)
    )


# --------------------------------------------------------------------------
# changelog SEMI / ANTI join (StreamingSemiAntiJoinOperator, the
# non-windowed changelog form): left rows live in the output while the
# key's right side has (semi) / lacks (anti) live rows; right arrivals
# only flip membership. Oracles: netted EXISTS / NOT EXISTS.
# --------------------------------------------------------------------------

_CHANGELOG_SEMI_ORACLE = f"""
WITH {_JOIN_LOGS_SQL},
lnet AS (
  SELECT custkey, o_orderkey, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS ml
  FROM llog GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
),
rtot AS (
  SELECT custkey,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS t
  FROM rlog GROUP BY 1
)
SELECT l.custkey, l.o_orderkey, l.o_totalprice, CAST(l.ml AS BIGINT) AS m
FROM lnet l
WHERE EXISTS (SELECT 1 FROM rtot r WHERE r.custkey = l.custkey AND r.t > 0)
"""

_CHANGELOG_ANTI_ORACLE = f"""
WITH {_JOIN_LOGS_SQL},
lnet AS (
  SELECT custkey, o_orderkey, o_totalprice,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS ml
  FROM llog GROUP BY 1, 2, 3
  HAVING SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) <> 0
),
rtot AS (
  SELECT custkey,
         SUM(CASE WHEN __rowkind IN ('+I','+U') THEN 1 ELSE -1 END) AS t
  FROM rlog GROUP BY 1
)
SELECT l.custkey, l.o_orderkey, l.o_totalprice, CAST(l.ml AS BIGINT) AS m
FROM lnet l
WHERE NOT EXISTS (SELECT 1 FROM rtot r WHERE r.custkey = l.custkey AND r.t > 0)
"""


def _semi_anti(spark: SparkSession, sf_dir: str, anti: bool) -> DataFrame:
    from flink_release_1_16_0_spark.streaming.core import replay_stream, run_to_table
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_semi_anti_join,
    )

    llog = _orders_join_log(replay_stream(spark, sf_dir, "orders"))
    rlog = _customer_join_log(replay_stream(spark, sf_dir, "customer"))
    out = run_to_table(
        streaming_changelog_semi_anti_join(
            llog, rlog, keys=["custkey"], anti=anti
        ),
        "update",
    )
    emitted_sign = F.when(
        F.col(C.ROWKIND).isin(C.INSERT, C.UPDATE_AFTER), F.col("__m")
    ).otherwise(-F.col("__m"))
    return (
        out.groupBy("custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum(emitted_sign).cast("bigint").alias("m"))
        .filter(F.col("m") != 0)
    )


@register(
    "stream_changelog_semi_join",
    _CHANGELOG_SEMI_ORACLE,
    tags=("changelog", "join", "streaming", "semijoin"),
)
def stream_changelog_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semi_anti(spark, sf_dir, anti=False)


@register(
    "stream_changelog_anti_join",
    _CHANGELOG_ANTI_ORACLE,
    tags=("changelog", "join", "streaming", "semijoin"),
)
def stream_changelog_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semi_anti(spark, sf_dir, anti=True)
