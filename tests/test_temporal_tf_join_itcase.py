"""TemporalTableFunctionJoinITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
TemporalTableFunctionJoinITCase.scala — the pre-FLIP-132 temporal
table function surface (`LATERAL TABLE (Rates(o.rowtime))`,
TemporalTableFunctionImpl) lowered through the as-of join:

- testEventTimeInnerJoin: the function over a FILTERED history view
  (rate > 110) — US Dollar/Yen versions vanish so only the Euro
  orders match; a version with ts == the order's ts IS visible
  (inclusive as-of);
- testProcessTimeInnerJoinUnionAll's shape under event time: the left
  input is a UNION ALL, every match doubles;
- testNestedTemporalJoin: TWO laterals over one left input, the
  second join's key coming from the FIRST lateral's output
  (r.currency = p.currency) — the rewrite must not collide the two
  __asof_ts columns.

The reference's pure proc-time cases assert only "no exception"; the
event-time ports here carry the actual expected rows
(TemporalTableFunctionJoinITCase.scala:171,236, Apache-2.0).
Implementation under test: table_env._translate_lateral_temporal +
operators/asof.py."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_release_1_16_0_spark.table_env import TableEnvironment


def ms(n: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=n)


@pytest.fixture()
def tenv(spark):
    return TableEnvironment.create(spark)


@pytest.fixture()
def fixtures(spark):
    orders = spark.createDataFrame(
        [
            (2, "Euro", ms(2)),
            (1, "US Dollar", ms(3)),
            (50, "Yen", ms(4)),
            (3, "Euro", ms(5)),
        ],
        "amount bigint, currency string, rowtime timestamp",
    )
    rates = spark.createDataFrame(
        [
            ("US Dollar", 102, ms(1)),
            ("Euro", 114, ms(1)),
            ("Yen", 1, ms(1)),
            ("Euro", 116, ms(5)),
            ("Euro", 119, ms(7)),
        ],
        "currency string, rate bigint, rowtime timestamp",
    )
    orders.createOrReplaceTempView("ttf_orders")
    rates.createOrReplaceTempView("ttf_rates_history")
    return orders, rates


def test_event_time_inner_join(tenv, spark, fixtures):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ttf_filtered_rates AS "
        "SELECT * FROM ttf_rates_history WHERE rate > 110"
    )
    tenv.register_temporal_table_function(
        "Rates", "ttf_filtered_rates", time_attr="rowtime", primary_key="currency"
    )
    rows = tenv.sql_query(
        """
        SELECT o.amount * r.rate AS amount
        FROM ttf_orders AS o, LATERAL TABLE (Rates(o.rowtime)) AS r
        WHERE r.currency = o.currency
        """
    ).to_data_frame().collect()
    assert {int(r["amount"]) for r in rows} == {2 * 114, 3 * 116}


def test_event_time_inner_join_union_all(tenv, spark, fixtures):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW ttf_orders_u AS "
        "SELECT * FROM ttf_orders UNION ALL SELECT * FROM ttf_orders"
    )
    tenv.register_temporal_table_function(
        "RatesU", "ttf_rates_history", time_attr="rowtime", primary_key="currency"
    )
    rows = tenv.sql_query(
        """
        SELECT o.amount * r.rate AS amount
        FROM ttf_orders_u AS o, LATERAL TABLE (RatesU(o.rowtime)) AS r
        WHERE r.currency = o.currency
        """
    ).to_data_frame().collect()
    got = sorted(int(r["amount"]) for r in rows)
    assert got == sorted([2 * 114, 1 * 102, 50 * 1, 3 * 116] * 2)


def test_nested_temporal_join(tenv, spark, fixtures):
    orders = spark.createDataFrame(
        [
            (1, "A1", 2, ms(2)),
            (2, "A2", 1, ms(3)),
            (3, "A4", 50, ms(4)),
            (4, "A1", 3, ms(5)),
        ],
        "orderId bigint, productId string, amount bigint, rowtime timestamp",
    )
    prices = spark.createDataFrame(
        [
            ("A2", "US Dollar", 10.2, ms(1)),
            ("A1", "Euro", 11.4, ms(1)),
            ("A4", "Yen", 1.0, ms(1)),
            ("A1", "Euro", 11.6, ms(5)),
            ("A1", "Euro", 11.9, ms(7)),
        ],
        "productId string, currency string, price double, rowtime timestamp",
    )
    orders.createOrReplaceTempView("ttf_orders2")
    prices.createOrReplaceTempView("ttf_prices_history")
    tenv.register_temporal_table_function(
        "Prices", "ttf_prices_history", time_attr="rowtime", primary_key="productId"
    )
    tenv.register_temporal_table_function(
        "Rates2", "ttf_rates_history", time_attr="rowtime", primary_key="currency"
    )
    rows = tenv.sql_query(
        """
        SELECT o.orderId, (o.amount * p.price * r.rate) AS total_price
        FROM ttf_orders2 AS o,
             LATERAL TABLE (Prices(o.rowtime)) AS p,
             LATERAL TABLE (Rates2(o.rowtime)) AS r
        WHERE o.productId = p.productId AND r.currency = p.currency
        """
    ).to_data_frame().collect()
    got = sorted((int(r["orderId"]), round(float(r["total_price"]), 6)) for r in rows)
    assert got == sorted(
        (i, round(v, 6))
        for i, v in [
            (1, 2 * 114 * 11.4),
            (2, 1 * 102 * 10.2),
            (3, 50 * 1 * 1.0),
            (4, 3 * 116 * 11.6),
        ]
    )
