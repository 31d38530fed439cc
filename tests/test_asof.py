"""Unit tests for the as-of join operator (operators/asof.py).

Pins the semantics of TemporalRowTimeJoinOperator.java:78 (SURVEY.md
section 2.3): each left row joins the right version with the greatest
ts <= left ts per key; inclusive at equal ts; NULL when no version
exists yet.
"""

from __future__ import annotations

import datetime as dt

from flink_release_1_16_0_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_backward_basic(spark):
    rates = _mk(
        spark,
        [
            ("EUR", _ts("2024-01-01 00:00:00"), 1.0),
            ("EUR", _ts("2024-01-01 01:00:00"), 1.1),
            ("EUR", _ts("2024-01-01 02:00:00"), 1.2),
            ("JPY", _ts("2024-01-01 00:30:00"), 150.0),
        ],
        "currency string, rts timestamp, rate double",
    )
    orders = _mk(
        spark,
        [
            (1, "EUR", _ts("2024-01-01 00:59:59")),
            (2, "EUR", _ts("2024-01-01 01:00:00")),  # equal ts -> inclusive
            (3, "EUR", _ts("2024-01-01 23:00:00")),
            (4, "JPY", _ts("2024-01-01 00:00:00")),  # before any version
        ],
        "order_id bigint, currency string, ots timestamp",
    )
    out = {
        r["order_id"]: r["rate"]
        for r in asof_join(
            orders, rates, on="currency", left_ts="ots", right_ts="rts"
        ).collect()
    }
    assert out[1] == 1.0
    assert out[2] == 1.1  # version at exactly 01:00 is visible
    assert out[3] == 1.2
    assert out[4] is None  # no version yet -> NULL padding


def test_forward_direction(spark):
    right = _mk(
        spark,
        [("k", _ts("2024-01-01 02:00:00"), "v2"), ("k", _ts("2024-01-01 04:00:00"), "v4")],
        "k string, rts timestamp, val string",
    )
    left = _mk(
        spark,
        [(1, "k", _ts("2024-01-01 01:00:00")), (2, "k", _ts("2024-01-01 03:00:00")),
         (3, "k", _ts("2024-01-01 05:00:00"))],
        "i bigint, k string, lts timestamp",
    )
    out = {
        r["i"]: r["val"]
        for r in asof_join(
            left, right, on="k", left_ts="lts", right_ts="rts", direction="forward"
        ).collect()
    }
    assert out[1] == "v2"  # earliest version at/after
    assert out[2] == "v4"
    assert out[3] is None  # nothing after -> NULL


def test_all_left_rows_survive(spark):
    """As-of is a LEFT join: row count is exactly the left count."""
    right = _mk(spark, [("a", _ts("2024-01-01 00:00:00"), 1.0)], "k string, rts timestamp, v double")
    left = _mk(
        spark,
        [(i, "a" if i % 2 else "b", _ts("2024-01-01 12:00:00")) for i in range(10)],
        "i bigint, k string, lts timestamp",
    )
    assert asof_join(left, right, on="k", left_ts="lts", right_ts="rts").count() == 10
