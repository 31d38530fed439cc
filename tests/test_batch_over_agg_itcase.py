"""Batch OverAggregateITCase conformance (frame matrix subset), ported
from flink-table-planner/src/test/scala/.../runtime/batch/sql/
OverAggregateITCase.scala — the OVER-window frame arithmetic the
full matrix depends on: ROWS UNBOUNDED PRECEDING..CURRENT ROW under a
DESC order, the SHRINKING frame (CURRENT ROW..UNBOUNDED FOLLOWING and
the beyond-int32 bound 2147483648 FOLLOWING), mixed multi-frame
queries (different orders/directions/aggregates in one projection),
and the ROWS-vs-RANGE matrix with bounded numeric RANGE frames over
ties. Expected rows are the ITCase's own (Apache-2.0); execution is
native Catalyst window aggregation (SURVEY.md section 2.5 row 37)."""

from __future__ import annotations

import pytest

from tests.test_join_semianti_itcase import TUPLE5


@pytest.fixture(autouse=True)
def _tables(spark):
    spark.createDataFrame(
        TUPLE5, "d int, e bigint, f int, g string, h bigint"
    ).createOrReplaceTempView("ov_t5")


def rows(spark, sql):
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def test_sum_rows_unbounded_preceding_desc(spark):
    got = rows(
        spark,
        "SELECT d, e, sum(e) over (partition by d order by e desc "
        "rows between UNBOUNDED PRECEDING and CURRENT ROW) FROM ov_t5",
    )
    assert got == sorted(
        [
            (1, 1, 1), (2, 3, 3), (2, 2, 5), (3, 6, 6), (3, 5, 11), (3, 4, 15),
            (4, 10, 10), (4, 9, 19), (4, 8, 27), (4, 7, 34),
            (5, 15, 15), (5, 14, 29), (5, 13, 42), (5, 12, 54), (5, 11, 65),
        ]
    )


SHRINK_EXPECTED = sorted(
    [
        (1, 1, 1), (2, 3, 5), (2, 2, 2), (3, 6, 15), (3, 5, 9), (3, 4, 4),
        (4, 10, 34), (4, 9, 24), (4, 8, 15), (4, 7, 7),
        (5, 15, 65), (5, 14, 50), (5, 13, 36), (5, 12, 23), (5, 11, 11),
    ]
)


def test_sum_shrink_window(spark):
    got = rows(
        spark,
        "SELECT d, e, sum(e) over (partition by d order by e desc "
        "rows between CURRENT ROW and UNBOUNDED FOLLOWING) FROM ov_t5",
    )
    assert got == SHRINK_EXPECTED


def test_sum_shrink_window_beyond_int32_bound(spark):
    # DIVERGENCE, pinned: Flink accepts a ROWS bound beyond int32
    # (2147483648 FOLLOWING) and treats it as unbounded; Spark rejects
    # a BIGINT frame bound outright (DATATYPE_MISMATCH.
    # SPECIFIED_WINDOW_FRAME_UNACCEPTED_TYPE). The value-equivalent
    # spelling (int32 max) produces Flink's expected rows.
    with pytest.raises(Exception, match="SPECIFIED_WINDOW_FRAME|data type"):
        spark.sql(
            "SELECT d, e, sum(e) over (partition by d order by e desc "
            "rows between CURRENT ROW and 2147483648 FOLLOWING) FROM ov_t5"
        ).collect()
    got = rows(
        spark,
        "SELECT d, e, sum(e) over (partition by d order by e desc "
        "rows between CURRENT ROW and 2147483647 FOLLOWING) FROM ov_t5",
    )
    assert got == SHRINK_EXPECTED


def test_mixed_multi_frame(spark):
    got = rows(
        spark,
        "SELECT d, e, f, "
        "sum(e) over (partition by d order by e rows between 5 PRECEDING and 2 FOLLOWING), "
        "count(*) over (partition by d order by e desc rows between 6 PRECEDING and 2 FOLLOWING), "
        "max(f) over (partition by d order by e rows between UNBOUNDED PRECEDING and CURRENT ROW), "
        "min(h) over (partition by d order by e desc rows between CURRENT ROW and "
        "UNBOUNDED FOLLOWING), h FROM ov_t5",
    )
    assert got == sorted(
        [
            (1, 1, 0, 1, 1, 0, 1, 1),
            (2, 2, 1, 5, 2, 1, 2, 2),
            (2, 3, 2, 5, 2, 2, 1, 1),
            (3, 4, 3, 15, 3, 3, 2, 2),
            (3, 5, 4, 15, 3, 4, 2, 2),
            (3, 6, 5, 15, 3, 5, 2, 3),
            (4, 7, 6, 24, 4, 6, 2, 2),
            (4, 8, 7, 34, 4, 7, 1, 1),
            (4, 9, 8, 34, 4, 8, 1, 1),
            (4, 10, 9, 34, 3, 9, 1, 2),
            (5, 11, 10, 36, 5, 10, 1, 1),
            (5, 12, 11, 50, 5, 11, 1, 3),
            (5, 13, 12, 65, 5, 12, 1, 3),
            (5, 14, 13, 65, 4, 13, 1, 2),
            (5, 15, 14, 65, 3, 14, 1, 2),
        ]
    )


def test_rows_vs_range_matrix(spark):
    got = rows(
        spark,
        "SELECT d, e, "
        "sum(e) over (partition by d order by e desc rows between 10 PRECEDING and 1 FOLLOWING), "
        "sum(e) over (partition by d order by e desc rows between 2 PRECEDING and 3 FOLLOWING), "
        "sum(e) over (partition by d order by e desc range between UNBOUNDED PRECEDING "
        "and CURRENT ROW), "
        "sum(e) over (partition by d order by e desc range between CURRENT ROW and "
        "UNBOUNDED FOLLOWING), "
        "sum(e) over (partition by d order by e desc range between 1 PRECEDING and 2 FOLLOWING), "
        "sum(e) over (partition by d order by e range between 3 PRECEDING and 3 FOLLOWING), f "
        "FROM ov_t5",
    )
    assert got == sorted(
        [
            (1, 1, 1, 1, 1, 1, 1, 1, 0),
            (2, 3, 5, 5, 3, 5, 5, 5, 2),
            (2, 2, 5, 5, 5, 2, 5, 5, 1),
            (3, 6, 11, 15, 6, 15, 15, 15, 5),
            (3, 5, 15, 15, 11, 9, 15, 15, 4),
            (3, 4, 15, 15, 15, 4, 9, 15, 3),
            (4, 10, 19, 34, 10, 34, 27, 34, 9),
            (4, 9, 27, 34, 19, 24, 34, 34, 8),
            (4, 8, 34, 34, 27, 15, 24, 34, 7),
            (4, 7, 34, 24, 34, 7, 15, 34, 6),
            (5, 15, 29, 54, 15, 65, 42, 54, 14),
            (5, 14, 42, 65, 29, 50, 54, 65, 13),
            (5, 13, 54, 65, 42, 36, 50, 65, 12),
            (5, 12, 65, 50, 54, 23, 36, 65, 11),
            (5, 11, 65, 36, 65, 11, 23, 50, 10),
        ]
    )
