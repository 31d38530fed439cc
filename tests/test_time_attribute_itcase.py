"""TimeAttributeITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
TimeAttributeITCase.scala — the four ways of declaring the rowtime
attribute in DDL, each driving the same legacy TUMBLE group window:

- a plain TIMESTAMP(3) column with a bounded-delay WATERMARK;
- a computed TO_TIMESTAMP_LTZ(bigint) column carrying the watermark;
- a computed rowtime (CAST(log_ts AS TIMESTAMP(3))) carrying it;
- a UDF watermark expression — NOT expressible as a Spark watermark,
  pinned as the documented remediation error (SURVEY.md 1.3).

The bounded run's final watermark is +inf, so the expected set is the
complete window list — which is exactly the batch dual the
TableEnvironment compiles for the legacy GROUP BY TUMBLE form.
Fixture rows are the ITCase's own (Apache-2.0); implementation under
test is original (table_env.py DDL parse + rewrite_group_windows)."""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.table_env import TableEnvironment

# (log_ts, ts_ms, a, b) — TimeAttributeITCase.scala:36
DATA = [
    ("1970-01-01 00:00:00.001", 1, 1, 1.0),
    ("1970-01-01 00:00:00.002", 2, 1, 2.0),
    ("1970-01-01 00:00:00.003", 3, 1, 2.0),
    ("1970-01-01 00:00:00.004", 4, 1, 5.0),
    ("1970-01-01 00:00:00.007", 7, 1, 3.0),
    ("1970-01-01 00:00:00.008", 8, 1, 3.0),
    ("1970-01-01 00:00:00.016", 16, 1, 4.0),
]

# TUMBLE_END epoch-ms, COUNT, SUM(b)
EXPECTED = sorted([(3, 2, 3.0), (6, 2, 7.0), (9, 2, 6.0), (18, 1, 4.0)])

QUERY = """
SELECT TUMBLE_END({tcol}, INTERVAL '0.003' SECOND) AS we,
       COUNT({tcol}) AS n,
       SUM(b) AS s
FROM {tbl}
GROUP BY TUMBLE({tcol}, INTERVAL '0.003' SECOND)
"""


@pytest.fixture()
def tenv(spark):
    return TableEnvironment.create(spark)


@pytest.fixture()
def src_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("timeattr") / "src.parquet")
    spark.createDataFrame(
        [
            (log_ts, __import__("datetime").datetime(1970, 1, 1, 0, 0, 0, ms * 1000), ms, a, b)
            for log_ts, ms, a, b in DATA
        ],
        "log_ts STRING, ts TIMESTAMP_NTZ, ts_ms BIGINT, a INT, b DOUBLE",
    ).write.mode("overwrite").parquet(p)
    return p


def _run(tenv, ddl, tcol, tbl):
    tenv.execute_sql(ddl)
    rows = tenv.sql_query(QUERY.format(tcol=tcol, tbl=tbl)).to_data_frame().collect()
    got = sorted(
        (
            int(r["we"].timestamp() * 1000)
            if hasattr(r["we"], "timestamp")
            else int(r["we"]),
            int(r["n"]),
            float(r["s"]),
        )
        for r in rows
    )
    return got


def test_window_aggregate_on_watermark(tenv, src_parquet):
    ddl = f"""
    CREATE TABLE src_wm (
      log_ts STRING,
      ts TIMESTAMP(3),
      a INT,
      b DOUBLE,
      WATERMARK FOR ts AS ts - INTERVAL '0.001' SECOND
    ) WITH ('connector' = 'filesystem', 'path' = '{src_parquet}',
            'format' = 'parquet')
    """
    assert _run(tenv, ddl, "ts", "src_wm") == EXPECTED


def test_window_aggregate_on_timestamp_ltz_watermark(tenv, src_parquet):
    # BIGINT epoch-ms -> computed TO_TIMESTAMP_LTZ column carries the
    # watermark; session tz is UTC so the LTZ epoch matches
    ddl = f"""
    CREATE TABLE src_ltz (
      log_ts STRING,
      ts_ms BIGINT,
      a INT,
      b DOUBLE,
      ltz_ts AS TO_TIMESTAMP_LTZ(ts_ms, 3),
      WATERMARK FOR ltz_ts AS ltz_ts - INTERVAL '0.001' SECOND
    ) WITH ('connector' = 'filesystem', 'path' = '{src_parquet}',
            'format' = 'parquet')
    """
    assert _run(tenv, ddl, "ltz_ts", "src_ltz") == EXPECTED


def test_window_aggregate_on_computed_rowtime(tenv, src_parquet):
    ddl = f"""
    CREATE TABLE src_rt (
      log_ts STRING,
      a INT,
      b DOUBLE,
      rowtime AS CAST(log_ts AS TIMESTAMP(3)),
      WATERMARK FOR rowtime AS rowtime - INTERVAL '0.001' SECOND
    ) WITH ('connector' = 'filesystem', 'path' = '{src_parquet}',
            'format' = 'parquet')
    """
    assert _run(tenv, ddl, "rowtime", "src_rt") == EXPECTED


def test_customized_watermark_expression_is_pinned_unsupported(tenv, src_parquet):
    # testWindowAggregateOnCustomizedWatermark: WATERMARK FOR ts AS
    # myFunc(ts, a) — Spark watermarks are bounded-delay only; the DDL
    # parser refuses with the documented remediation (SURVEY.md 1.3)
    ddl = f"""
    CREATE TABLE src_udfwm (
      log_ts STRING,
      ts TIMESTAMP(3),
      a INT,
      b DOUBLE,
      WATERMARK FOR ts AS myFunc(ts, a)
    ) WITH ('connector' = 'filesystem', 'path' = '{src_parquet}',
            'format' = 'parquet')
    """
    with pytest.raises(ValueError, match="bounded-delay"):
        tenv.execute_sql(ddl)
