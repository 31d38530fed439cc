"""TableEnvironment facade tests: DDL parse, type mapping, DML, views,
fluent Table API, watermark DDL, constraint enforcement on INSERT.

Mirrors the surface of the reference's TableEnvironmentImpl
(executeSql/sqlQuery, TableEnvironmentImpl.java:722/702) and the DDL
grammar (flink-sql-parser Parser.tdd:53-57).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.table_env import (
    TableEnvironment,
    flink_type_to_spark,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tenv(spark):
    return TableEnvironment.create(spark)


# -- type mapping -----------------------------------------------------------


def test_type_mapping_scalars():
    assert flink_type_to_spark("STRING") == ("string", None)
    assert flink_type_to_spark("VARCHAR(10)") == ("string", 10)
    assert flink_type_to_spark("CHAR(3)") == ("string", 3)
    assert flink_type_to_spark("DECIMAL(12, 2)") == ("decimal(12,2)", None)
    assert flink_type_to_spark("TIMESTAMP(3)") == ("timestamp_ntz", None)
    assert flink_type_to_spark("TIMESTAMP_LTZ(3)") == ("timestamp", None)
    assert flink_type_to_spark("TIMESTAMP(3) WITH LOCAL TIME ZONE") == (
        "timestamp",
        None,
    )
    assert flink_type_to_spark("TIME(0)") == ("int", None)
    assert flink_type_to_spark("BYTES") == ("binary", None)
    assert flink_type_to_spark("DOUBLE PRECISION") == ("double", None)


def test_type_mapping_nested():
    assert flink_type_to_spark("ARRAY<INT>") == ("array<int>", None)
    assert flink_type_to_spark("MAP<STRING, ARRAY<BIGINT>>") == (
        "map<string,array<bigint>>",
        None,
    )
    assert flink_type_to_spark("MULTISET<STRING>") == ("map<string,int>", None)
    assert flink_type_to_spark("ROW<a INT, b ARRAY<STRING>>") == (
        "struct<a:int,b:array<string>>",
        None,
    )
    with pytest.raises(ValueError):
        flink_type_to_spark("INTERVAL DAY TO SECOND")


# -- DDL + query ------------------------------------------------------------


def test_create_table_scan_and_query(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE nation_t (
          n_nationkey BIGINT NOT NULL,
          n_name STRING,
          n_regionkey BIGINT,
          n_comment STRING
        ) WITH ('connector' = 'filesystem',
                'path' = '{SF}/nation.parquet',
                'format' = 'parquet')
        """
    )
    rows = tenv.execute_sql(
        "SELECT count(*) AS n FROM nation_t WHERE n_regionkey = 0"
    ).collect()
    assert rows[0]["n"] > 0
    ct = tenv.catalog_table("nation_t")
    assert [c.name for c in ct.columns] == [
        "n_nationkey",
        "n_name",
        "n_regionkey",
        "n_comment",
    ]
    assert ct.columns[0].not_null


def test_watermark_and_computed_column_ddl(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE ev (
          event_id BIGINT,
          user_id BIGINT,
          event_type STRING,
          ts TIMESTAMP(3),
          value DOUBLE,
          properties STRING,
          double_value AS value * 2,
          WATERMARK FOR ts AS ts - INTERVAL '10' SECOND
        ) WITH ('connector' = 'filesystem',
                'path' = '{SF}/events.parquet',
                'format' = 'parquet')
        """
    )
    ct = tenv.catalog_table("ev")
    assert ct.watermark == ("ts", "10 seconds")
    assert ct.computed == [("double_value", "value * 2")]
    # batch scan applies the computed column, not the watermark
    row = tenv.sql_query(
        "SELECT value, double_value FROM ev WHERE value IS NOT NULL"
    ).fetch(1).execute().collect()[0]
    assert row["double_value"] == pytest.approx(row["value"] * 2)


def test_primary_key_and_describe(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE pkt (
          r_regionkey BIGINT NOT NULL,
          r_name STRING,
          r_comment STRING,
          PRIMARY KEY (r_regionkey) NOT ENFORCED
        ) WITH ('connector' = 'filesystem',
                'path' = '{SF}/region.parquet',
                'format' = 'parquet')
        """
    )
    assert tenv.catalog_table("pkt").primary_key == ["r_regionkey"]
    desc = tenv.execute_sql("DESCRIBE pkt").collect()
    assert ("r_regionkey", "bigint", False) in desc


def test_views_show_drop(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE r (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql("CREATE VIEW r_names AS SELECT r_name FROM r")
    assert "r_names" in tenv.list_tables()
    assert tenv.execute_sql("SELECT * FROM r_names").collect()
    tenv.execute_sql("DROP VIEW r_names")
    assert "r_names" not in tenv.list_tables()


def test_explain(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE r2 (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    plan = tenv.execute_sql("EXPLAIN PLAN FOR SELECT * FROM r2").collect()
    assert "Scan" in plan[0][0]


# -- INSERT (sink + constraints) --------------------------------------------


def test_insert_into_filesystem_roundtrip(tenv, tmp_path):
    out = str(tmp_path / "out")
    tenv.execute_sql(
        f"""
        CREATE TABLE src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE snk (
          key BIGINT NOT NULL,
          name VARCHAR(3)
        ) WITH ('connector'='filesystem', 'path'='{out}', 'format'='parquet')
        """
    )
    tenv.execute_sql("INSERT INTO snk SELECT r_regionkey, r_name FROM src")
    rows = tenv.execute_sql("SELECT * FROM snk ORDER BY key").collect()
    assert len(rows) > 0
    # CHAR-length enforcement trimmed names to 3 chars
    assert all(len(r["name"]) <= 3 for r in rows)
    # INSERT appends; OVERWRITE replaces
    tenv.execute_sql("INSERT INTO snk SELECT r_regionkey, r_name FROM src")
    assert len(tenv.execute_sql("SELECT * FROM snk").collect()) == 2 * len(rows)
    tenv.execute_sql("INSERT OVERWRITE snk SELECT r_regionkey, r_name FROM src")
    assert len(tenv.execute_sql("SELECT * FROM snk").collect()) == len(rows)


def test_insert_not_null_violation_fails(tenv, tmp_path):
    out = str(tmp_path / "out2")
    tenv.execute_sql(
        f"""
        CREATE TABLE snk2 (
          key BIGINT NOT NULL, name STRING
        ) WITH ('connector'='filesystem', 'path'='{out}', 'format'='parquet')
        """
    )
    with pytest.raises(Exception, match="NOT NULL constraint"):
        tenv.execute_sql(
            "INSERT INTO snk2 SELECT CAST(NULL AS BIGINT), 'x'"
        )


def test_insert_blackhole_and_column_mismatch(tenv):
    tenv.execute_sql(
        "CREATE TABLE bh (a BIGINT, b STRING) WITH ('connector'='blackhole')"
    )
    tenv.execute_sql("INSERT INTO bh SELECT 1L, 'x'")
    with pytest.raises(ValueError, match="column count mismatch"):
        tenv.execute_sql("INSERT INTO bh SELECT 1L")


# -- streaming mode ---------------------------------------------------------


def test_streaming_scan_applies_watermark(spark):
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""
        CREATE TABLE sev (
          event_id BIGINT, user_id BIGINT, event_type STRING,
          ts TIMESTAMP(3), value DOUBLE, properties STRING,
          WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector'='filesystem', 'path'='{SF}/events.parquet',
                'format'='parquet')
        """
    )
    df = tenv.catalog_table("sev").scan(spark, streaming=True)
    assert df.isStreaming
    # the watermark column is recorded in the analyzed plan
    assert "watermark" in df._jdf.queryExecution().analyzed().toString().lower()


# -- fluent Table API -------------------------------------------------------


def test_table_api_pipeline(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE li (
          l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
          l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,
          l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,
          l_linestatus STRING, l_shipdate TIMESTAMP(3)
        ) WITH ('connector'='filesystem', 'path'='{SF}/lineitem.parquet',
                'format'='parquet')
        """
    )
    t = (
        tenv.from_path("li")
        .where("l_quantity > 10")
        .group_by("l_returnflag")
        .select("l_returnflag, count(*) AS n, sum(CAST(l_quantity AS DECIMAL(38,2))) AS q")
        .order_by("l_returnflag")
    )
    got = t.execute().collect()
    want = spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(l_quantity AS DECIMAL(38,2))) AS q
        FROM li WHERE l_quantity > 10
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    assert got == want


def test_table_api_join_union_distinct(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE nt (
          n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT,
          n_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/nation.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE rt (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    n = tenv.from_path("nt").select("n_name, n_regionkey")
    r = tenv.from_path("rt").select("r_regionkey, r_name AS region_name")
    joined = n.join(r, "n_regionkey = r_regionkey").select("n_name, region_name")
    assert len(joined.execute().collect()) == spark.table("nt").count()
    u = (
        tenv.from_path("rt")
        .select("r_regionkey")
        .union_all(tenv.from_path("rt").select("r_regionkey"))
    )
    assert len(u.execute().collect()) == 2 * spark.table("rt").count()
    assert len(u.distinct().execute().collect()) == spark.table("rt").count()


def test_table_api_columns_ops(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE rc (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    t = (
        tenv.from_path("rc")
        .add_columns("r_regionkey * 10 AS k10")
        .drop_columns("r_comment")
        .rename_columns("r_name AS name")
        .order_by("r_regionkey")
        .offset(1)
        .fetch(2)
    )
    rows = t.execute().collect()
    assert [r["r_regionkey"] for r in rows] == [1, 2]
    assert rows[0]["k10"] == 10
    assert "name" in rows[0].asDict()


# -- window TVF dialect -----------------------------------------------------


def test_window_tvf_tumble(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE tvf_ord (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP_LTZ(3),
          o_orderpriority STRING, o_clerk STRING, o_shippriority INT,
          o_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/orders.parquet',
                'format'='parquet')
        """
    )
    got = tenv.execute_sql(
        """
        SELECT window_start, window_end, o_orderstatus, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE tvf_ord, DESCRIPTOR(o_orderdate), INTERVAL '30' DAY))
        GROUP BY window_start, window_end, o_orderstatus
        """
    ).to_data_frame()
    assert got.columns == ["window_start", "window_end", "o_orderstatus", "n"]
    want = (
        spark.table("tvf_ord")
        .groupBy(F.window("o_orderdate", "30 days").alias("w"), "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "o_orderstatus",
            "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_window_tvf_hop(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE tvf_ord2 (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP_LTZ(3),
          o_orderpriority STRING, o_clerk STRING, o_shippriority INT,
          o_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/orders.parquet',
                'format'='parquet')
        """
    )
    # Flink HOP argument order: slide first, then size
    got = tenv.execute_sql(
        """
        SELECT window_start, COUNT(*) AS n
        FROM TABLE(HOP(TABLE tvf_ord2, DESCRIPTOR(o_orderdate),
                       INTERVAL '15' DAY, INTERVAL '30' DAY))
        GROUP BY window_start
        """
    ).to_data_frame()
    want = (
        spark.table("tvf_ord2")
        .groupBy(F.window("o_orderdate", "30 days", "15 days").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# -- statement sets ---------------------------------------------------------


def test_statement_set_shared_source_cached(tenv, spark, tmp_path):
    tenv.execute_sql(
        f"""
        CREATE TABLE ss_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    tenv.execute_sql(
        f"CREATE TABLE ss_a (k BIGINT, v STRING) WITH "
        f"('connector'='filesystem', 'path'='{out_a}', 'format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE ss_b (k BIGINT) WITH "
        f"('connector'='filesystem', 'path'='{out_b}', 'format'='parquet')"
    )
    sset = tenv.create_statement_set()
    sset.add_insert_sql("INSERT INTO ss_a SELECT r_regionkey, r_name FROM ss_src")
    sset.add_insert_sql(
        "INSERT INTO ss_b SELECT r_regionkey FROM ss_src WHERE r_regionkey > 1"
    )
    assert sset._shared_sources() == ["ss_src"]
    sset.execute()
    assert not spark.catalog.isCached("ss_src")  # dropped after execution
    assert len(tenv.execute_sql("SELECT * FROM ss_a").collect()) == 5
    assert len(tenv.execute_sql("SELECT * FROM ss_b").collect()) == 3


def test_execute_statement_set_sql_syntax(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE ess_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        "CREATE TABLE ess_bh (k BIGINT) WITH ('connector'='blackhole')"
    )
    res = tenv.execute_sql(
        """
        EXECUTE STATEMENT SET
        BEGIN
          INSERT INTO ess_bh SELECT r_regionkey FROM ess_src;
          INSERT INTO ess_bh SELECT r_regionkey + 10 FROM ess_src;
        END
        """
    )
    assert res.collect() == ["OK", "OK"]


def test_execute_wraps_query_and_insert(tenv, spark):
    """SqlExecute (parserImpls.ftl:1997): EXECUTE wraps a query or an
    INSERT and behaves exactly like the unwrapped statement."""
    tenv.execute_sql(
        f"""
        CREATE TABLE exw_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    rows = tenv.execute_sql(
        "EXECUTE SELECT COUNT(*) AS n FROM exw_src"
    ).to_data_frame().collect()
    assert rows[0].n == 5
    tenv.execute_sql("CREATE TABLE exw_bh (k BIGINT) WITH ('connector'='blackhole')")
    assert tenv.execute_sql(
        "EXECUTE INSERT INTO exw_bh SELECT r_regionkey FROM exw_src"
    ).collect() == ["OK"]


# -- SET / RESET / CTAS / ANALYZE -------------------------------------------


def test_set_reset_config(tenv, spark):
    original = spark.conf.get("spark.sql.shuffle.partitions")
    tenv.execute_sql("SET 'table.exec.state.ttl' = '3600000'")
    tenv.execute_sql("SET 'spark.sql.shuffle.partitions' = '16'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    assert ("table.exec.state.ttl", "3600000") in tenv.execute_sql("SET").collect()
    # RESET restores the pre-SET value, not Spark's hard default
    tenv.execute_sql("RESET 'spark.sql.shuffle.partitions'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == original
    tenv.execute_sql("RESET")
    assert tenv.execute_sql("SET").collect() == []


def test_reset_never_set_key_leaves_session_conf(tenv, spark):
    # RESET of a spark.* key that was never SET through the facade must
    # not unset what the session builder established (round-2 VERDICT
    # "what's wrong" #5).
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    tenv.execute_sql("RESET 'spark.sql.session.timeZone'")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    tenv.execute_sql("SET 'spark.sql.session.timeZone' = 'America/New_York'")
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    tenv.execute_sql("RESET 'spark.sql.session.timeZone'")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_create_table_as_select(tenv, tmp_path):
    out = str(tmp_path / "ctas")
    tenv.execute_sql(
        f"""
        CREATE TABLE ctas_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE ctas_out
        WITH ('connector'='filesystem', 'path'='{out}', 'format'='parquet')
        AS SELECT r_regionkey AS k, upper(r_name) AS name
           FROM ctas_src WHERE r_regionkey < 3
        """
    )
    rows = tenv.execute_sql("SELECT * FROM ctas_out ORDER BY k").collect()
    assert [r["k"] for r in rows] == [0, 1, 2]
    assert rows[0]["name"].isupper()
    ct = tenv.catalog_table("ctas_out")
    assert [(c.name, c.spark_type) for c in ct.columns] == [
        ("k", "bigint"),
        ("name", "string"),
    ]


def test_analyze_table_stats(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE an_nation (
          n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT,
          n_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/nation.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        "ANALYZE TABLE an_nation COMPUTE STATISTICS FOR COLUMNS n_regionkey"
    )
    stats = tenv.catalog_table("an_nation").stats
    assert stats["row_count"] == 25
    assert stats["n_regionkey"]["ndv"] == 5
    assert stats["n_regionkey"]["null_count"] == 0


# -- CUMULATE TVF / FOR SYSTEM_TIME / changelog bridge ----------------------


def test_window_tvf_cumulate(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE cum_ord (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP_LTZ(3),
          o_orderpriority STRING, o_clerk STRING, o_shippriority INT,
          o_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/orders.parquet',
                'format'='parquet')
        """
    )
    got = tenv.execute_sql(
        """
        SELECT window_start, window_end, COUNT(*) AS n
        FROM TABLE(CUMULATE(TABLE cum_ord, DESCRIPTOR(o_orderdate),
                            INTERVAL '30' DAY, INTERVAL '90' DAY))
        GROUP BY window_start, window_end
        """
    ).to_data_frame().collect()
    # every 90-day base window contributes up to 3 growing slices, and
    # each slice's count is the number of rows before its end
    base = (
        spark.table("cum_ord")
        .groupBy(F.window("o_orderdate", "90 days").alias("w"))
        .count()
        .collect()
    )
    assert len(got) > len(base)  # slices outnumber base windows
    by_window = {(r["window_start"], r["window_end"]): r["n"] for r in got}
    for (ws, we), n in by_window.items():
        # slice counts are cumulative: count(rows < end) within base win
        expect = (
            spark.table("cum_ord")
            .filter(
                (F.col("o_orderdate") >= F.lit(ws)) & (F.col("o_orderdate") < F.lit(we))
            )
            .count()
        )
        assert n == expect, (ws, we)


def test_for_system_time_as_of_join(tenv, spark):
    tenv.execute_sql(
        f"""
        CREATE TABLE st_cust (
          c_custkey BIGINT, c_name STRING, c_address STRING,
          c_nationkey BIGINT, c_phone STRING, c_acctbal DOUBLE,
          c_mktsegment STRING, c_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/customer.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE st_nation (
          n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT,
          n_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/nation.parquet',
                'format'='parquet')
        """
    )
    got = tenv.execute_sql(
        """
        SELECT c.c_custkey, d.n_name
        FROM st_cust AS c
        JOIN st_nation FOR SYSTEM_TIME AS OF c.proctime AS d
          ON c.c_nationkey = d.n_nationkey
        """
    ).to_data_frame()
    assert got.count() == spark.table("st_cust").count()


def test_changelog_bridge_roundtrip(tenv, spark):
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND

    df = spark.createDataFrame(
        [(1, "a", "+I"), (1, "a", "-D"), (2, "b", "+I")],
        "k INT, v STRING, kind STRING",
    )
    t = tenv.from_changelog_stream(df, rowkind_col="kind")
    assert ROWKIND in t.to_data_frame().columns
    # insert-only table -> +I-tagged changelog
    plain = tenv.from_data_frame(
        spark.createDataFrame([(1, "x")], "k INT, v STRING")
    )
    out = tenv.to_changelog_stream(plain)
    assert out.select(ROWKIND).distinct().collect()[0][0] == "+I"


def test_debezium_json_filesystem_table(tenv, spark, tmp_path):
    from flink_release_1_16_0_spark.streaming.changelog import changelog_normalize

    cdc = tmp_path / "cdc"
    cdc.mkdir()
    (cdc / "part-0.txt").write_text(
        "\n".join(
            [
                '{"before": null, "after": {"k": 1, "v": "a"}, "op": "c"}',
                '{"before": null, "after": {"k": 2, "v": "b"}, "op": "r"}',
                '{"before": {"k": 1, "v": "a"}, "after": {"k": 1, "v": "a2"}, "op": "u"}',
                '{"before": {"k": 2, "v": "b"}, "after": null, "op": "d"}',
                '{"before": null, "after": {"k": 9, "v": "zz"}, "op": "t"}',
            ]
        )
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE cdc_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem', 'path'='{cdc}',
              'format'='debezium-json')
        """
    )
    log = tenv.from_path("cdc_t").to_data_frame()
    kinds = [
        (r["__rowkind"], r["k"], r["v"])
        for r in log.orderBy("k", "__rowkind").collect()
    ]
    assert kinds == [
        ("+I", 1, "a"),
        ("+U", 1, "a2"),
        ("-U", 1, "a"),
        ("+I", 2, "b"),
        ("-D", 2, "b"),
    ]  # unknown op 't' dropped
    # materialized current state: k=1 updated, k=2 deleted (arrival
    # order stands in for the CDC log offset)
    ordered = log.withColumn("off", F.monotonically_increasing_id())
    state = changelog_normalize(ordered, keys=["k"], ts_col="off")
    assert [(r["k"], r["v"]) for r in state.select("k", "v").collect()] == [(1, "a2")]


def test_canal_json_filesystem_table(tenv, spark, tmp_path):
    cdc = tmp_path / "canal"
    cdc.mkdir()
    (cdc / "batch-0.txt").write_text(
        "\n".join(
            [
                '{"data": [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}], "old": null, "type": "INSERT"}',
                # old carries only the changed field: before-row = data patched with old
                '{"data": [{"k": 1, "v": "a2"}], "old": [{"v": "a"}], "type": "UPDATE"}',
                '{"data": [{"k": 2, "v": "b"}], "old": null, "type": "DELETE"}',
                '{"data": [{"k": 9, "v": "x"}], "old": null, "type": "TRUNCATE"}',
            ]
        )
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE canal_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem', 'path'='{cdc}',
              'format'='canal-json')
        """
    )
    log = tenv.from_path("canal_t").to_data_frame()
    rows = sorted(
        (r["__rowkind"], r["k"], r["v"]) for r in log.collect()
    )
    assert rows == [
        ("+I", 1, "a"),
        ("+I", 2, "b"),
        ("+U", 1, "a2"),
        ("-D", 2, "b"),
        ("-U", 1, "a"),  # patched before-row: old.v overlays data.v
    ]  # TRUNCATE (unknown) dropped


def test_show_create_table_and_functions(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE sct (
          id BIGINT NOT NULL,
          name VARCHAR(5),
          ts TIMESTAMP(3),
          doubled AS id * 2,
          WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
          PRIMARY KEY (id) NOT ENFORCED
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    ddl = tenv.execute_sql("SHOW CREATE TABLE sct").collect()[0]
    assert "id bigint NOT NULL" in ddl
    assert "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND" in ddl
    assert "PRIMARY KEY (id) NOT ENFORCED" in ddl
    assert "'connector' = 'filesystem'" in ddl
    # the re-emitted DDL round-trips through the parser
    tenv.execute_sql(ddl.replace("CREATE TABLE sct", "CREATE TABLE sct2"))
    assert tenv.catalog_table("sct2").primary_key == ["id"]
    funcs = tenv.execute_sql("SHOW FUNCTIONS").collect()
    assert "split_index" in funcs  # our SQL UDF registrations appear


def test_streaming_insert_into_filesystem(spark, tmp_path):
    """End-to-end streaming SQL pipeline through the facade: streaming
    scan -> SQL transform -> INSERT INTO file sink (availableNow drain,
    checkpointed)."""
    tenv = TableEnvironment.create(spark, streaming=True)
    out = str(tmp_path / "sout")
    tenv.execute_sql(
        f"""
        CREATE TABLE s_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    assert spark.table("s_src").isStreaming
    tenv.execute_sql(
        f"""
        CREATE TABLE s_snk (k BIGINT, name STRING)
        WITH ('connector'='filesystem', 'path'='{out}', 'format'='parquet')
        """
    )
    tenv.execute_sql(
        "INSERT INTO s_snk SELECT r_regionkey, upper(r_name) "
        "FROM s_src WHERE r_regionkey < 3"
    )
    got = sorted(
        (r["k"], r["name"]) for r in spark.read.parquet(out).collect()
    )
    assert [k for k, _ in got] == [0, 1, 2]
    assert all(n.isupper() for _, n in got)


def test_streaming_insert_into_same_sink_twice(spark, tmp_path):
    """Each streaming INSERT INTO is a FRESH job over its full input
    (TableEnvironmentImpl.executeInternal:812): the second INSERT must
    not resume the first one's source offsets (shared checkpoint) nor
    be skipped by the file sink's batch-id commit log."""
    tenv = TableEnvironment.create(spark, streaming=True)
    out = str(tmp_path / "sout2")
    tenv.execute_sql(
        f"""
        CREATE TABLE t_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE t_snk (k BIGINT)
        WITH ('connector'='filesystem', 'path'='{out}', 'format'='parquet')
        """
    )
    tenv.execute_sql("INSERT INTO t_snk SELECT r_regionkey FROM t_src")
    tenv.execute_sql("INSERT INTO t_snk SELECT r_regionkey FROM t_src")
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == [0, 0, 1, 1, 2, 2, 3, 3, 4, 4]


def test_upsert_changelog_mode_table(tenv, spark, tmp_path):
    """DDL PRIMARY KEY + changelog-mode=upsert plans the source with
    ChangelogNormalize's delta emission: each upsert retracts the prior
    version (-U) before the new one (+U)."""
    src = str(tmp_path / "upsert")
    spark.createDataFrame(
        [
            (1, "a", 10),
            (1, "a2", 20),  # second version of key 1
            (2, "b", 15),
        ],
        "k INT, v STRING, ver INT",
    ).write.parquet(src)
    tenv.execute_sql(
        f"""
        CREATE TABLE ups (
          k INT, v STRING, ver INT,
          PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('connector'='filesystem', 'path'='{src}',
                'format'='parquet',
                'changelog-mode'='upsert',
                'upsert.order-column'='ver')
        """
    )
    log = tenv.from_path("ups").to_data_frame()
    rows = sorted(
        (r["k"], r["ver"], r["__rowkind"], r["v"]) for r in log.collect()
    )
    assert rows == [
        (1, 10, "+I", "a"),
        (1, 20, "+U", "a2"),
        (1, 20, "-U", "a"),
        (2, 15, "+I", "b"),
    ]


def test_match_recognize_sql(tenv, spark):
    """MATCH_RECOGNIZE SQL translates to the CEP regex tier and matches
    the operator called directly (clicks+ followed by a purchase)."""
    from flink_release_1_16_0_spark.catalog import register_tables
    from flink_release_1_16_0_spark.operators.cep import (
        classify,
        match_regex_measures,
    )

    register_tables(spark, SF, ("events",))
    tenv.execute_sql("SET 'table.exec.match-recognize.sum-scale' = '2'")
    got = tenv.sql_query(
        """
        SELECT user_id, n_clicks, click_value_sum, purchase_id
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES
            COUNT(C.event_id) AS n_clicks,
            SUM(C.value) AS click_value_sum,
            LAST(P.event_id) AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (C+ P)
          DEFINE
            C AS C.event_type = 'click',
            P AS P.event_type = 'purchase'
        ) AS m
        """
    ).to_data_frame()
    ev = spark.table("events")
    want = match_regex_measures(
        ev,
        keys=["user_id"],
        ts_col="ts",
        symbol=classify(
            {
                "a": F.col("event_type") == "click",
                "b": F.col("event_type") == "purchase",
            }
        ),
        pattern="(?P<C>a+)(?P<P>b)",
        id_col="ts",
        measures={
            "n_clicks": ("C", "count", "event_id", "bigint"),
            "click_value_sum": ("C", "sum", "value", "double"),
            "purchase_id": ("P", "last", "event_id", "bigint"),
        },
        value_cols=["event_id", "value"],
        grid_scale=2,
    ).drop("match_no")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select("user_id", "n_clicks", "click_value_sum", "purchase_id").collect())
    )


def test_match_recognize_sql_cross_variable_define(tenv, spark):
    """Cross-variable DEFINE lowers to the NFA tier and matches the
    operator called directly (a click followed immediately by a larger
    purchase — P reads LAST(C.value) from the partial match)."""
    from flink_release_1_16_0_spark.catalog import register_tables
    from flink_release_1_16_0_spark.operators.cep import match_nfa

    register_tables(spark, SF, ("events",))
    got = tenv.sql_query(
        """
        SELECT user_id, n, purchase_value FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES COUNT(C.event_id) AS n,
                   LAST(P.value) AS purchase_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (C P)
          DEFINE C AS C.event_type = 'click',
                 P AS P.event_type = 'purchase' AND P.value > C.value
        ) AS m
        """
    ).to_data_frame()
    want = match_nfa(
        spark.table("events"),
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        steps=[("C", "1"), ("P", "1")],
        defines={
            "C": lambda row, ctx: row["event_type"] == "click",
            "P": lambda row, ctx: row["event_type"] == "purchase"
            and row["value"] > ctx["C"][-1]["value"],
        },
        measures={
            "n": ("C", "count", "event_id", "bigint"),
            "purchase_value": ("P", "last", "value", "double"),
        },
        value_cols=["event_type", "value"],
    ).drop("match_no")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() > 0


def test_match_recognize_sql_skip_to_last_chains(tenv, spark):
    """AFTER MATCH SKIP TO LAST E resumes AT the closing purchase, so
    p c p c p yields TWO chained matches; PAST LAST ROW yields one."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), t, float(i))
        for i, t in enumerate(["p", "c", "p", "c", "p"])
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, sym string, value double"
    ).createOrReplaceTempView("skip_demo")
    body = """
        SELECT user_id, start_value, end_value
        FROM skip_demo MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts
          MEASURES S.value AS start_value, E.value AS end_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP {skip}
          PATTERN (S C+ E)
          DEFINE S AS S.sym = 'p', C AS C.sym = 'c', E AS E.sym = 'p'
        ) AS m
    """
    chained = tenv.sql_query(body.format(skip="TO LAST E")).to_data_frame()
    assert sorted((r.start_value, r.end_value) for r in chained.collect()) == [
        (0.0, 2.0),
        (2.0, 4.0),
    ]
    default = tenv.sql_query(body.format(skip="PAST LAST ROW")).to_data_frame()
    assert sorted((r.start_value, r.end_value) for r in default.collect()) == [
        (0.0, 2.0)
    ]
    first = tenv.sql_query(body.format(skip="TO FIRST C")).to_data_frame()
    assert sorted((r.start_value, r.end_value) for r in first.collect()) == [
        (0.0, 2.0),
        (2.0, 4.0),
    ]


def test_match_recognize_all_rows_per_match(tenv, spark):
    """ALL ROWS PER MATCH emits one row per matched event with RUNNING
    measures, a classifier column, and per-key match numbering —
    consistent with the ONE ROW tier's final row per match."""
    from flink_release_1_16_0_spark.catalog import register_tables

    register_tables(spark, SF, ("events",))
    tenv.execute_sql("SET 'table.exec.match-recognize.sum-scale' = '2'")
    mr_body = """
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES
            COUNT(C.event_id) AS n_clicks,
            SUM(C.value) AS click_value_sum
          {rows_clause}
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (C+ P)
          DEFINE
            C AS C.event_type = 'click',
            P AS P.event_type = 'purchase'
        ) AS m
    """
    all_rows = tenv.sql_query(
        "SELECT user_id, ts, event_id, match_no, classifier, n_clicks,"
        " click_value_sum "
        + mr_body.format(rows_clause="ALL ROWS PER MATCH")
    ).to_data_frame()
    one_row = tenv.sql_query(
        "SELECT user_id, n_clicks, click_value_sum "
        + mr_body.format(rows_clause="ONE ROW PER MATCH")
    ).to_data_frame()
    rows = all_rows.collect()
    assert rows
    # every match's final event is the purchase (classifier P) and its
    # running measures equal the ONE ROW tier's final measures
    finals = sorted(
        (r["user_id"], r["n_clicks"], r["click_value_sum"])
        for r in rows
        if r["classifier"] == "P"
    )
    assert finals == sorted(map(tuple, one_row.collect()))
    # running COUNT climbs 1..n within each match's click run
    by_match = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_match.setdefault((r["user_id"], r["match_no"]), []).append(r)
    for seq in by_match.values():
        clicks = [r for r in seq if r["classifier"] == "C"]
        assert [r["n_clicks"] for r in clicks] == list(range(1, len(clicks) + 1))
        assert seq[-1]["classifier"] == "P"


def test_describe_extended_shows_stats(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE dex (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql("ANALYZE TABLE dex COMPUTE STATISTICS")
    rows = tenv.execute_sql("DESCRIBE EXTENDED dex").collect()
    assert ("# stats", "row_count", "5") in rows


def test_raw_format_string_and_bytes(tenv, tmp_path):
    # raw format (RawFormatFactory.java:56): single-column STRING reads
    # one row per line; single-column BYTES reads the whole file.
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    tenv.execute_sql(
        f"""
        CREATE TABLE raw_lines (line STRING)
        WITH ('connector'='filesystem', 'path'='{p}', 'format'='raw')
        """
    )
    rows = tenv.execute_sql("SELECT line FROM raw_lines ORDER BY line").collect()
    assert [r["line"] for r in rows] == ["alpha", "beta", "gamma"]

    b = tmp_path / "blob.bin"
    b.write_bytes(b"\x00\x01payload")
    tenv.execute_sql(
        f"""
        CREATE TABLE raw_blob (payload BYTES)
        WITH ('connector'='filesystem', 'path'='{b}', 'format'='raw')
        """
    )
    [row] = tenv.execute_sql("SELECT payload FROM raw_blob").collect()
    assert bytes(row["payload"]) == b"\x00\x01payload"


def test_create_table_like_and_alter(tenv, tmp_path):
    # CREATE TABLE ... LIKE (Parser.tdd:56): inherit schema+options,
    # additional columns append, new WITH options override.
    tenv.execute_sql(
        f"""
        CREATE TABLE base_r (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql("CREATE TABLE like_r LIKE base_r (INCLUDING ALL)")
    assert len(tenv.execute_sql("SELECT * FROM like_r").collect()) == 5

    # overriding the path through the LIKE WITH clause
    tenv.execute_sql(
        f"""
        CREATE TABLE like_n WITH ('path'='{SF}/nation.parquet') LIKE base_r
        """
    )
    assert len(tenv.execute_sql("SELECT * FROM like_n").collect()) == 25

    # ALTER TABLE ... RENAME TO (Parser.tdd:36)
    tenv.execute_sql("ALTER TABLE like_r RENAME TO renamed_r")
    assert len(tenv.execute_sql("SELECT * FROM renamed_r").collect()) == 5
    assert "renamed_r" in tenv.list_tables() and "like_r" not in tenv.list_tables()

    # ALTER TABLE ... SET options re-plans the scan
    tenv.execute_sql(f"ALTER TABLE renamed_r SET ('path'='{SF}/nation.parquet')")
    assert len(tenv.execute_sql("SELECT * FROM renamed_r").collect()) == 25


def test_event_time_temporal_join_sql_left_alias_after(tenv, tmp_path, spark):
    # FOR SYSTEM_TIME AS OF with the alias AFTER the clause, LEFT form:
    # left rows with no version yet must survive with NULL padding.
    import pyspark.sql.functions as F

    from flink_release_1_16_0_spark.catalog import load_table

    clicks = str(tmp_path / "clicks")
    load_table(spark, SF, "events").filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    ).write.mode("overwrite").parquet(clicks)
    tenv.execute_sql(
        f"""
        CREATE TABLE ev_l (
          event_id BIGINT, ts TIMESTAMP_LTZ(3), user_id BIGINT, event_type STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/events.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE click_v (
          click_id BIGINT, user_id BIGINT, ts TIMESTAMP_LTZ(3),
          PRIMARY KEY (user_id) NOT ENFORCED,
          WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE
        ) WITH ('connector'='filesystem', 'path'='{clicks}', 'format'='parquet')
        """
    )
    out = tenv.sql_query(
        """
        SELECT o.event_id, o.user_id, r.click_id
        FROM ev_l o
        LEFT JOIN click_v FOR SYSTEM_TIME AS OF o.ts AS r
          ON o.user_id = r.user_id
        WHERE o.event_type = 'purchase'
        """
    ).to_data_frame()
    rows = out.collect()
    purchases = (
        load_table(spark, SF, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert len(rows) == purchases  # LEFT: every purchase kept
    assert any(r["click_id"] is None for r in rows)  # pre-first-click padding
    matched = [r for r in rows if r["click_id"] is not None]
    assert matched  # and versions actually join


def test_create_function_ddl(tenv):
    # CREATE FUNCTION resolving a dotted Python path (Parser.tdd:52):
    # a plain callable with a RETURNS hint, and a pyspark UDF object.
    import flink_release_1_16_0_spark.functions.examples as ex  # noqa: F401

    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION py_shout AS "
        "'flink_release_1_16_0_spark.functions.examples.shout' RETURNS string"
    )
    tenv.execute_sql(
        "CREATE FUNCTION py_double_it AS "
        "'flink_release_1_16_0_spark.functions.examples.double_it_udf'"
    )
    rows = tenv.execute_sql(
        "SELECT py_shout('abc') AS s, py_double_it(21) AS d"
    ).collect()
    assert rows[0]["s"] == "ABC!" and rows[0]["d"] == 42
    names = tenv.execute_sql("SHOW FUNCTIONS").collect()
    assert "py_shout" in names and "py_double_it" in names


def test_dynamic_options_hint(tenv, spark, tmp_path):
    # /*+ OPTIONS('k'='v') */ per-query overrides of the table's WITH
    # options (FlinkHints.HINT_NAME_OPTIONS; OptionsHintTest.scala).
    p = tmp_path / "semi.csv"
    p.write_text("1;a\n2;b\n")
    tenv.execute_sql(
        f"""CREATE TABLE semi_t (id INT, v STRING) WITH (
            'connector' = 'filesystem', 'path' = '{p}',
            'format' = 'csv', 'sep' = ',')"""
    )
    # declared separator is wrong: everything lands in one NULL-ish row
    base = tenv.sql_query("SELECT * FROM semi_t").to_data_frame().collect()
    assert all(r["id"] is None or r["v"] is None for r in base)
    # hint overrides the separator for THIS query only
    hinted = tenv.sql_query(
        "SELECT id, v FROM semi_t /*+ OPTIONS('sep'=';') */ WHERE id > 0"
    ).to_data_frame()
    assert {(r["id"], r["v"]) for r in hinted.collect()} == {(1, "a"), (2, "b")}
    # qualified references through the original name still resolve
    hinted2 = tenv.sql_query(
        "SELECT semi_t.v FROM semi_t /*+ OPTIONS('sep'=';') */"
    ).to_data_frame()
    assert hinted2.count() == 2
    # the catalog table itself is untouched
    again = tenv.sql_query("SELECT * FROM semi_t").to_data_frame().collect()
    assert all(r["id"] is None or r["v"] is None for r in again)


def test_dynamic_options_hint_with_user_alias(tenv, spark, tmp_path):
    p = tmp_path / "semi2.csv"
    p.write_text("7;x\n")
    tenv.execute_sql(
        f"""CREATE TABLE semi2_t (id INT, v STRING) WITH (
            'connector' = 'filesystem', 'path' = '{p}',
            'format' = 'csv', 'sep' = ',')"""
    )
    out = tenv.sql_query(
        "SELECT s.id FROM semi2_t /*+ OPTIONS('sep'=';') */ AS s WHERE s.id = 7"
    ).to_data_frame()
    assert out.count() == 1


def test_metadata_columns(tenv, spark, tmp_path):
    # METADATA columns (SupportsReadingMetadata; FileSystemTableSource
    # file.* keys) surface Spark's _metadata struct fields.
    p = tmp_path / "mdata.csv"
    p.write_text("1,a\n2,b\n")
    tenv.execute_sql(
        f"""CREATE TABLE md_t (
            id INT, v STRING,
            fname STRING METADATA FROM 'file.name',
            fsize BIGINT METADATA FROM 'file.size' VIRTUAL
        ) WITH ('connector' = 'filesystem', 'path' = '{p}',
                'format' = 'csv')"""
    )
    rows = tenv.sql_query("SELECT id, fname, fsize FROM md_t").to_data_frame().collect()
    assert {r["id"] for r in rows} == {1, 2}
    assert all(r["fname"] == "mdata.csv" for r in rows)
    assert all(r["fsize"] == len("1,a\n2,b\n") for r in rows)


def test_table_api_group_windows(tenv, spark):
    # Tumble/Slide/Session classes + Table.window (the reference's
    # org.apache.flink.table.api group-window surface).
    from flink_release_1_16_0_spark.table_env import Session, Slide, Tumble

    tenv.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from flink_release_1_16_0_spark.catalog import load_table

    load_table(spark, SF, "events").createOrReplaceTempView("events_gw")
    t = tenv.sql_query("SELECT user_id, ts, value FROM events_gw")

    got = (
        t.window(Tumble.over("1 hour").on("ts").alias("w"))
        .group_by("w, user_id")
        .select("user_id, w.start AS ws, COUNT(1) AS n")
        .to_data_frame()
    )
    exp = spark.sql(
        "SELECT user_id, window.start AS ws, COUNT(1) AS n FROM events_gw "
        "GROUP BY window(ts, '1 hour'), user_id"
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # sliding window; accepts PyFlink-style "2.hours" interval spelling
    slid = (
        t.window(Slide.over("2.hours").every("1 hour").on("ts").alias("w"))
        .group_by("w")
        .select("w.start AS ws, COUNT(1) AS n")
        .to_data_frame()
    )
    exp2 = spark.sql(
        "SELECT window.start AS ws, COUNT(1) AS n FROM events_gw "
        "GROUP BY window(ts, '2 hours', '1 hour')"
    )
    assert slid.exceptAll(exp2).count() == 0 and exp2.exceptAll(slid).count() == 0

    ses = (
        t.window(Session.with_gap("30 minutes").on("ts").alias("w"))
        .group_by("w, user_id")
        .select("user_id, w.rowtime AS rt, COUNT(1) AS n")
        .to_data_frame()
    )
    exp3 = spark.sql(
        "SELECT user_id, session_window.end - INTERVAL 1 MILLISECOND AS rt, COUNT(1) AS n "
        "FROM events_gw GROUP BY session_window(ts, '30 minutes'), user_id"
    )
    assert ses.exceptAll(exp3).count() == 0 and exp3.exceptAll(ses).count() == 0


def test_table_api_over_windows(tenv, spark):
    # Over.partition_by/order_by + preceding/following bounds
    # (org.apache.flink.table.api.Over) -> SQL WINDOW clause.
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.table_env import Over

    load_table(spark, SF, "events").createOrReplaceTempView("events_ow")
    t = tenv.sql_query("SELECT user_id, ts, event_id, value FROM events_ow")

    got = (
        t.over_window(
            Over.partition_by("user_id").order_by("ts, event_id").alias("w")
        )
        .select("user_id, event_id, COUNT(1) OVER w AS running_n")
        .to_data_frame()
    )
    exp = spark.sql(
        "SELECT user_id, event_id, COUNT(1) OVER w AS running_n FROM events_ow "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    rows3 = (
        t.over_window(
            Over.partition_by("user_id")
            .order_by("ts, event_id")
            .preceding("2.rows")
            .alias("w")
        )
        .select("user_id, event_id, COUNT(1) OVER w AS n3")
        .to_data_frame()
    )
    exp3 = spark.sql(
        "SELECT user_id, event_id, COUNT(1) OVER w AS n3 FROM events_ow "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    )
    assert rows3.exceptAll(exp3).count() == 0 and exp3.exceptAll(rows3).count() == 0


def test_lateral_temporal_table_function(tenv, spark):
    # LATERAL TABLE (Rates(o.rowtime)) — the pre-FLIP-132 temporal
    # table function surface (TemporalTableFunctionImpl), lowered
    # through the as-of join operator.
    import datetime as dt

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    rates = spark.createDataFrame(
        [("EUR", t(0), 1.0), ("EUR", t(2), 2.0), ("USD", t(0), 7.0)],
        "currency string, r_time timestamp, rate double",
    )
    orders = spark.createDataFrame(
        [(1, "EUR", t(1), 10.0), (2, "EUR", t(3), 10.0), (3, "USD", t(1), 10.0)],
        "o_id bigint, currency string, o_time timestamp, amount double",
    )
    rates.createOrReplaceTempView("rates_hist")
    orders.createOrReplaceTempView("orders_t")
    tenv.register_temporal_table_function(
        "Rates", "rates_hist", time_attr="r_time", primary_key="currency"
    )
    rows = tenv.sql_query(
        """
        SELECT o.o_id, o.amount * r.rate AS converted
        FROM orders_t o, LATERAL TABLE (Rates(o.o_time)) AS r
        WHERE o.currency = r.currency
        """
    ).to_data_frame().collect()
    got = {(r["o_id"], r["converted"]) for r in rows}
    # order 1 at 01:00 sees the 00:00 EUR rate (1.0); order 2 at 03:00
    # the 02:00 rate (2.0); order 3 the USD rate (7.0)
    assert got == {(1, 10.0), (2, 20.0), (3, 70.0)}


def test_show_partitions(tenv, spark, tmp_path):
    out = str(tmp_path / "parted")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id int, grp string"
    ).write.partitionBy("grp").parquet(out)
    tenv.execute_sql(
        f"""CREATE TABLE parted_t (id INT, grp STRING)
            PARTITIONED BY (grp)
            WITH ('connector'='filesystem', 'path'='{out}',
                  'format'='parquet')"""
    )
    parts = tenv.execute_sql("SHOW PARTITIONS parted_t").collect()
    assert parts == ["grp=a", "grp=b"]


def test_fluent_join_lateral(tenv, spark):
    t = tenv.from_data_frame(
        spark.createDataFrame([(1, "a,b"), (2, "c")], "id int, s string")
    )
    rows = t.join_lateral("explode(split(s, ',')) AS word").to_data_frame().collect()
    assert {(r["id"], r["word"]) for r in rows} == {(1, "a"), (1, "b"), (2, "c")}


def test_fluent_flat_aggregate_top2(tenv, spark):
    # GroupedTable.flat_aggregate — the TableAggregateFunction surface
    # (multiple rows per group, the reference's Top2 example).
    import pandas as pd

    t = tenv.from_data_frame(
        spark.createDataFrame(
            [("a", 1), ("a", 5), ("a", 3), ("b", 7)], "k string, v int"
        )
    )

    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.nlargest(2, "v").sort_values("v", ascending=False)
        out = out.assign(rank=range(1, len(out) + 1))
        return out[["k", "v", "rank"]]

    rows = (
        t.group_by("k")
        .flat_aggregate(top2, "k string, v int, rank int")
        .to_data_frame()
        .collect()
    )
    assert {(r["k"], r["v"], r["rank"]) for r in rows} == {
        ("a", 5, 1),
        ("a", 3, 2),
        ("b", 7, 1),
    }


def test_insert_static_partition(tenv, spark, tmp_path):
    # INSERT INTO t PARTITION (grp='a') SELECT ... — static partition
    # clause (SqlInsert partition spec); the SELECT supplies only the
    # non-partition columns.
    out = str(tmp_path / "sp")
    tenv.execute_sql(
        f"""CREATE TABLE sp_t (id INT, grp STRING)
            PARTITIONED BY (grp)
            WITH ('connector'='filesystem', 'path'='{out}',
                  'format'='parquet')"""
    )
    tenv.execute_sql("INSERT INTO sp_t PARTITION (grp='a') SELECT 1")
    tenv.execute_sql("INSERT INTO sp_t PARTITION (grp='b') SELECT 2")
    rows = tenv.execute_sql("SELECT * FROM sp_t").collect()
    assert {(r["id"], r["grp"]) for r in rows} == {(1, "a"), (2, "b")}
    assert tenv.execute_sql("SHOW PARTITIONS sp_t").collect() == ["grp=a", "grp=b"]


def test_database_namespace(tenv, spark, tmp_path):
    # CREATE/USE/SHOW DATABASE (CatalogManager's database namespace).
    assert tenv.execute_sql("SHOW CURRENT DATABASE").collect() == [
        "default_database"
    ]
    tenv.execute_sql("CREATE DATABASE mart")
    assert "mart" in tenv.execute_sql("SHOW DATABASES").collect()
    tenv.execute_sql("USE mart")
    out = str(tmp_path / "m")
    tenv.execute_sql(
        f"""CREATE TABLE fact (id INT) WITH
            ('connector'='filesystem', 'path'='{out}', 'format'='parquet')"""
    )
    assert "fact" in tenv.execute_sql("SHOW TABLES").collect()
    tenv.execute_sql("USE default_database")
    assert "fact" not in tenv.execute_sql("SHOW TABLES").collect()
    with pytest.raises(ValueError, match="not empty"):
        tenv.execute_sql("DROP DATABASE mart")


def test_maxwell_json_filesystem_table(tenv, spark, tmp_path):
    cdc = tmp_path / "maxwell"
    cdc.mkdir()
    (cdc / "events-0.txt").write_text(
        "\n".join(
            [
                '{"data": {"k": 1, "v": "a"}, "old": null, "type": "insert"}',
                '{"data": {"k": 2, "v": "b"}, "old": null, "type": "insert"}',
                # old carries only the changed field
                '{"data": {"k": 1, "v": "a2"}, "old": {"v": "a"}, "type": "update"}',
                '{"data": {"k": 2, "v": "b"}, "old": null, "type": "delete"}',
                '{"data": {"k": 9, "v": "x"}, "old": null, "type": "bootstrap-start"}',
            ]
        )
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE mx_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem', 'path'='{cdc}',
              'format'='maxwell-json')
        """
    )
    log = tenv.from_path("mx_t").to_data_frame()
    kinds = [
        (r["__rowkind"], r["k"], r["v"])
        for r in log.orderBy("k", "__rowkind").collect()
    ]
    assert kinds == [
        ("+I", 1, "a"),
        ("+U", 1, "a2"),
        ("-U", 1, "a"),
        ("+I", 2, "b"),
        ("-D", 2, "b"),
    ]  # unmapped type dropped


def test_ogg_json_filesystem_table(tenv, spark, tmp_path):
    cdc = tmp_path / "ogg"
    cdc.mkdir()
    (cdc / "trail-0.txt").write_text(
        "\n".join(
            [
                '{"before": null, "after": {"k": 1, "v": "a"}, "op_type": "I"}',
                '{"before": {"k": 1, "v": "a"}, "after": {"k": 1, "v": "a2"}, "op_type": "U"}',
                '{"before": {"k": 1, "v": "a2"}, "after": null, "op_type": "D"}',
            ]
        )
    )
    tenv.execute_sql(
        f"""
        CREATE TABLE ogg_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem', 'path'='{cdc}',
              'format'='ogg-json')
        """
    )
    log = tenv.from_path("ogg_t").to_data_frame()
    kinds = sorted(
        (r["__rowkind"], r["k"], r["v"]) for r in log.collect()
    )
    assert kinds == [
        ("+I", 1, "a"),
        ("+U", 1, "a2"),
        ("-D", 1, "a2"),
        ("-U", 1, "a"),
    ]


def test_lateral_temporal_without_alias(tenv, spark):
    # the no-alias form must not swallow the WHERE keyword as an alias
    import datetime as dt

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    spark.createDataFrame(
        [("EUR", t(0), 2.0)], "currency string, r_time timestamp, rate double"
    ).createOrReplaceTempView("rates_na")
    spark.createDataFrame(
        [(1, "EUR", t(1), 5.0)],
        "o_id bigint, currency string, o_time timestamp, amount double",
    ).createOrReplaceTempView("orders_na")
    tenv.register_temporal_table_function(
        "RatesNA", "rates_na", time_attr="r_time", primary_key="currency"
    )
    rows = tenv.sql_query(
        """
        SELECT o.o_id, o.amount * RatesNA.rate AS converted
        FROM orders_na o, LATERAL TABLE (RatesNA(o.o_time))
        WHERE o.currency = RatesNA.currency
        """
    ).to_data_frame().collect()
    assert [(r["o_id"], r["converted"]) for r in rows] == [(1, 10.0)]


def test_maxwell_json_parameterized_types(tenv, spark, tmp_path):
    # field-name extraction must honor nested parens/brackets in types
    cdc = tmp_path / "mxp"
    cdc.mkdir()
    (cdc / "e.txt").write_text(
        '{"data": {"k": 1, "price": 10.50}, "old": {"price": 9.25}, "type": "update"}\n'
    )
    tenv.execute_sql(
        f"""CREATE TABLE mxp_t (k BIGINT, price DECIMAL(15,2))
            WITH ('connector'='filesystem', 'path'='{cdc}',
                  'format'='maxwell-json')"""
    )
    rows = sorted(
        (r["__rowkind"], float(r["price"]))
        for r in tenv.from_path("mxp_t").to_data_frame().collect()
    )
    assert rows == [("+U", 10.5), ("-U", 9.25)]


def test_hive_connector_catalog_table_roundtrip(spark, tmp_path):
    """'connector'='hive' maps to a session-catalog (Hive metastore
    when enabled) managed table: CREATE materializes it, INSERT INTO
    appends through saveAsTable, scans read via spark.table (metastore
    partition pruning native), INSERT OVERWRITE replaces."""
    spark.sql("DROP TABLE IF EXISTS hive_sales")
    import shutil

    shutil.rmtree("spark-warehouse/hive_sales", ignore_errors=True)
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        """
        CREATE TABLE hive_sales (k BIGINT, region STRING, amt DOUBLE)
        PARTITIONED BY (region)
        WITH ('connector' = 'hive')
        """
    )
    try:
        tenv.execute_sql(
            "INSERT INTO hive_sales SELECT 1, 'eu', 10.0 UNION ALL SELECT 2, 'us', 20.0"
        )
        got = {
            (r["k"], r["region"], r["amt"])
            for r in tenv.sql_query("SELECT * FROM hive_sales").to_data_frame().collect()
        }
        assert got == {(1, "eu", 10.0), (2, "us", 20.0)}
        tenv.execute_sql("INSERT INTO hive_sales SELECT 3, 'eu', 30.0")
        n = tenv.sql_query(
            "SELECT COUNT(*) AS n FROM hive_sales WHERE region = 'eu'"
        ).to_data_frame().collect()[0]["n"]
        assert n == 2
        # dynamic-partition INSERT OVERWRITE replaces ONLY the written
        # partitions (Hive/Flink semantics, same as the filesystem
        # sink) — the pre-bucketing saveAsTable path wrongly replaced
        # the whole table here
        tenv.execute_sql("INSERT OVERWRITE hive_sales SELECT 9, 'ap', 1.0")
        got = {
            (r["k"], r["region"])
            for r in tenv.sql_query("SELECT k, region FROM hive_sales").to_data_frame().collect()
        }
        assert got == {(1, "eu"), (3, "eu"), (2, "us"), (9, "ap")}
        # overwriting an EXISTING partition replaces just that partition
        tenv.execute_sql("INSERT OVERWRITE hive_sales SELECT 7, 'eu', 70.0")
        got = {
            (r["k"], r["region"])
            for r in tenv.sql_query("SELECT k, region FROM hive_sales").to_data_frame().collect()
        }
        assert got == {(7, "eu"), (2, "us"), (9, "ap")}
    finally:
        spark.sql("DROP TABLE IF EXISTS hive_sales")


def test_streaming_insert_into_hive_table(spark, tmp_path):
    """Streaming INSERT INTO a hive-connector table: availableNow drain
    appends per-batch into the catalog-managed table (the reference's
    Hive streaming sink with partition commit)."""
    spark.sql("DROP TABLE IF EXISTS hive_stream_snk")
    import shutil

    shutil.rmtree("spark-warehouse/hive_stream_snk", ignore_errors=True)
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""
        CREATE TABLE hs_src (
          r_regionkey BIGINT, r_name STRING, r_comment STRING
        ) WITH ('connector'='filesystem', 'path'='{SF}/region.parquet',
                'format'='parquet')
        """
    )
    tenv.execute_sql(
        """
        CREATE TABLE hive_stream_snk (k BIGINT, name STRING)
        WITH ('connector'='hive')
        """
    )
    try:
        tenv.execute_sql(
            "INSERT INTO hive_stream_snk SELECT r_regionkey, upper(r_name) "
            "FROM hs_src WHERE r_regionkey < 3"
        )
        got = sorted(
            (r["k"], r["name"])
            for r in spark.sql(
                "SELECT * FROM spark_catalog.default.hive_stream_snk"
            ).collect()
        )
        assert [k for k, _ in got] == [0, 1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS hive_stream_snk")


def test_legacy_group_window_hop_session(tenv, spark):
    """Flink 1.16's legacy GROUP BY HOP/SESSION forms rewrite to
    Spark's window()/session_window() grouping; the *_START/_END
    auxiliaries become field accesses on the grouped struct."""
    from flink_release_1_16_0_spark.catalog import register_tables

    register_tables(spark, SF, ("events",))
    hop = tenv.sql_query(
        """
        SELECT HOP_START(ts, INTERVAL '5' MINUTE, INTERVAL '15' MINUTE) AS ws,
               HOP_END(ts, INTERVAL '5' MINUTE, INTERVAL '15' MINUTE) AS we,
               COUNT(*) AS n
        FROM events
        GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '15' MINUTE)
        """
    ).to_data_frame()
    want_hop = spark.sql(
        """
        SELECT window.start ws, window.end we, COUNT(*) n
        FROM events GROUP BY window(ts, '15 minutes', '5 minutes')
        """
    )
    assert sorted(map(tuple, hop.collect())) == sorted(
        map(tuple, want_hop.collect())
    )
    sess = tenv.sql_query(
        """
        SELECT SESSION_START(ts, INTERVAL '10' MINUTE) AS ws,
               COUNT(*) AS n
        FROM events
        GROUP BY user_id, SESSION(ts, INTERVAL '10' MINUTE)
        """
    ).to_data_frame()
    want_sess = spark.sql(
        """
        SELECT session_window.start ws, COUNT(*) n
        FROM events GROUP BY user_id, session_window(ts, '10 minutes')
        """
    )
    assert sorted(map(tuple, sess.collect())) == sorted(
        map(tuple, want_sess.collect())
    )


# ---------------------------------------------------------------------------
# regression: DEFINE rewrites must not touch string literals
# ---------------------------------------------------------------------------


def test_define_predicate_string_literals_kept_verbatim():
    """Operator rewrites (= -> ==, <> -> !=, AND/OR/NOT lowercasing)
    must apply only outside single-quoted SQL literals: DEFINE
    A AS A.tag = 'x=y' previously compiled to a comparison against
    'x==y' and silently never matched."""
    from flink_release_1_16_0_spark.table_env import _compile_define_predicate

    fn = _compile_define_predicate("A.tag = 'x=y'", "A", ["A"], {})
    assert fn({"tag": "x=y"}, {}) is True
    assert fn({"tag": "x==y"}, {}) is False

    fn2 = _compile_define_predicate(
        "A.tag = 'p AND q' OR A.tag = 'a<>b'", "A", ["A"], {}
    )
    assert fn2({"tag": "p AND q"}, {}) is True
    assert fn2({"tag": "a<>b"}, {}) is True
    assert fn2({"tag": "p and q"}, {}) is False

    # SQL '' escape becomes a literal quote
    fn3 = _compile_define_predicate("A.tag <> 'it''s'", "A", ["A"], {})
    assert fn3({"tag": "it's"}, {}) is False
    assert fn3({"tag": "other"}, {}) is True


def test_split_sql_literals_segments():
    from flink_release_1_16_0_spark.table_env import _split_sql_literals

    assert _split_sql_literals("a = 'x=y' AND b") == [
        (False, "a = "),
        (True, "'x=y'"),
        (False, " AND b"),
    ]
    assert _split_sql_literals("'only'") == [(True, "'only'")]
    assert _split_sql_literals("no literals") == [(False, "no literals")]
    assert _split_sql_literals("x = 'a''b'") == [
        (False, "x = "),
        (True, "'a''b'"),
    ]


def test_streaming_insert_from_avro_table(spark, tmp_path):
    """Streaming INSERT INTO sourced from an avro table: the readStream
    file listing drives the pure-Python OCF decoder per micro-batch
    (AvroInputFormat.java:66 serves both modes in the reference)."""
    from flink_release_1_16_0_spark.sources.avro_format import write_avro

    src = str(tmp_path / "avro_stream_src")
    df = spark.range(0, 20).selectExpr("id AS k", "concat('v-', id) AS v")
    write_avro(df, src)
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""CREATE TABLE av_src (k BIGINT, v STRING)
        WITH ('connector'='filesystem','path'='{src}','format'='avro')"""
    )
    assert spark.table("av_src").isStreaming
    out = str(tmp_path / "avro_stream_out")
    tenv.execute_sql(
        f"""CREATE TABLE av_snk (k BIGINT, v STRING)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("INSERT INTO av_snk SELECT k, upper(v) AS v FROM av_src WHERE k < 5")
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(out).collect())
    assert got == [(i, f"V-{i}") for i in range(5)]


def test_streaming_insert_from_protobuf_table(spark, tmp_path):
    """Streaming INSERT INTO sourced from a protobuf table (readStream
    listing + wire-format decoder per micro-batch)."""
    from flink_release_1_16_0_spark.sources.protobuf_format import (
        write_protobuf,
    )

    src = str(tmp_path / "pb_stream_src")
    df = spark.range(0, 20).selectExpr("id AS k", "concat('p-', id) AS v")
    write_protobuf(df, src)
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""CREATE TABLE pb_src (k BIGINT, v STRING)
        WITH ('connector'='filesystem','path'='{src}','format'='protobuf')"""
    )
    assert spark.table("pb_src").isStreaming
    out = str(tmp_path / "pb_stream_out")
    tenv.execute_sql(
        f"""CREATE TABLE pb_snk (k BIGINT, v STRING)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("INSERT INTO pb_snk SELECT k, v FROM pb_src WHERE k >= 15")
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(out).collect())
    assert got == [(i, f"p-{i}") for i in range(15, 20)]


def test_match_recognize_reluctant_quantifiers(tenv, spark):
    """Reluctant quantifiers (+?) prefer the shortest run on BOTH
    tiers — the reference in fact requires patterns to END with a
    simple variable or a reluctant quantifier
    (CommonExecMatch.java:137), so trailing +? is the canonical
    reference-legal form."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, i), i, "e", float(i + 1))
        for i in range(4)
    ]
    spark.createDataFrame(
        rows, "k long, ts timestamp, event_id long, event_type string, value double"
    ).createOrReplaceTempView("rel_events")

    # regex tier (single-variable DEFINE): A+? alone -> four 1-row
    # matches instead of one greedy 4-row match
    got = tenv.sql_query(
        """
        SELECT k, n FROM rel_events MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts
          MEASURES COUNT(A.event_id) AS n
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+?)
          DEFINE A AS A.event_type = 'e'
        ) AS m
        """
    ).to_data_frame()
    assert [r["n"] for r in got.collect()] == [1, 1, 1, 1]

    # NFA tier (cross-variable DEFINE forces the route): A B+? takes
    # the minimal B run -> two (A,B) matches instead of one
    got2 = tenv.sql_query(
        """
        SELECT k, a_val, n_b FROM rel_events MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts
          MEASURES LAST(A.value) AS a_val, COUNT(B.event_id) AS n_b
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B+?)
          DEFINE
            A AS A.event_type = 'e',
            B AS B.value > FIRST(A.value)
        ) AS m
        """
    ).to_data_frame()
    assert sorted((r["a_val"], r["n_b"]) for r in got2.collect()) == [
        (1.0, 1),
        (3.0, 1),
    ]


def test_match_recognize_upper_bounded_quantifier(tenv, spark):
    """{,m} = {0,m} (applyQuantifier startNum=0) on both tiers."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, i), i, t, float(i))
        for i, t in enumerate(["a", "x", "x", "x", "b"])
    ]
    spark.createDataFrame(
        rows, "k long, ts timestamp, event_id long, event_type string, value double"
    ).createOrReplaceTempView("ub_events")
    # regex tier: A X{,2} B — only 2 of the 3 x rows fit, so no match
    # unless the bound permits skipping... with 3 x's between, no match;
    # widen to {,3} and it matches binding all three
    for bound, expect in (("{,2}", 0), ("{ , 3 }", 1)):
        got = tenv.sql_query(
            f"""
            SELECT k, n_x FROM ub_events MATCH_RECOGNIZE (
              PARTITION BY k
              ORDER BY ts
              MEASURES COUNT(X.event_id) AS n_x
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (A X{bound} B)
              DEFINE
                A AS A.event_type = 'a',
                X AS X.event_type = 'x',
                B AS B.event_type = 'b'
            ) AS m
            """
        ).to_data_frame().collect()
        assert len(got) == expect, (bound, got)
        if expect:
            assert got[0]["n_x"] == 3
    # NFA route (cross-var define): same bound semantics
    got2 = tenv.sql_query(
        """
        SELECT k, n_x FROM ub_events MATCH_RECOGNIZE (
          PARTITION BY k
          ORDER BY ts
          MEASURES COUNT(X.event_id) AS n_x
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A X{,3} B)
          DEFINE
            A AS A.event_type = 'a',
            X AS X.event_type = 'x',
            B AS B.event_type = 'b' AND B.value > FIRST(A.value)
        ) AS m
        """
    ).to_data_frame().collect()
    assert [r["n_x"] for r in got2] == [3]


def test_early_fire_window_emit(spark, tmp_path):
    """table.exec.emit.early-fire.enabled (WindowEmitStrategy.scala):
    the streaming group-window agg emits CHANGED partials every
    micro-batch (update mode) instead of waiting for the watermark to
    close the window; the latest partial per window converges to the
    batch truth (the upsert-consumer contract the reference pairs
    early-fire with). Default mode still withholds unclosed windows."""
    import datetime as dt

    src = str(tmp_path / "ef_src")
    rows = [(i, dt.datetime(2024, 1, 1, 10, m, 0)) for i, m in enumerate([0, 1, 2, 30, 31])]
    schema = "event_id bigint, ts timestamp"
    # two files -> two micro-batches, both inside the 10:00 and 10:10 windows
    spark.createDataFrame(rows[:3], schema).repartition(1).write.parquet(src + "/b=0")
    spark.createDataFrame(rows[3:], schema).repartition(1).write.parquet(src + "/b=1")

    def run(early: bool, out_name: str) -> list:
        tenv = TableEnvironment.create(spark, streaming=True)
        out = str(tmp_path / out_name)
        tenv.execute_sql(
            f"""CREATE TABLE ef_src_{out_name} (event_id BIGINT, ts TIMESTAMP(3),
              WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)
            WITH ('connector'='filesystem','path'='{src}/b=*',
                  'format'='parquet','maxFilesPerTrigger'='1')"""
        )
        tenv.execute_sql(
            f"""CREATE TABLE ef_snk_{out_name} (ws TIMESTAMP(3), n BIGINT)
            WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
        )
        if early:
            tenv.execute_sql("SET 'table.exec.emit.early-fire.enabled' = 'true'")
        tenv.execute_sql(
            f"""INSERT INTO ef_snk_{out_name}
            SELECT window_start AS ws, COUNT(*) AS n
            FROM TABLE(TUMBLE(TABLE ef_src_{out_name}, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
            GROUP BY window_start"""
        )
        return spark.read.parquet(out).collect()

    early_rows = run(True, "early")
    # partial history present: the 10:00 window fired while still open
    per_window = {}
    for r in early_rows:
        per_window.setdefault(str(r["ws"]), []).append(r["n"])
    assert max(per_window["2024-01-01 10:00:00"]) == 3
    assert max(per_window["2024-01-01 10:30:00"]) == 2  # unclosed window fired
    final_rows = run(False, "final")
    got_final = {str(r["ws"]): r["n"] for r in final_rows}
    # append mode: only the watermark-closed 10:00 window emitted
    assert got_final == {"2024-01-01 10:00:00": 3}


def test_allow_lateness_sql_dispatch(spark, tmp_path):
    """table.exec.emit.allow-lateness + late-fire route a streaming
    tumble-window agg INSERT to the allowed-lateness operator: a
    late-but-allowed row RE-FIRES the window (+U with the corrected
    count) where Spark's native path would have dropped it."""
    import datetime as dt

    src = str(tmp_path / "al_src")
    schema = "k bigint, ts timestamp, v double"
    T = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minute):
        return T + dt.timedelta(minutes=minute)

    batches = [
        [(1, at(0), 1.0), (1, at(2), 2.0)],
        [(1, at(15), 5.0)],        # wm -> 10:14, fires [10:00,10:10)
        [(1, at(5), 3.0)],         # late but allowed -> +U n=3
        [(1, at(40), 7.0)],        # advances wm; retires the window
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            f"{src}/b={i}"
        )
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""CREATE TABLE al_src (k BIGINT, ts TIMESTAMP(3), v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)
        WITH ('connector'='filesystem','path'='{src}/b=*',
              'format'='parquet','maxFilesPerTrigger'='1')"""
    )
    out = str(tmp_path / "al_out")
    tenv.execute_sql(
        f"""CREATE TABLE al_snk (k BIGINT, ws TIMESTAMP(3), n BIGINT, t DOUBLE)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("SET 'table.exec.emit.allow-lateness' = '10 min'")
    tenv.execute_sql("SET 'table.exec.emit.late-fire.enabled' = 'true'")
    tenv.execute_sql(
        """INSERT INTO al_snk
        SELECT k, window_start AS ws, COUNT(*) AS n, SUM(v) AS t
        FROM TABLE(TUMBLE(TABLE al_src, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        GROUP BY window_start, k"""
    )
    rows = sorted(
        (str(r["ws"]), r["n"], r["t"]) for r in spark.read.parquet(out).collect()
    )
    w0 = [r for r in rows if r[0] == "2024-01-01 10:00:00"]
    # first firing n=2, late re-firing n=3 (native Spark would emit
    # only n=2 and silently drop the 10:05 row)
    assert w0 == [("2024-01-01 10:00:00", 2, 3.0), ("2024-01-01 10:00:00", 3, 6.0)]


def test_allow_lateness_sql_window_fires_at_end_minus_one(spark, tmp_path):
    """An allow-lateness tumble window fires when the watermark reaches
    end - 1 (the reference's isWindowFired): key 2's row moves the final
    watermark to exactly 10:09:59.999, and key 1's [10:00, 10:10)
    window, which gets no later data, is emitted by its timer."""
    import datetime as dt

    src = str(tmp_path / "ale_src")
    T = dt.datetime(2024, 1, 1, 10, 0, 0)
    batches = [
        [(1, T + dt.timedelta(minutes=5))],
        [(2, T + dt.timedelta(minutes=11) - dt.timedelta(milliseconds=1))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k bigint, ts timestamp").repartition(1).write.parquet(
            f"{src}/b={i}"
        )
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""CREATE TABLE ale_src (k BIGINT, ts TIMESTAMP(3),
          WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)
        WITH ('connector'='filesystem','path'='{src}/b=*',
              'format'='parquet','maxFilesPerTrigger'='1')"""
    )
    out = str(tmp_path / "ale_out")
    tenv.execute_sql(
        f"""CREATE TABLE ale_snk (k BIGINT, ws TIMESTAMP(3), n BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("SET 'table.exec.emit.allow-lateness' = '10 min'")
    tenv.execute_sql("SET 'table.exec.emit.late-fire.enabled' = 'true'")
    tenv.execute_sql(
        """INSERT INTO ale_snk
        SELECT k, window_start AS ws, COUNT(*) AS n
        FROM TABLE(TUMBLE(TABLE ale_src, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        GROUP BY window_start, k"""
    )
    got = [(r["k"], str(r["ws"]), r["n"]) for r in spark.read.parquet(out).collect()]
    assert got == [(1, "2024-01-01 10:00:00", 1)]


def test_allow_lateness_sql_dispatch_hop(spark, tmp_path):
    """HOP TVF also routes to the lateness operator (Flink arg order:
    slide then size); a late row re-fires both overlapping windows."""
    import datetime as dt

    src = str(tmp_path / "alh_src")
    schema = "k bigint, ts timestamp, v double"
    T = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(minute):
        return T + dt.timedelta(minutes=minute)

    batches = [
        [(1, at(2), 1.0)],   # windows [9:55,10:05) and [10:00,10:10)
        [(1, at(14), 5.0)],  # wm -> 10:13: fires both
        [(1, at(3), 2.0)],   # late but allowed: re-fires both
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).repartition(1).write.parquet(
            f"{src}/b={i}"
        )
    tenv = TableEnvironment.create(spark, streaming=True)
    tenv.execute_sql(
        f"""CREATE TABLE alh_src (k BIGINT, ts TIMESTAMP(3), v DOUBLE,
          WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE)
        WITH ('connector'='filesystem','path'='{src}/b=*',
              'format'='parquet','maxFilesPerTrigger'='1')"""
    )
    out = str(tmp_path / "alh_out")
    tenv.execute_sql(
        f"""CREATE TABLE alh_snk (ws TIMESTAMP(3), we TIMESTAMP(3), n BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("SET 'table.exec.emit.allow-lateness' = '10 min'")
    tenv.execute_sql("SET 'table.exec.emit.late-fire.enabled' = 'true'")
    tenv.execute_sql(
        """INSERT INTO alh_snk
        SELECT window_start AS ws, window_end AS we, COUNT(*) AS n
        FROM TABLE(HOP(TABLE alh_src, DESCRIPTOR(ts),
                       INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))
        GROUP BY window_start"""
    )
    got = spark.read.parquet(out).collect()
    import datetime as _dt

    assert all(r["we"] - r["ws"] == _dt.timedelta(minutes=10) for r in got)
    rows = sorted((str(r["ws"]), r["n"]) for r in got)
    for ws in ("2024-01-01 09:55:00", "2024-01-01 10:00:00"):
        assert [r for r in rows if r[0] == ws] == [(ws, 1), (ws, 2)], rows


def test_environment_settings_create(spark):
    from flink_release_1_16_0_spark.table_env import (
        EnvironmentSettings,
        TableEnvironment,
    )

    t1 = TableEnvironment.create(spark, EnvironmentSettings.in_streaming_mode())
    assert t1.streaming is True
    t2 = TableEnvironment.create(
        spark, EnvironmentSettings.new_instance().in_batch_mode().build()
    )
    assert t2.streaming is False


def test_fluent_table_map(tenv, spark):
    """Table.map (TableImpl.map:403): 1:1 row-based map, both the
    row-dict and the vectorized pandas tiers."""
    t = tenv.from_data_frame(
        spark.createDataFrame([(1, "ab"), (2, None)], "id int, s string")
    )

    def f(row):
        return {"id2": row["id"] * 2, "n": len(row["s"] or "")}

    rows = t.map(f, "id2 int, n int").to_data_frame().collect()
    assert {(r["id2"], r["n"]) for r in rows} == {(2, 2), (4, 0)}

    def fv(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"id2": pdf["id"] * 2, "n": pdf["s"].fillna("").str.len()}
        )

    rows = t.map(fv, "id2 int, n int", vectorized=True).to_data_frame().collect()
    assert {(r["id2"], r["n"]) for r in rows} == {(2, 2), (4, 0)}


def test_fluent_table_map_rejects_fanout(tenv, spark):
    import pandas as pd
    import pytest as _pytest

    t = tenv.from_data_frame(spark.createDataFrame([(1,)], "id int"))
    bad = t.map(
        lambda pdf: pd.DataFrame({"id2": [1, 2]}), "id2 int", vectorized=True
    )
    with _pytest.raises(Exception, match="1:1"):
        bad.to_data_frame().collect()


def test_fluent_table_flat_map(tenv, spark):
    """Table.flatMap (TableImpl.flatMap:408): 0..n rows per input."""
    t = tenv.from_data_frame(
        spark.createDataFrame([(1, "a,b"), (2, ""), (3, "c")], "id int, s string")
    )

    def split_rows(row):
        for w in row["s"].split(","):
            if w:
                yield {"id": row["id"], "word": w}

    rows = t.flat_map(split_rows, "id int, word string").to_data_frame().collect()
    assert {(r["id"], r["word"]) for r in rows} == {(1, "a"), (1, "b"), (3, "c")}


def test_fluent_grouped_aggregate_select(tenv, spark):
    """GroupedTable.aggregate (TableImpl.java:413): one row per group,
    implicit keys, projected via the mandatory .select — checked
    against the SQL dual."""
    import pandas as pd

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 7.0), ("b", 1.0), ("b", 4.0)],
        "k string, v double",
    )
    t = tenv.from_data_frame(df)

    def stats(pdf: pd.DataFrame) -> dict:
        return {"vsum": float(pdf["v"].sum()), "vmax": float(pdf["v"].max())}

    rows = (
        t.group_by("k")
        .aggregate(stats, "vsum double, vmax double")
        .select("k, vsum, vmax")
        .to_data_frame()
        .collect()
    )
    got = {(r["k"], r["vsum"], r["vmax"]) for r in rows}
    dual = {
        (r["k"], r["vsum"], r["vmax"])
        for r in spark.sql(
            "SELECT k, SUM(v) AS vsum, MAX(v) AS vmax FROM {d} GROUP BY k", d=df
        ).collect()
    }
    assert got == dual
    # post-select can compute over the aggregate fields too
    rows = (
        t.group_by("k")
        .aggregate(stats, "vsum double, vmax double")
        .select("k, vmax - vsum AS spread")
        .to_data_frame()
        .collect()
    )
    assert {(r["k"], r["spread"]) for r in rows} == {("a", -1.0), ("b", -5.0)}


def test_fluent_breadth_completions(tenv, spark):
    """The remaining TableImpl method family: as_/alias,
    add_or_replace_columns (in-place replacement), minus_all /
    intersect_all (bag semantics), left_outer_join_lateral (empty UDTF
    result keeps the row)."""
    t = tenv.from_data_frame(
        spark.createDataFrame([(1, "a,b"), (2, "")], "id int, s string")
    )
    # as_ renames positionally
    assert t.as_("k, txt").to_data_frame().columns == ["k", "txt"]
    assert t.alias("k", "txt").to_data_frame().columns == ["k", "txt"]
    # add_or_replace_columns: replacement stays in place, new appends
    out = t.add_or_replace_columns("id * 10 AS id", "length(s) AS n")
    assert out.to_data_frame().columns == ["id", "s", "n"]
    assert {(r.id, r.n) for r in out.to_data_frame().collect()} == {(10, 3), (20, 0)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="aliased"):
        t.add_or_replace_columns("id * 10")
    # bag set ops vs the SQL duals
    a = tenv.from_data_frame(spark.createDataFrame([(1,), (1,), (2,)], "x int"))
    b = tenv.from_data_frame(spark.createDataFrame([(1,), (3,)], "x int"))
    assert sorted(r.x for r in a.minus_all(b).to_data_frame().collect()) == [1, 2]
    assert sorted(r.x for r in a.intersect_all(b).to_data_frame().collect()) == [1]
    # left outer lateral: id=2 has no words but survives with NULL
    rows = {
        (r.id, r.word)
        for r in t.left_outer_join_lateral(
            "explode(split(s, ',')) AS word"
        ).to_data_frame().collect()
    }
    assert (2, "") in rows or (2, None) in rows
    assert {(1, "a"), (1, "b")} <= rows


def test_table_execute_insert_pipeline(tenv, spark, tmp_path):
    """Table.execute_insert (TableImpl.insertInto + TablePipeline): the
    fluent write path shares INSERT INTO's connector machinery —
    positional alignment, partition layout, overwrite semantics."""
    out = str(tmp_path / "pipe_out")
    tenv.execute_sql(
        f"""CREATE TABLE pipe_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    src = tenv.from_data_frame(
        spark.range(0, 6).selectExpr("id AS k", "id % 2 AS p")
    )
    src.where("k < 4").execute_insert("pipe_snk")
    got = sorted(
        (r.k, r.p) for r in spark.read.parquet(out).collect()
    )
    assert got == [(0, 0), (1, 1), (2, 0), (3, 1)]
    # overwrite replaces only the partitions receiving data
    src.where("k = 5").execute_insert("pipe_snk", overwrite=True)
    got = sorted((r.k, r.p) for r in spark.read.parquet(out).collect())
    assert got == [(0, 0), (2, 0), (5, 1)]
    # an unbound Table fails loudly
    from flink_release_1_16_0_spark.table_env import Table

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not bound"):
        Table(spark.range(1)).execute_insert("pipe_snk")


def test_fluent_windowed_udaf(tenv, spark):
    """WindowGroupedTable.aggregate / flat_aggregate
    (WindowGroupedTableImpl:537/651): a UDAF per (key, window) with
    w.start/w.end in the post-select, checked against the SQL dual."""
    import datetime

    import pandas as pd

    from flink_release_1_16_0_spark.table_env import Tumble

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 10, 1), 1.0),
        ("a", datetime.datetime(2024, 1, 1, 10, 2), 5.0),
        ("a", datetime.datetime(2024, 1, 1, 10, 31), 2.0),
        ("b", datetime.datetime(2024, 1, 1, 10, 3), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    t = tenv.from_data_frame(df)

    def vsum(pdf: pd.DataFrame) -> dict:
        return {"vsum": float(pdf["v"].sum()), "n": len(pdf)}

    got = {
        (r.k, str(r.ws), r.vsum, r.n)
        for r in t.window(Tumble.over("30 minutes").on("ts").alias("w"))
        .group_by("k, w")
        .aggregate(vsum, "vsum double, n bigint")
        .select("k, w.start AS ws, vsum, n")
        .to_data_frame()
        .collect()
    }
    dual = {
        (r.k, str(r.ws), r.vsum, r.n)
        for r in spark.sql(
            "SELECT k, window.start AS ws, SUM(v) AS vsum, COUNT(*) AS n "
            "FROM {d} GROUP BY k, window(ts, '30 minutes')",
            d=df,
        ).collect()
    }
    assert got == dual

    def top1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.nlargest(1, "v")[["v"]].rename(columns={"v": "vmax"})

    got = {
        (r.k, str(r.we), r.vmax)
        for r in t.window(Tumble.over("30 minutes").on("ts").alias("w"))
        .group_by("k, w")
        .flat_aggregate(top1, "vmax double")
        .select("k, w.end AS we, vmax")
        .to_data_frame()
        .collect()
    }
    dual = {
        (r.k, str(r.we), r.vmax)
        for r in spark.sql(
            "SELECT k, window.end AS we, MAX(v) AS vmax "
            "FROM {d} GROUP BY k, window(ts, '30 minutes')",
            d=df,
        ).collect()
    }
    assert got == dual


def test_fluent_cross_join_and_lateral_predicate(tenv, spark):
    """join(right) without a predicate is the reference's cross join;
    join_lateral's optional predicate filters the joined rows
    (TableImpl.join:195 / joinLateral:252)."""
    a = tenv.from_data_frame(spark.createDataFrame([(1,), (2,)], "x int"))
    b = tenv.from_data_frame(spark.createDataFrame([(10,), (20,)], "y int"))
    rows = {(r.x, r.y) for r in a.join(b).where("x * 10 = y").to_data_frame().collect()}
    assert rows == {(1, 10), (2, 20)}
    t = tenv.from_data_frame(
        spark.createDataFrame([(1, "a,bb"), (2, "ccc")], "id int, s string")
    )
    rows = {
        (r.id, r.word)
        for r in t.join_lateral(
            "explode(split(s, ',')) AS word", predicate="length(word) >= 2"
        ).to_data_frame().collect()
    }
    assert rows == {(1, "bb"), (2, "ccc")}


def test_fluent_windowed_udaf_slide_and_name_collision(tenv, spark):
    """Slide windows explode rows into every containing window on the
    UDAF path, and a source column literally named 'w' cannot collide
    with the internal window struct (third self-review round)."""
    import datetime

    import pandas as pd

    from flink_release_1_16_0_spark.table_env import Slide

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 10, 1), 1.0),
        ("a", datetime.datetime(2024, 1, 1, 10, 11), 5.0),
        ("b", datetime.datetime(2024, 1, 1, 10, 2), 7.0),
    ]
    # 'w' as a SOURCE column name, window aliased 'win'
    df = spark.createDataFrame(rows, "k string, ts timestamp, w double")
    t = tenv.from_data_frame(df)

    def vsum(pdf: pd.DataFrame) -> dict:
        return {"vsum": float(pdf["w"].sum())}

    got = {
        (r.k, str(r.ws), r.vsum)
        for r in t.window(
            Slide.over("20 minutes").every("10 minutes").on("ts").alias("win")
        )
        .group_by("k, win")
        .aggregate(vsum, "vsum double")
        .select("k, win.start AS ws, vsum")
        .to_data_frame()
        .collect()
    }
    dual = {
        (r.k, str(r.ws), r.vsum)
        for r in spark.sql(
            "SELECT k, window.start AS ws, SUM(w) AS vsum "
            "FROM {d} GROUP BY k, window(ts, '20 minutes', '10 minutes')",
            d=df,
        ).collect()
    }
    assert got == dual
    # each row must appear in size/slide = 2 windows
    assert len({ws for (_, ws, _) in got}) >= 3
    # expression keys fail with the explicit guard, not a KeyError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="plain column-name"):
        t.window(
            Slide.over("20 minutes").every("10 minutes").on("ts").alias("win")
        ).group_by("upper(k), win").aggregate(vsum, "vsum double")


def test_fluent_minus_is_sql_except(tenv, spark):
    """Table.minus = SQL EXCEPT: a left row present in the right is
    removed regardless of multiplicity (third self-review round:
    exceptAll().distinct() wrongly kept duplicated left rows)."""
    a = tenv.from_data_frame(spark.createDataFrame([(1,), (1,), (2,)], "x int"))
    b = tenv.from_data_frame(spark.createDataFrame([(1,), (3,)], "x int"))
    assert sorted(r.x for r in a.minus(b).to_data_frame().collect()) == [2]
    # bag-semantics minus_all unchanged: one occurrence removed
    assert sorted(r.x for r in a.minus_all(b).to_data_frame().collect()) == [1, 2]
    # no-predicate outer overload routes through ON TRUE, not cross
    c = tenv.from_data_frame(spark.createDataFrame([], "y int"))
    rows = a.left_outer_join(c).to_data_frame().collect()
    assert len(rows) == 3 and all(r.y is None for r in rows)


def test_tenv_api_completions(tenv, spark):
    """The remaining TableEnvironment method family (fromValues:321,
    registerTable:646, scan:691, useCatalog/useDatabase, list*,
    explainSql)."""
    t = tenv.from_values([(1, "a"), (2, "b")], "id BIGINT, name STRING")
    assert {(r.id, r.name) for r in t.to_data_frame().collect()} == {(1, "a"), (2, "b")}
    # untyped values get the reference's f0..fn names
    assert tenv.from_values([(1, "x")]).to_data_frame().columns == ["f0", "f1"]
    assert [r.f0 for r in tenv.from_values([7]).to_data_frame().collect()] == [7]
    tenv.register_table("api_rt", t)
    assert tenv.scan("api_rt").to_data_frame().count() == 2
    tenv.execute_sql("CREATE DATABASE IF NOT EXISTS api_db")
    tenv.use_database("api_db")
    assert "api_db" in tenv.list_databases()
    tenv.use_database("default_database")
    assert tenv.list_catalogs() == ["default_catalog"]
    assert "split_index" in tenv.list_functions()
    plan = tenv.explain_sql("SELECT id FROM api_rt WHERE id > 1")
    assert "Physical Plan" in plan or "Filter" in plan


def test_window_attr_rewrite_spares_literals_and_escapes_alias(tenv, spark):
    """<alias>.start rewriting must leave string literals alone (a
    literal 'w.start' is data) and survive an alias that contains regex
    metacharacters — previously both broke the re.sub-based rewrite."""
    import datetime

    from flink_release_1_16_0_spark.table_env import Tumble

    rows = [
        ("a", datetime.datetime(2024, 1, 1, 10, 1), 1.0),
        ("a", datetime.datetime(2024, 1, 1, 10, 29), 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    t = tenv.from_data_frame(df)
    out = (
        t.window(Tumble.over("30 minutes").on("ts").alias("w"))
        .group_by("k, w")
        .select("k, w.start AS ws, 'w.start' AS lit, SUM(v) AS vsum")
        .to_data_frame()
        .collect()
    )
    assert len(out) == 1
    assert out[0].lit == "w.start"  # literal untouched
    assert str(out[0].ws).startswith("2024-01-01 10:00")
    assert out[0].vsum == 3.0


def test_grouped_aggregate_missing_output_field_raises(tenv, spark):
    """A typo'd key in the aggregate fn's result dict must raise, not
    silently become NULL in the declared output column."""
    import pandas as pd
    import pytest

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "k string, v double")
    t = tenv.from_data_frame(df)

    def bad(pdf: pd.DataFrame) -> dict:
        return {"vsun": float(pdf["v"].sum())}  # typo: vsun != vsum

    agg = t.group_by("k").aggregate(bad, "vsum double")
    with pytest.raises(Exception, match="missing declared output"):
        agg.select("k, vsum").to_data_frame().collect()
