"""Bucketed co-located joins: the 100 TB shuffle-elimination path.

The reference co-locates big-big joins via its hash exchanges at run
time; Spark's durable equivalent is bucketed tables — both sides
pre-hashed into the same bucket count on the join key, so the join
plans WITHOUT an Exchange on either side. This is the storage-layout
discipline a production deployment of this engine would use for its
fact-fact joins (orders x lineitem), pinned here as a plan test.
"""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.catalog import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_smoke, tmp_path_factory):
    # explicit paths -> external tables; the static warehouse dir is
    # never touched
    wh = str(tmp_path_factory.mktemp("warehouse"))
    orders = load_table(spark, sf_smoke, "orders")
    lineitem = load_table(spark, sf_smoke, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{wh}/orders_b")
        .mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{wh}/lineitem_b")
        .mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    yield "orders_b", "lineitem_b"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    ot, lt = bucketed
    # disable broadcast so the join strategy must co-locate, not copy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.sql(
            f"""SELECT o.o_orderkey, COUNT(*) AS n
                FROM {ot} o JOIN {lt} l ON o.o_orderkey = l.l_orderkey
                GROUP BY o.o_orderkey"""
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # both sides read pre-bucketed: no Exchange feeds the join
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # correctness unchanged vs the unbucketed plan
        base = spark.sql(
            f"""SELECT COUNT(*) AS n FROM {ot} o
                JOIN {lt} l ON o.o_orderkey = l.l_orderkey"""
        ).first()["n"]
        assert df.agg({"n": "sum"}).first()[0] == base
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_scan_reports_selected_buckets(spark, bucketed):
    ot, _ = bucketed
    # autoBucketedScan turns bucketed reading off for plans that don't
    # exploit it; force it on so bucket PRUNING applies to the filter
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        plan = (
            spark.table(ot)
            .filter("o_orderkey = 42")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # bucket pruning: an equality predicate on the bucket key
        # restricts the scan to 1 of 8 buckets
        assert "SelectedBucketsCount: 1 out of 8" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
