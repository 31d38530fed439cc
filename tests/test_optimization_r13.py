"""Round-13 optimization pins.

Each optimization that changed an operator's internals gets a focused
test here: hash-spread (spread_scan key mode + its scale-conditional
no-op), the broadcast-direction fixes on the TPC-H join chains, the
conditional corpus exchange in brute_force_topk, and the SQL-text
asof_join rewrite's identifier handling.
"""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.catalog import load_table
from flink_release_1_16_0_spark.operators.asof import asof_join
from flink_release_1_16_0_spark.operators.similarity import (
    brute_force_topk,
)
from flink_release_1_16_0_spark.queries import load_registry
from flink_release_1_16_0_spark.queries._util import spread_scan

REGISTRY = load_registry()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# spread_scan
# ---------------------------------------------------------------------------


def test_spread_scan_key_mode_hashes_without_sort(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    plan = _plan(spread_scan(li, key="l_orderkey"))
    # hash partitioning on the key, and no map-side sort below the
    # exchange (round-robin would insert one via sortBeforeRepartition)
    assert "hashpartitioning(l_orderkey" in plan
    assert "Sort " not in plan


def test_spread_scan_noop_when_scan_already_wide(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    par = spark.sparkContext.defaultParallelism
    wide = li.repartition(par)  # simulate a many-split corpus
    assert spread_scan(wide, key="l_orderkey") is wide


# ---------------------------------------------------------------------------
# broadcast direction on the TPC-H chains: the fact table must never be
# the build side of a broadcast hash join (q3/q5/q10 were planned that
# way from size estimates before round 13)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_local_supplier", "q10_returned_items"]
)
def test_fact_table_is_never_broadcast_build(spark, sf_smoke, name):
    df = REGISTRY[name].fn(spark, sf_smoke)
    lines = _plan(df).splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = len(line) - len(line.lstrip(" +-:"))
        for j in range(i + 1, len(lines)):
            l2 = lines[j]
            d2 = len(l2) - len(l2.lstrip(" +-:"))
            if d2 <= depth:
                break
            assert "lineitem.parquet" not in l2, (
                f"{name}: lineitem scanned inside a BroadcastExchange subtree"
            )


# ---------------------------------------------------------------------------
# brute_force_topk: corpus exchange is conditional on the scan being
# narrower than the session parallelism
# ---------------------------------------------------------------------------


def test_brute_force_topk_skips_exchange_on_wide_corpus(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    par = spark.sparkContext.defaultParallelism
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding")
    narrow_plan = _plan(brute_force_topk(emb, q, k=3))
    assert narrow_plan.count("REPARTITION_BY_NUM") == 1  # single-split: spread
    wide = emb.repartition(par)  # simulate a many-split corpus (adds its own node)
    wide_plan = _plan(brute_force_topk(wide, q, k=3))
    # the operator must not add a second repartition on top of the input's own
    assert wide_plan.count("REPARTITION_BY_NUM") == 1


# ---------------------------------------------------------------------------
# asof_join SQL-text rewrite: identifier quoting and forward direction
# ---------------------------------------------------------------------------


def test_asof_join_quotes_reserved_identifiers(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], ["key", "order", "tag"]
    ).selectExpr("key", "CAST(order AS TIMESTAMP) AS `order`", "tag")
    right = spark.createDataFrame(
        [(1, 5, "v1"), (1, 15, "v2")], ["key", "order", "val"]
    ).selectExpr("key", "CAST(order AS TIMESTAMP) AS `order`", "val")
    out = {
        (r["tag"], r["val"])
        for r in asof_join(
            left, right, on="key", left_ts="order", right_ts="order"
        ).collect()
    }
    # 10s purchase sees the 5s version; 20s sees the 15s version
    assert out == {("a", "v1"), ("b", "v2")}


def test_asof_join_forward_direction(spark):
    left = spark.createDataFrame([(1, 10, "a")], ["k", "ts", "tag"]).selectExpr(
        "k", "CAST(ts AS TIMESTAMP) AS ts", "tag"
    )
    right = spark.createDataFrame(
        [(1, 5, "early"), (1, 30, "late")], ["k", "ts", "val"]
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "val")
    rows = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", direction="forward"
    ).collect()
    assert len(rows) == 1 and rows[0]["val"] == "late"
