"""Round-14 optimization pins.

Covers: the size-gated broadcast hint on the TPC-H join chains (the
hint must disappear when the join inputs' size estimates exceed the
broadcast threshold — an unconditional hint would hard-fail or OOM at
100 TB), the conditional hash exchanges extended to ivf_topk /
hyperplane_lsh_topk, SQL-text identifier escaping, and the semi/anti
auto-degrade property of the TPC tail (no query may force a fact-table
broadcast when the threshold gate is closed).
"""

from __future__ import annotations

import pytest

from flink_release_1_16_0_spark.catalog import load_table
from flink_release_1_16_0_spark.operators._sqlq import q_ident
from flink_release_1_16_0_spark.operators.similarity import (
    hyperplane_lsh_topk,
    ivf_topk,
    random_hyperplanes,
)
from flink_release_1_16_0_spark.queries import load_registry
from flink_release_1_16_0_spark.queries._util import (
    broadcast_if_small,
)

REGISTRY = load_registry()

_BCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fact_scans_inside_broadcast(plan: str, fact: str) -> list[str]:
    """Lines scanning ``fact`` inside any BroadcastExchange subtree."""
    hits = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = len(line) - len(line.lstrip(" +-:"))
        for j in range(i + 1, len(lines)):
            l2 = lines[j]
            d2 = len(l2) - len(l2.lstrip(" +-:"))
            if d2 <= depth:
                break
            if fact in l2:
                hits.append(l2.strip())
    return hits


# ---------------------------------------------------------------------------
# q_ident: SQL-text identifier escaping
# ---------------------------------------------------------------------------


def test_q_ident_escapes_embedded_backticks():
    assert q_ident("plain") == "`plain`"
    assert q_ident("we`ird") == "`we``ird`"
    assert q_ident("a``b") == "`a````b`"


def test_q_ident_roundtrips_through_selectExpr(spark):
    df = spark.range(1).selectExpr("id AS `we``ird`")
    out = df.selectExpr(f"{q_ident('we`ird')} AS ok").collect()
    assert out[0]["ok"] == 0


# ---------------------------------------------------------------------------
# broadcast_if_small: the gate itself
# ---------------------------------------------------------------------------


def test_broadcast_gate_hints_under_threshold(spark, sf_smoke):
    cust = load_table(spark, sf_smoke, "customer")
    hinted = broadcast_if_small(cust, threshold=10**15)
    assert hinted is not cust
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()


def test_broadcast_gate_is_identity_over_threshold(spark, sf_smoke):
    cust = load_table(spark, sf_smoke, "customer")
    assert broadcast_if_small(cust, threshold=0) is cust
    assert broadcast_if_small(cust, threshold=-1) is cust
    # gate sums the *inputs*' estimates when given
    orders = load_table(spark, sf_smoke, "orders")
    assert broadcast_if_small(cust, orders, threshold=1) is cust


# ---------------------------------------------------------------------------
# The TPC-H chains must not force any broadcast when the threshold gate
# is closed (simulates the 100 TB size estimates): the plan falls back
# to shuffle joins entirely. A hard-coded F.broadcast would keep a
# BroadcastExchange in the plan regardless of the conf.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_local_supplier", "q10_returned_items"]
)
def test_tpch_broadcast_hint_degrades_past_threshold(spark, sf_smoke, name):
    old = spark.conf.get(_BCAST_KEY)
    try:
        spark.conf.set(_BCAST_KEY, "1")
        plan = _plan(REGISTRY[name].fn(spark, sf_smoke))
        # constant-size dims (nation/region, 25/5 rows forever) keep
        # their unconditional hints; every table that GROWS with the
        # corpus must have left the broadcast
        for scaled in ("lineitem.parquet", "orders.parquet",
                       "customer.parquet", "supplier.parquet"):
            hits = _fact_scans_inside_broadcast(plan, scaled)
            assert not hits, (
                f"{name}: {scaled} broadcast survives a closed gate: {hits}"
            )
    finally:
        spark.conf.set(_BCAST_KEY, old)


# ---------------------------------------------------------------------------
# Semi/anti TPC tail: the auto-degrade argument (round-13 audit) pinned.
# These queries rely on the planner degrading their fact-side IN/EXISTS
# broadcasts to sort-merge past the threshold; nothing in the query may
# hard-force the fact scan into a BroadcastExchange.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,fact",
    [
        ("q4_order_priority", "lineitem.parquet"),
        ("q18_large_volume", "lineitem.parquet"),
        ("q21_waiting_suppliers", "lineitem.parquet"),
        ("ds_in_not_in_subquery", "lineitem.parquet"),
        ("ds_exists_supply_chain", "lineitem.parquet"),
        # NOT IN -> NOT EXISTS rewrites (round-14): the anti side must
        # degrade with the threshold instead of forcing a broadcast
        ("q16_parts_supplier", "supplier.parquet"),
    ],
)
def test_semi_anti_fact_broadcast_degrades(spark, sf_smoke, name, fact):
    if name not in REGISTRY:
        pytest.skip(f"{name} not registered")
    old = spark.conf.get(_BCAST_KEY)
    try:
        spark.conf.set(_BCAST_KEY, "1")
        plan = _plan(REGISTRY[name].fn(spark, sf_smoke))
        hits = _fact_scans_inside_broadcast(plan, fact)
        assert not hits, f"{name}: fact broadcast forced past threshold: {hits}"
    finally:
        spark.conf.set(_BCAST_KEY, old)


# ---------------------------------------------------------------------------
# ivf_topk / hyperplane_lsh_topk: corpus exchange now conditional and
# hash-keyed (extends the round-13 brute_force_topk fix)
# ---------------------------------------------------------------------------


def _narrow_wide_plans(spark, sf_smoke, build):
    emb = load_table(spark, sf_smoke, "embeddings")
    par = spark.sparkContext.defaultParallelism
    narrow = _plan(build(emb))
    wide = _plan(build(emb.repartition(par)))
    return narrow, wide


def test_ivf_topk_exchange_conditional_and_hashed(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.limit(2).selectExpr(
        "vec_id AS query_id", "embedding", "vec_id % 4 AS label"
    )
    narrow, wide = _narrow_wide_plans(
        spark, sf_smoke, lambda c: ivf_topk(c.withColumn("label", c.vec_id % 4), q, k=3)
    )
    assert narrow.count("REPARTITION_BY_NUM") == 1
    assert "RoundRobinPartitioning" not in narrow
    # wide corpus: the operator must not add a second exchange on top of
    # the input's own repartition node
    assert wide.count("REPARTITION_BY_NUM") == 1


# ---------------------------------------------------------------------------
# dedup verify-path optimizations (round-14): distinct-once shingles,
# no-distinct jaccard twin, exact length prune
# ---------------------------------------------------------------------------


def test_shingle_distinct_preserves_minhash_signature(spark, sf_smoke):
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.operators import dedup as D

    docs = load_table(spark, sf_smoke, "documents").limit(50)
    raw = D.shingle_table(docs, k=3, hashed=True)
    dst = D.shingle_table(docs, k=3, hashed=True, distinct=True)
    sig = D.spark_sql_signature_from_hashes("__sh", 6)
    a = {r["__id"]: tuple(r["s"]) for r in raw.selectExpr("__id", f"{sig} AS s").collect()}
    b = {r["__id"]: tuple(r["s"]) for r in dst.selectExpr("__id", f"{sig} AS s").collect()}
    assert a == b  # MinHash is multiset-invariant


def test_jaccard_on_distinct_matches_general_form(spark, sf_smoke):
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.operators import dedup as D

    docs = load_table(spark, sf_smoke, "documents").limit(30)
    sh = D.shingle_table(docs, k=3, hashed=True, distinct=True)
    pairs = sh.selectExpr("__id AS id_a", "__sh AS a").crossJoin(
        sh.selectExpr("__id AS id_b", "__sh AS b")
    ).where("id_a < id_b")
    rows = pairs.selectExpr(
        f"{D.spark_sql_jaccard('a', 'b')} AS general",
        f"{D.spark_sql_jaccard_on_distinct('a', 'b')} AS fast",
    ).collect()
    assert rows and all(r["general"] == r["fast"] for r in rows)


def test_length_prune_never_drops_a_verifying_pair(spark, sf_smoke):
    # the prune keeps iff min/max >= threshold; every pair it drops has
    # jaccard <= min/max < threshold. Check against the brute-force
    # jaccard of ALL candidate pairs on the smoke corpus.
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.operators import dedup as D
    from flink_release_1_16_0_spark.queries import load_registry

    reg = load_registry()
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in reg["dedup_minhash_lsh"].fn(spark, sf_smoke).collect()
    }
    docs = load_table(spark, sf_smoke, "documents")
    sh = D.shingle_table(docs, k=3, hashed=True, distinct=True)
    cand = D.lsh_candidate_pairs(num_hashes=6, bands=6, k=3, strategy="bucket", shingle_df=sh)
    unpruned = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in cand.join(sh.selectExpr("__id AS id_a", "__sh AS sa"), "id_a")
        .join(sh.selectExpr("__id AS id_b", "__sh AS sb"), "id_b")
        .selectExpr("id_a", "id_b", f"{D.spark_sql_jaccard('sa', 'sb')} AS jaccard")
        .where("jaccard >= 0.5")
        .collect()
    }
    assert got == unpruned


def test_hyperplane_lsh_topk_exchange_conditional_and_hashed(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    planes = random_hyperplanes(4, 64)
    q = emb.limit(2).selectExpr("vec_id AS query_id", "embedding")
    narrow, wide = _narrow_wide_plans(
        spark, sf_smoke, lambda c: hyperplane_lsh_topk(c, q, planes, k=3)
    )
    assert narrow.count("REPARTITION_BY_NUM") == 1
    assert "RoundRobinPartitioning" not in narrow
    assert wide.count("REPARTITION_BY_NUM") == 1


# ---------------------------------------------------------------------------
# batch CEP tiers (round-14): per-key applyInPandas -> group-amortized
# mapInPandas walk (one Python invocation per Arrow batch, not per key;
# the ~4 ms per-key floor dominated many-small-keys CEP inputs)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "cep_regex_pattern",  # match_regex_pattern tier
        "cep_measures",  # match_regex_measures tier
        "cep_all_rows_per_match",  # match_regex_all_rows tier
        "cep_nfa_define",  # match_nfa tier
    ],
)
def test_cep_tiers_lower_group_amortized(spark, sf_smoke, name):
    plan = _plan(REGISTRY[name].fn(spark, sf_smoke))
    assert "FlatMapGroupsInPandas" not in plan, name
    assert "MapInPandas" in plan, name


def test_cep_amortized_invariant_to_batch_splits(spark, sf_smoke):
    """The amortized walk's results do not depend on Arrow batch
    boundaries: maxRecordsPerBatch=7 forces every group to split across
    batches (exercising the carry-over assembly), and the rows must
    equal the one-group-per-batch run."""
    from pyspark.sql import functions as F

    from flink_release_1_16_0_spark.operators.cep import classify, match_regex_measures

    events = load_table(spark, sf_smoke, "events")
    sym = classify(
        {
            "c": F.col("event_type") == "click",
            "p": F.col("event_type") == "purchase",
        }
    )
    kwargs = dict(
        keys=["user_id"],
        ts_col="ts",
        symbol=sym,
        pattern="(?P<C>c+)(?P<P>p)",
        id_col="event_id",
        measures={
            "n_clicks": ("C", "count", "event_id", "bigint"),
            "purchase_value": ("P", "last", "value", "double"),
        },
        value_cols=["value"],
        grid_scale=2,
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        rows = sorted(map(tuple, match_regex_measures(events, **kwargs).collect()))
        spark.conf.set(key, "10000")
        rows2 = sorted(map(tuple, match_regex_measures(events, **kwargs).collect()))
    finally:
        spark.conf.set(key, old)
    assert rows == rows2 and len(rows) > 0
