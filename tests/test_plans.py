"""Plan-shape tests — the Spark analog of the reference's golden-plan
XML snapshots (SURVEY.md section 5.1). Rather than full snapshots
(brittle across Spark versions), these pin the load-bearing physical
properties: pushdown reaching the scan, column pruning, broadcast
strategy on dims, and whole-stage codegen presence.
"""

from __future__ import annotations

from flink_release_1_16_0_spark.queries import load_registry

REGISTRY = load_registry()


def _executed_plan(spark, name, sf):
    df = REGISTRY[name].fn(spark, sf)
    return df, df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushdown_and_pruning(spark, sf_smoke):
    _, plan = _executed_plan(spark, "q1_pricing_summary", sf_smoke)
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: the 11-column table is read with a pruned schema
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark, sf_smoke):
    _, plan = _executed_plan(spark, "q5_local_supplier", sf_smoke)
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region at least
    assert "CartesianProduct" not in plan


def test_q6_single_scan_no_shuffle_before_agg(spark, sf_smoke):
    import re

    _, plan = _executed_plan(spark, "q6_forecast_revenue", sf_smoke)
    # global agg over one table: exactly one scan node, partial+final agg
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "HashAggregate" in plan


def test_calc_stays_in_wholestage_codegen(spark, sf_smoke):
    _, plan = _executed_plan(spark, "func_conditional", sf_smoke)
    # formatted explain marks codegen'd nodes with a leading '*'
    assert "* Project" in plan and "* Filter" in plan


def test_semi_join_plans_as_semi(spark, sf_smoke):
    _, plan = _executed_plan(spark, "join_semi", sf_smoke)
    assert "LeftSemi" in plan


def test_topn_is_window_filter_not_global_sort(spark, sf_smoke):
    _, plan = _executed_plan(spark, "rank_topn_per_group", sf_smoke)
    assert "Window" in plan
    # per-group topN must not globally sort-limit the whole input
    assert "TakeOrderedAndProject" not in plan


def test_lsh_candidate_join_is_equi(spark, sf_smoke):
    # candidate generation must join on the band key (hash-joinable),
    # never as an all-pairs nested loop over the corpus
    _, plan = _executed_plan(spark, "dedup_minhash_lsh", sf_smoke)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_lsh_bucket_strategy_single_signature_pass(spark, sf_smoke):
    """The bucket candidate strategy must compute the scan+shingle+
    signature pipeline exactly once — one parquet scan, no self-join
    (the join strategy clones the pipeline per side; the bucket path is
    the 100 TB shape)."""
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.operators.dedup import lsh_candidate_pairs

    docs = load_table(spark, sf_smoke, "documents")
    pairs = lsh_candidate_pairs(docs, strategy="bucket")
    # executedPlan string lists each node once (formatted mode would
    # double-count: tree line + detail section)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_node not in plan


# --------------------------------------------------------------------------
# Registry-wide scale-safety lint: no accidental cartesian products.
# The reference plans non-equi joins as broadcast nested-loop
# (BatchExecNestedLoopJoin) and everything else as hash/SMJ; an
# unconstrained CartesianProduct in any registry plan would be a
# 100 TB catastrophe, so every batch query's physical plan is checked.
# --------------------------------------------------------------------------

# Deliberate broadcast nested-loop joins: the cross/theta operators
# themselves and the all-pairs similarity kernels whose one side is a
# broadcast-small probe/centroid/slice set (documented in each).
_BNLJ_ALLOWED = {
    "join_cross",
    "join_theta",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "similarity_brute_force_topk",
    "similarity_ivf_kmeans_topk",
    "similarity_lsh_recall",  # exact side reuses the brute-force kernel
    "similarity_quantized_topk",  # broadcast-probe integer-dot kernel
    # corpus-statistic scalar distribution: crossJoin(broadcast(1-row
    # aggregate)) — the no-collect way to hand a global count to every
    # row; build side is literally one row
    "text_tfidf_top_terms",
    "text_unigram_logprob",
    "text_bigram_pmi",
    "curation_source_mixing",
    # 1-row top-pair / totals broadcast per round (BPE merge select,
    # DSIR bucket-model totals) — same no-collect scalar device
    "text_bpe_train_merges",
    "curation_dsir_sample",
    # broadcast probe/centroid sets: PQ query side + per-subspace
    # codebooks; SemDeDup's Lloyd assignment crossJoins the k-row
    # centroid table (the argmin pattern shared with ivf_kmeans)
    "similarity_pq_topk",
    "dedup_semdedup",
}

# Streaming/stateful/facade queries execute work on build (replay), so
# the lint covers the batch relational surface.
_LINT_SKIP_PREFIXES = (
    "stream_",
    "changelog_",
    "plan_infer",
    "cep_",
    "udtag",
    "udtf",
    "multimodal",
    "api_",
    "format_",
    "jdbc_",
)


def test_no_cartesian_products_registry_wide(spark, sf_smoke):
    offenders = []
    for name, spec in REGISTRY.items():
        if name.startswith(_LINT_SKIP_PREFIXES):
            continue
        plan = spec.fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_ds_exists_plans_semi_and_anti(spark, sf_smoke):
    _, plan = _executed_plan(spark, "ds_exists_not_exists", sf_smoke)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_ds_correlated_subquery_decorrelates(spark, sf_smoke):
    # Catalyst must rewrite the two correlated scalar subqueries into
    # aggregate+join (no per-row subquery execution node).
    _, plan = _executed_plan(spark, "ds_correlated_scalar_subquery", sf_smoke)
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_hyperplane_lsh_probe_is_equi_join(spark, sf_smoke):
    # bucket assignment must be a scan-side projection and the probe a
    # hash-joinable equi-join on the bucket id — never all-pairs
    _, plan = _executed_plan(spark, "similarity_hyperplane_lsh_topk", sf_smoke)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curation_pipeline_single_scan(spark, sf_smoke):
    import re

    # langid+quality+token+hash stages are projections over ONE scan;
    # only the dedup window and final agg shuffle
    _, plan = _executed_plan(spark, "curation_pipeline", sf_smoke)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_hll_shuffles_registers_not_rows(spark, sf_smoke):
    # the HLL sketch's exchange carries (group, bucket, max-rho)
    # register rows — partial aggregation must sit below the shuffle
    from flink_release_1_16_0_spark.catalog import load_table
    from flink_release_1_16_0_spark.operators.hll import hll_count_distinct

    df = hll_count_distinct(
        load_table(spark, sf_smoke, "lineitem"), ["l_returnflag"], "l_partkey", "a"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    first_exchange = plan.find("Exchange")
    first_agg = plan.find("HashAggregate")
    assert first_exchange != -1 and first_agg != -1
    # toString prints top-down: the final agg appears before the
    # exchange, and a partial HashAggregate must appear after (below) it
    assert "HashAggregate" in plan[first_exchange:]


def test_salted_join_spreads_hot_key_and_preserves_semantics(spark):
    from flink_release_1_16_0_spark.operators.skew import salted_join
    import pyspark.sql.functions as F

    # one pathologically hot key (90% of rows) + a long tail
    left = spark.createDataFrame(
        [(1 if i < 900 else i, i) for i in range(1000)], "k long, row_id long"
    )
    right = spark.createDataFrame([(i, f"v{i}") for i in range(200)], "k long, v string")
    salted = salted_join(left, right, on="k", salt_by="row_id", factor=8)
    plain = left.join(right, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # the exchange must hash on (k, salt): the hot key's rows really
    # spread over multiple salt partitions
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan
    n_salts = (
        left.withColumn("__salt", F.pmod(F.hash("row_id"), F.lit(8)))
        .filter(F.col("k") == 1)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_chunking_is_shuffle_free(spark, sf_smoke):
    # context-window chunking must stay a per-row generate pipeline:
    # no Exchange anywhere (1->N explode runs inside the scan stage)
    plan = (
        REGISTRY["curation_chunking"]
        .fn(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_tfidf_scalar_join_is_broadcast(spark, sf_smoke):
    # the corpus-count scalar must ride a broadcast, never a shuffle
    # of the corpus side
    plan = (
        REGISTRY["text_tfidf_top_terms"]
        .fn(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar distribution


# ---------------------------------------------------------------------------
# streaming stateful shuffle layout: each applyInPandasWithState
# operator must shuffle EXACTLY once, hash-partitioned on exactly its
# grouping key — that exchange IS the state-store sharding at scale
# (Flink's keyBy before every keyed operator). An extra exchange or a
# wider key would re-shard state on every trigger at 100x.
# ---------------------------------------------------------------------------


def _streaming_plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _assert_single_keyed_exchange(plan: str, key: str):
    import re as _re

    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, f"expected 1 exchange, plan has {len(exchanges)}"
    cols = [c.split("#")[0].strip() for c in exchanges[0].split(",")[:-1]]
    assert cols == [key], f"exchange hashes {cols}, want [{key}]"
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan


def _assert_key_group_exchange(plan: str, keys: list[str]):
    """A key-grouped operator (streaming/key_groups.py) shuffles once,
    on the key group, and its group hashes exactly the user keys."""
    import re as _re

    from flink_release_1_16_0_spark.streaming.key_groups import GROUP_COL

    _assert_single_keyed_exchange(plan, GROUP_COL)
    hashes = set(_re.findall(rf"pmod\(xxhash64\(([^)]*)\), \d+\) AS {GROUP_COL}", plan))
    assert len(hashes) == 1, f"expected 1 key group expression, plan has {hashes}"
    cols = [c.split("#")[0].strip() for c in hashes.pop().split(",")[:-1]]  # last: the seed
    assert cols == keys, f"key group hashes {cols}, want {keys}"


def test_streaming_retracting_agg_shuffle_layout(spark, sf_smoke):
    from pyspark.sql import functions as F

    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )
    from tools.fuzz_changelog import COUNT_SUM

    ev = replay_stream(spark, sf_smoke, "events")
    out = streaming_retracting_multi_agg(
        ev.select("user_id", F.col("value").alias("v")), ["user_id"], COUNT_SUM
    )
    plan = _streaming_plan(spark, out)
    _assert_single_keyed_exchange(plan, "user_id")
    assert "FlatMapGroupsInPandasWithState" in plan


def test_streaming_topn_shuffle_layout(spark, sf_smoke):
    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.stateful import streaming_topn

    ev = replay_stream(spark, sf_smoke, "events")
    out = streaming_topn(
        ev.select("event_type", "event_id", "value"),
        keys=["event_type"],
        order_col="value",
        n=3,
    )
    plan = _streaming_plan(spark, out)
    _assert_key_group_exchange(plan, ["event_type"])


def test_streaming_dedup_keep_last_shuffle_layout(spark, sf_smoke):
    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_dedup_keep_last,
    )

    ev = replay_stream(spark, sf_smoke, "events")
    out = streaming_dedup_keep_last(
        ev.select("user_id", "event_id", "ts"),
        keys=["user_id"],
        order_col="event_id",
    )
    plan = _streaming_plan(spark, out)
    _assert_key_group_exchange(plan, ["user_id"])


def test_streaming_anti_join_shuffle_layout(spark, sf_smoke):
    """The tag+union anti-join shuffles ONCE on the join key — the
    union itself must not add an exchange."""
    import pyspark.sql.functions as F

    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.stateful import streaming_anti_join

    base = replay_stream(spark, sf_smoke, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).withWatermark("ts", "10 minutes")
    out = streaming_anti_join(
        base.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        ),
        base.filter(F.col("event_type") == "click").select("user_id", "ts"),
        keys=["user_id"],
        l_ts_col="ts",
        r_ts_col="ts",
        lower_ms=-600_000,
        upper_ms=0,
    )
    plan = _streaming_plan(spark, out)
    _assert_single_keyed_exchange(plan, "user_id")


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """The reference's dynamic-filtering operator family
    (RT/dynamicfiltering/DynamicFilteringDataCollectorOperator.java,
    DynamicPartitionPruningRule) is Spark-native DPP — pin that a
    selective dim filter actually injects a dynamicpruning subquery
    into the partitioned fact scan, rather than merely claiming the
    ability exists."""
    d = str(tmp_path)
    spark.range(0, 50000).selectExpr(
        "id", "id % 20 AS part_key"
    ).write.partitionBy("part_key").mode("overwrite").parquet(d + "/fact")
    spark.range(0, 20).selectExpr(
        "id AS dim_key", "CASE WHEN id = 3 THEN 'pick' ELSE 'other' END AS tag"
    ).write.mode("overwrite").parquet(d + "/dim")
    f = spark.read.parquet(d + "/fact")
    dm = spark.read.parquet(d + "/dim")
    q = f.join(dm, f.part_key == dm.dim_key).filter("tag = 'pick'")
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower()
    assert q.count() == 2500  # and the result is right: one of 20 parts


def test_legacy_group_window_partial_agg(spark, sf_smoke):
    """The legacy GROUP BY TUMBLE rewrite must land on the native
    window-agg plan: one scan, partial agg below a single exchange."""
    import re as _re

    _, plan = _executed_plan(spark, "api_sql_legacy_group_window", sf_smoke)
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_cdc_encode_stays_catalyst(spark, sf_smoke):
    """The changelog encoders are pure to_json projections — no Python
    UDF may appear in the plan (map-side at any scale)."""
    _, plan = _executed_plan(spark, "format_debezium_encode", sf_smoke)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_streaming_cep_shuffle_layout(spark, sf_smoke):
    """Both streaming CEP tiers (regex and NFA) shuffle exactly once on
    the partition key — the keyed-state sharding contract."""
    import pyspark.sql.functions as F

    from flink_release_1_16_0_spark.operators.cep import classify
    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
        streaming_cep_within,
    )

    base = replay_stream(spark, sf_smoke, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).withWatermark("ts", "10 minutes")
    regex_tier = streaming_cep_within(
        base.withColumn(
            "__s",
            classify(
                {
                    "c": F.col("event_type") == "click",
                    "p": F.col("event_type") == "purchase",
                }
            ),
        ),
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        sym_col="__s",
        pattern="c+p",
        within_ms=3_600_000,
    )
    _assert_single_keyed_exchange(_streaming_plan(spark, regex_tier), "user_id")
    nfa_tier = streaming_cep_nfa_within(
        base,
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines={
            "A": lambda r, c: r["event_type"] == "click",
            "B": lambda r, c: r["event_type"] == "purchase",
        },
        measures={"n": ("A", "count", "__id", "bigint")},
        within_ms=3_600_000,
        value_cols=["event_type"],
    )
    _assert_single_keyed_exchange(_streaming_plan(spark, nfa_tier), "user_id")


def test_hive_dialect_parquet_scan_pushdown(spark, sf_smoke, tmp_path):
    """A table created through the Hive dialect is a first-class DSv2
    parquet scan: filters push down and columns prune exactly like a
    default-dialect table (the dialect translates DDL, it does not
    introduce a slower scan path)."""
    from pyspark.sql import functions as F

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    tenv = TableEnvironment.create(spark)
    tenv.execute_sql("SET 'table.sql-dialect'='hive'")
    tenv.execute_sql(
        f"""CREATE EXTERNAL TABLE hvp_orders (
          `o_orderkey` BIGINT, `o_custkey` BIGINT, `o_orderstatus` STRING,
          `o_totalprice` DOUBLE, `o_orderdate` TIMESTAMP,
          `o_orderpriority` STRING, `o_clerk` STRING, `o_shippriority` INT,
          `o_comment` STRING
        ) STORED AS PARQUET LOCATION '{sf_smoke}/orders.parquet'"""
    )
    df = tenv.sql_query(
        "SELECT o_orderkey, o_totalprice FROM hvp_orders WHERE o_totalprice > 1000"
    ).to_data_frame()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "GreaterThan(o_totalprice" in plan  # pushdown reached the scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_comment" not in read_schema  # pruning
    assert "o_totalprice" in read_schema


def test_table_row_ops_single_exchange(spark, sf_smoke):
    """Table.map/flatMap must lower shuffle-free (MapInPandas on the
    scan); GroupedTable.aggregate contributes the plan's ONLY exchange
    (the group-amortized lowering), with the scan pruned to the two
    consumed columns."""
    df = REGISTRY["api_table_row_ops"].fn(spark, sf_smoke)
    # executedPlan string lists each node once (formatted mode would
    # double-count: tree line + detail section)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("MapInPandas") == 3
    assert "ReadSchema: struct<o_totalprice:double,o_orderpriority:string>" in plan


def test_window_udaf_single_exchange(spark, sf_smoke):
    """The fluent windowed UDAF assigns window bounds natively BEFORE
    its single keyed exchange, and the intermediate window struct never
    rides the shuffle (projected away in the assignment select)."""
    df = REGISTRY["api_table_window_udaf"].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan
    assert "__gw_" not in plan.split("Exchange")[0]  # struct not above the exchange


def test_all_pairs_streamed_side_is_repartitioned(spark, sf_smoke):
    """Regression pin for the round-10 sf1 finding: the all-pairs theta
    joins plan as broadcast nested-loops whose parallelism is the
    STREAMED side's partition count — without an exchange on that side
    a single-file slice serializes the whole O(n^2/2) pair space in one
    task (>1 h at sf1). The executed plan must carry a hash repartition
    feeding the nested loop (the AQE-formatted summary elides it)."""
    for name in ("dedup_ngram_jaccard", "dedup_embedding_cosine"):
        df = REGISTRY[name].fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "Exchange hashpartitioning" in plan, name


def test_streaming_window_state_keys_exclude_window(spark, sf_smoke):
    """Regression pin for the per-(key, window) state-layout fix: the
    streaming window aggregate must group its stateful operator by the
    USER key only, and the windowed dedup must hash its key group over
    the user key only (windows live inside the per-key state value) —
    re-introducing the window bucket into the
    grouping key restores the ~1M-tiny-groups per-group constant the
    sf1 study measured at 235 s / 132 s. Pinned on the UNSTARTED
    streaming plans (the registry entries execute to completion)."""
    import re

    from pyspark.sql import functions as F

    from flink_release_1_16_0_spark.datastream import (
        StreamExecutionEnvironment,
        TumblingEventTimeWindows,
    )
    from flink_release_1_16_0_spark.queries.datastream_api import (
        _EVENT_TIME,
        _HourlyValueAgg,
    )
    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_window_dedup,
    )

    def state_keys(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        m = re.search(r"FlatMapGroupsInPandasWithState [^\[]*\[([^\]]*)\]", plan)
        assert m, f"no stateful operator in plan\n{plan[:1500]}"
        return m.group(1)

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    s = env.from_data_frame(
        replay_stream(spark, sf_smoke, "events")
    ).assign_timestamps_and_watermarks(_EVENT_TIME)
    agg = (
        s.key_by("user_id")
        .window(TumblingEventTimeWindows.of("1 hour"))
        .aggregate(
            _HourlyValueAgg(),
            "user_id BIGINT, win_start BIGINT, n BIGINT, total DOUBLE",
        )
    )
    keys = state_keys(agg.to_data_frame())
    assert "win" not in keys, f"window col in aggregate state key: {keys}"

    ev = replay_stream(spark, sf_smoke, "events").select(
        F.window("ts", "1 hour").getField("start").alias("win_start"),
        "user_id",
        "event_id",
        "ts",
    )
    ded = streaming_window_dedup(
        ev, window_col="win_start", keys=["user_id"],
        order_col=["ts", "event_id"], keep="first",
    )
    _assert_key_group_exchange(_streaming_plan(spark, ded), ["user_id"])


def test_streaming_changelog_outer_join_shuffle_layout(spark, sf_smoke):
    """The outer changelog join keeps the single-keyed-exchange shape:
    the union adds no shuffle beyond the one group-by exchange on the
    join key (the reference's keyBy before StreamingJoinOperator)."""
    from flink_release_1_16_0_spark.queries.changelog_queries import (
        _customer_join_log,
        _orders_join_log,
    )
    from flink_release_1_16_0_spark.streaming.core import replay_stream
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_join,
        streaming_changelog_semi_anti_join,
    )

    llog = _orders_join_log(replay_stream(spark, sf_smoke, "orders"))
    rlog = _customer_join_log(replay_stream(spark, sf_smoke, "customer"))
    out = streaming_changelog_join(llog, rlog, keys=["custkey"], join_type="left")
    plan = _streaming_plan(spark, out)
    _assert_single_keyed_exchange(plan, "custkey")
    assert "FlatMapGroupsInPandasWithState" in plan

    semi = streaming_changelog_semi_anti_join(
        llog, rlog, keys=["custkey"], anti=True
    )
    plan = _streaming_plan(spark, semi)
    _assert_single_keyed_exchange(plan, "custkey")
