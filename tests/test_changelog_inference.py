"""Changelog-mode inference pass (plans/changelog_inference.py) —
the Python analog of the reference's golden-plan tests for
FlinkChangelogModeInferenceProgram: assert which encoding operators the
pass injects per topology, which plans it rejects, and that the lowered
plans compute latest-version-per-key ground truth.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.plans import changelog_inference as P
from flink_release_1_16_0_spark.streaming import changelog as C

# a tiny upsert log: key 1 updated once, key 2 inserted then deleted,
# key 3 plain insert
_UPSERT_ROWS = [
    ("+I", 1, 0, 1, "a", 10.0),
    ("+U", 2, 0, 1, "a", 15.0),
    ("+I", 1, 0, 2, "b", 20.0),
    ("-D", 3, 0, 2, "b", 20.0),
    ("+I", 1, 0, 3, "b", 30.0),
]
_COLS = [C.ROWKIND, "ts", "seq", "k", "grp", "val"]


def _upsert_df(spark):
    return spark.createDataFrame(_UPSERT_ROWS, _COLS)


def _upsert_source(spark, mode="upsert"):
    return P.Source(
        df=_upsert_df(spark), mode=mode, key=("k",), ts_col="ts", seq_col="seq"
    )


# --------------------------------------------------------------------------
# upsert_to_retract operator
# --------------------------------------------------------------------------


def test_upsert_to_retract_emits_exact_pairs(spark):
    out = C.upsert_to_retract(_upsert_df(spark), ["k"], "ts", "seq")
    rows = sorted(
        (r[C.ROWKIND], r["k"], r["ts"], r["seq"], r["val"])
        for r in out.collect()
    )
    assert rows == sorted(
        [
            ("+I", 1, 1, 1, 10.0),   # first version of key 1
            ("-U", 1, 2, 0, 10.0),   # retraction of it, from "state"
            ("+U", 1, 2, 1, 15.0),   # new version
            ("+I", 2, 1, 1, 20.0),
            ("-D", 2, 3, 1, 20.0),   # delete carries the prior payload
            ("+I", 3, 1, 1, 30.0),
        ]
    )
    # net state collapses to the live versions only
    net = C.net_multiplicity(out.drop("ts", "seq")).collect()
    assert sorted((r["k"], r["val"], r["__m"]) for r in net) == [
        (1, 15.0, 1),
        (3, 30.0, 1),
    ]


# --------------------------------------------------------------------------
# inference: injected operators per topology
# --------------------------------------------------------------------------


def test_upsert_source_into_agg_plans_normalize(spark):
    agg = P.GroupAgg(
        input=_upsert_source(spark),
        keys=("grp",),
        sum_cols={"total": F.col("val").cast("decimal(38,1)")},
    )
    plan = P.infer(P.Sink(input=agg, mode="retract"))
    assert isinstance(plan.input.input, P.UpsertToRetract)
    assert plan.input.input.update_kind == P.BEFORE_AND_AFTER
    # and the lowered plan aggregates current state, not raw upserts
    got = {
        (r["grp"], r["n"], float(r["total"]))
        for r in P.execute(plan).collect()
    }
    assert got == {("a", 1, 15.0), ("b", 1, 30.0)}


def test_retract_source_into_upsert_sink_plans_drop_update_before(spark):
    src = P.Source(
        df=C.upsert_to_retract(_upsert_df(spark), ["k"], "ts", "seq"),
        mode="retract",
        key=("k",),
        ts_col="ts",
        seq_col="seq",
    )
    calc = P.Calc(input=src, project=("k", "grp", "val"))
    plan = P.infer(P.Sink(input=calc, mode="upsert", key=("k",)))
    assert isinstance(plan.input.input, P.DropUpdateBefore)
    assert plan.update_kind == P.ONLY_UPDATE_AFTER
    got = {(r["k"], r["val"]) for r in P.execute(plan).collect()}
    assert got == {(1, 15.0), (3, 30.0)}


def test_insert_only_pipeline_stays_clean(spark):
    src = P.Source(df=spark.range(5).withColumnRenamed("id", "k"))
    calc = P.Calc(input=src, predicate=F.col("k") > 1)
    plan = P.infer(P.Sink(input=calc, mode="append"))
    # no encoding operators injected anywhere
    assert isinstance(plan.input, P.Calc)
    assert isinstance(plan.input.input, P.Source)
    assert plan.produces == frozenset({P.INSERT})
    assert plan.update_kind == P.NONE
    assert P.execute(plan).count() == 3


def test_key_dropping_projection_forces_before_and_after(spark):
    src = P.Source(
        df=C.upsert_to_retract(_upsert_df(spark), ["k"], "ts", "seq"),
        mode="retract",
        key=("k",),
        ts_col="ts",
        seq_col="seq",
    )
    # projection drops the key column -> bare +U could not be matched
    # to the row it replaces, so no DropUpdateBefore may be planned
    calc = P.Calc(input=src, project=("grp", "val"))
    agg = P.GroupAgg(
        input=calc,
        keys=("grp",),
        sum_cols={"total": F.col("val").cast("decimal(38,1)")},
    )
    plan = P.infer(P.Sink(input=agg, mode="retract"))
    assert isinstance(plan.input.input, P.Calc)
    assert isinstance(plan.input.input.input, P.Source)  # no wrapper
    assert plan.input.input.update_kind == P.BEFORE_AND_AFTER


# --------------------------------------------------------------------------
# rejected plans (the reference's ValidationException cases)
# --------------------------------------------------------------------------


def test_append_sink_rejects_updating_input(spark):
    agg = P.GroupAgg(
        input=P.Source(df=spark.range(3).withColumnRenamed("id", "k")),
        keys=("k",),
    )
    with pytest.raises(P.PlanError, match="append sink"):
        P.infer(P.Sink(input=agg, mode="append"))


def test_upsert_sink_key_mismatch_needs_materializer(spark):
    src = _upsert_source(spark)
    with pytest.raises(P.PlanError, match="SinkUpsertMaterializer"):
        P.infer(P.Sink(input=src, mode="upsert", key=("grp",)))


def test_upsert_sink_requires_key(spark):
    src = _upsert_source(spark)
    with pytest.raises(P.PlanError, match="primary key"):
        P.infer(P.Sink(input=src, mode="upsert"))


# --------------------------------------------------------------------------
# EXPLAIN CHANGELOG_MODE (ExplainDetail.CHANGELOG_MODE) — SQL wiring
# --------------------------------------------------------------------------


@pytest.fixture()
def tenv(spark):
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    return TableEnvironment.create(spark)


def _plan_text(tenv, sql):
    [row] = tenv.execute_sql(sql).collect()
    return row["plan"]


def test_explain_changelog_mode_agg_to_sink(tenv, spark, tmp_path):
    """Insert-only scan -> group agg -> retract collect sink renders
    [I] at the scan and [I,UB,UA] at the agg (no D: groups on an
    append-only input never vanish, GroupAggFunction.java:155-166)."""
    src = str(tmp_path / "cm_src")
    spark.range(5).selectExpr("id AS k", "id % 2 AS grp").write.parquet(src)
    tenv.execute_sql(
        f"""CREATE TABLE cm_t (k BIGINT, grp BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    plan = _plan_text(
        tenv, "EXPLAIN CHANGELOG_MODE SELECT grp, COUNT(*) FROM cm_t GROUP BY grp"
    )
    assert "TableSourceScan(table=[cm_t], mode=[insert_only], changelogMode=[I])" in plan
    assert "GroupAggregate(groupBy=[grp], changelogMode=[I,UB,UA])" in plan
    assert plan.startswith("Sink(mode=[retract], changelogMode=[I,UB,UA])")


def test_explain_changelog_mode_upsert_join(tenv, spark, tmp_path):
    """Upsert source joined to an insert-only table: the planner
    injects ChangelogNormalize in front of the join (the join needs
    BEFORE_AND_AFTER), the upsert scan itself stays [I,UA,D]."""
    src = str(tmp_path / "cm_ups")
    spark.createDataFrame(
        [(1, "a", 10)], "k INT, v STRING, ver INT"
    ).write.parquet(src)
    dim = str(tmp_path / "cm_dim")
    spark.createDataFrame([(1, "x")], "k INT, d STRING").write.parquet(dim)
    tenv.execute_sql(
        f"""CREATE TABLE cm_ups (
          k INT, v STRING, ver INT, PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('connector'='filesystem','path'='{src}','format'='parquet',
                'changelog-mode'='upsert','upsert.order-column'='ver')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE cm_dim (k INT, d STRING)
        WITH ('connector'='filesystem','path'='{dim}','format'='parquet')"""
    )
    plan = _plan_text(
        tenv,
        "EXPLAIN CHANGELOG_MODE SELECT v, d FROM cm_ups JOIN cm_dim ON k = k",
    )
    assert "Join(joinType=[inner], on=[k], changelogMode=[I,UB,UA,D])" in plan
    assert "ChangelogNormalize(key=[k], changelogMode=[I,UB,UA,D])" in plan
    assert (
        "TableSourceScan(table=[cm_ups], mode=[upsert], changelogMode=[I,UA,D])"
        in plan
    )
    assert "TableSourceScan(table=[cm_dim], mode=[insert_only], changelogMode=[I])" in plan


def test_explain_changelog_mode_insert_into_upsert_sink(tenv, spark, tmp_path):
    """INSERT INTO a PRIMARY KEY target: agg output keyed by the group
    column matches the sink key, so the encoding relaxes to
    ONLY_UPDATE_AFTER — UB disappears from the sink edge (the
    DropUpdateBefore decision, UpdateKindTrait.scala:65)."""
    src = str(tmp_path / "cm_src2")
    spark.range(5).selectExpr("id AS k", "id % 2 AS grp").write.parquet(src)
    out = str(tmp_path / "cm_out")
    tenv.execute_sql(
        f"""CREATE TABLE cm_t2 (k BIGINT, grp BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE cm_tgt (grp BIGINT, n BIGINT,
          PRIMARY KEY (grp) NOT ENFORCED)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    plan = _plan_text(
        tenv,
        "EXPLAIN CHANGELOG_MODE INSERT INTO cm_tgt "
        "SELECT grp, COUNT(*) AS n FROM cm_t2 GROUP BY grp",
    )
    assert plan.startswith("Sink(mode=[upsert], changelogMode=[I,UA])")
    assert "GroupAggregate(groupBy=[grp], changelogMode=[I,UA])" in plan


def test_explain_changelog_mode_cdc_drop_update_before(tenv, spark, tmp_path):
    """Retract (CDC) source into a PRIMARY-KEY sink with a matching
    key: the planner relaxes the edge to ONLY_UPDATE_AFTER by
    injecting DropUpdateBefore (DropUpdateBeforeFunction.java) — UB
    present at the scan, absent above the filter."""
    src = str(tmp_path / "cm_cdc")
    with open(src, "w") as f:
        f.write(
            '{"op":"c","after":{"k":1,"v":"a"},"before":null}\n'
        )
    out = str(tmp_path / "cm_cdc_out")
    tenv.execute_sql(
        f"""CREATE TABLE cm_cdc (
          k INT, v STRING, PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('connector'='filesystem','path'='{src}',
                'format'='debezium-json')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE cm_cdc_tgt (k INT, v STRING,
          PRIMARY KEY (k) NOT ENFORCED)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    [row] = tenv.execute_sql(
        "EXPLAIN CHANGELOG_MODE INSERT INTO cm_cdc_tgt SELECT k, v FROM cm_cdc"
    ).collect()
    plan = row["plan"]
    assert plan.startswith("Sink(mode=[upsert], changelogMode=[I,UA,D])")
    assert "DropUpdateBefore(changelogMode=[I,UA,D])" in plan
    assert (
        "TableSourceScan(table=[cm_cdc], mode=[retract], changelogMode=[I,UB,UA,D])"
        in plan
    )


def test_explain_changelog_mode_join_then_agg(tenv, spark, tmp_path):
    """Combined topology: upsert source -> normalize -> join -> group
    agg -> retract collect sink. The agg's updating input makes it
    fully updating ({I,U,D}) and the whole spine is BEFORE_AND_AFTER."""
    src = str(tmp_path / "cm_ja_ups")
    spark.createDataFrame([(1, "a", 10)], "k INT, v STRING, ver INT").write.parquet(src)
    dim = str(tmp_path / "cm_ja_dim")
    spark.createDataFrame([(1, "x")], "k INT, d STRING").write.parquet(dim)
    tenv.execute_sql(
        f"""CREATE TABLE cm_ja_ups (
          k INT, v STRING, ver INT, PRIMARY KEY (k) NOT ENFORCED
        ) WITH ('connector'='filesystem','path'='{src}','format'='parquet',
                'changelog-mode'='upsert','upsert.order-column'='ver')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE cm_ja_dim (k INT, d STRING)
        WITH ('connector'='filesystem','path'='{dim}','format'='parquet')"""
    )
    [row] = tenv.execute_sql(
        "EXPLAIN CHANGELOG_MODE SELECT d, COUNT(*) FROM cm_ja_ups "
        "JOIN cm_ja_dim ON k = k GROUP BY d"
    ).collect()
    plan = row["plan"]
    assert plan.startswith("Sink(mode=[retract], changelogMode=[I,UB,UA,D])")
    assert "GroupAggregate(groupBy=[d], changelogMode=[I,UB,UA,D])" in plan
    assert "Join(joinType=[inner], on=[k], changelogMode=[I,UB,UA,D])" in plan
    assert "ChangelogNormalize(key=[k], changelogMode=[I,UB,UA,D])" in plan
