"""Sink-side coverage: constraint enforcement, upsert materialization,
partitioned file writes, side outputs (SURVEY.md sections 2.1, 2.9)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators.sink import (
    enforce_constraints,
    upsert_materialize_to_path,
)
from flink_release_1_16_0_spark.streaming import changelog as C


def test_not_null_error_policy(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id bigint, s string")
    out = enforce_constraints(df, not_null=["s"], on_null="error")
    with pytest.raises(Exception, match="NOT NULL constraint violated on column s"):
        out.collect()


def test_not_null_drop_policy(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "id bigint, s string")
    got = enforce_constraints(df, not_null=["s"], on_null="drop").collect()
    assert [r["id"] for r in got] == [1]


def test_char_length_trim(spark):
    df = spark.createDataFrame([(1, "abcdefgh")], "id bigint, s string")
    got = enforce_constraints(df, char_limits={"s": 3}).first()
    assert got["s"] == "abc"


def test_upsert_materializer_roundtrip(spark, tmp_path):
    rows = [
        ("+I", dt.datetime(2024, 1, 1), 0, 1, "v1"),
        ("+U", dt.datetime(2024, 1, 2), 1, 1, "v2"),
        ("+I", dt.datetime(2024, 1, 1), 0, 2, "x"),
        ("-D", dt.datetime(2024, 1, 3), 1, 2, "x"),
    ]
    log = spark.createDataFrame(
        rows, f"{C.ROWKIND} string, ts timestamp, seq int, k bigint, v string"
    )
    path = str(tmp_path / "upsert_target")
    upsert_materialize_to_path(log, keys=["k"], ts_col="ts", seq_col="seq", path=path)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "v2"}  # key 2 deleted, key 1 at latest version


def test_partitioned_write_prunes(spark, sf_smoke, tmp_path):
    """FileSystemTableSink partitioned write + partition pruning on read
    (the reference's filesystem connector semantics)."""
    from flink_release_1_16_0_spark.catalog import load_table

    ev = load_table(spark, sf_smoke, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "part_events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)

    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    want = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == want
    # partition pruning visible in the plan: no event_type filter remains
    # in the data filters, only partition filters
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_side_outputs_split(spark, sf_smoke, tmp_path):
    """Side outputs (OutputTag) = one pass writing two sinks via
    foreachBatch; here the batch analog: filter-split two writes."""
    from flink_release_1_16_0_spark.catalog import load_table

    ev = load_table(spark, sf_smoke, "events")
    main = str(tmp_path / "main")
    side = str(tmp_path / "side")
    ev.filter(F.col("event_type") != "error").write.mode("overwrite").parquet(main)
    ev.filter(F.col("event_type") == "error").write.mode("overwrite").parquet(side)
    n_main = spark.read.parquet(main).count()
    n_side = spark.read.parquet(side).count()
    assert n_main + n_side == ev.count()
    assert n_side > 0


def test_streaming_file_sink_partitioned(spark, sf_smoke, tmp_path):
    """FileSystemTableSink streaming equivalent: drain a bounded stream
    into a partitioned parquet directory (exactly-once via the sink's
    commit log) and read it back consistently."""
    import os

    from flink_release_1_16_0_spark.streaming.core import replay_stream

    out_dir = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")
    ev = replay_stream(spark, sf_smoke, "events").select(
        "event_id", "event_type", "value"
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_type")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    back = spark.read.parquet(out_dir)
    want = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert back.count() == want
    # partitioned layout on disk (directory-prunable at scale)
    assert any(d.startswith("event_type=") for d in os.listdir(out_dir))
    # the sink's transaction log makes the directory safely re-readable
    assert back.filter(F.col("event_type") == "click").count() > 0


def test_compaction_rewrites_small_files(spark, tmp_path):
    from flink_release_1_16_0_spark.sources import compact_files

    out = str(tmp_path / "many")
    # 32 small files (one per partition)
    spark.range(10000).repartition(32).write.parquet(out)
    import os

    def data_files(p):
        return [
            f
            for root, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]

    assert len(data_files(out)) == 32
    n = compact_files(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert n < 32
    assert len(data_files(out)) == n
    # contents survive the rewrite
    assert spark.read.parquet(out).count() == 10000
    assert spark.read.parquet(out).agg({"id": "sum"}).first()[0] == 10000 * 9999 // 2


def test_orc_roundtrip_ddl(spark, tmp_path):
    """ORC write/read through the DDL filesystem connector (the one
    format in the matrix that previously had no roundtrip test). Spark's
    native orc DataSource handles both directions; this pins the DDL
    wiring and the value fidelity incl. timestamps and nulls."""
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    d = tmp_path / "orc_tbl"
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""
        CREATE TABLE orc_sink (
          k BIGINT, name STRING, score DOUBLE, ts TIMESTAMP_LTZ(3)
        ) WITH ('connector' = 'filesystem', 'path' = '{d}',
                'format' = 'orc')
        """
    )
    spark.range(0, 100).selectExpr(
        "id",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('n-', id) END AS name",
        "CAST(id AS DOUBLE) / 3 AS score",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts",
    ).createOrReplaceTempView("orc_src")
    tenv.execute_sql("INSERT INTO orc_sink SELECT * FROM orc_src")
    got = tenv.sql_query("SELECT * FROM orc_sink").to_data_frame()
    want = spark.table("orc_src")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the files on disk really are ORC
    import os

    assert any(f.endswith(".orc") for f in os.listdir(d))


# ---------------------------------------------------------------------------
# upsert-kafka record composition: tombstones x all three value formats
# (DynamicKafkaRecordSerializationSchema semantics, transport mocked)
# ---------------------------------------------------------------------------


import pytest as _pytest


@_pytest.mark.parametrize("fmt", ["json", "csv", "avro", "protobuf"])
def test_upsert_kafka_tombstone_roundtrip(spark, fmt):
    from flink_release_1_16_0_spark.sources.upsert_kafka import (
        changelog_to_upsert_kafka,
        upsert_kafka_to_changelog,
    )
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
    from pyspark.sql.types import StructType

    log = spark.createDataFrame(
        [
            ("+I", 1, "a", 10.0),
            ("-U", 1, "a", 10.0),   # dropped: sinks get ONLY_UPDATE_AFTER
            ("+U", 1, "a2", 20.0),
            ("+I", 2, "b", 15.0),
            ("-D", 2, "b", 15.0),   # tombstone
        ],
        f"{ROWKIND} string, k long, v string, x double",
    )
    wire = changelog_to_upsert_kafka(log, key_cols=["k"], fmt=fmt)
    rows = wire.collect()
    assert wire.columns == ["key", "value"]
    assert len(rows) == 4                       # -U dropped
    tombs = [r for r in rows if r["value"] is None]
    assert len(tombs) == 1 and tombs[0]["key"] is not None

    back = upsert_kafka_to_changelog(
        wire,
        key_schema=StructType.fromDDL("k long"),
        value_schema=StructType.fromDDL("k long, v string, x double"),
        fmt=fmt,
    )
    got = sorted(
        (r[ROWKIND], r["k"], r["v"], r["x"]) for r in back.collect()
    )
    assert got == [
        ("+U", 1, "a", 10.0),
        ("+U", 1, "a2", 20.0),
        ("+U", 2, "b", 15.0),
        ("-D", 2, None, None),
    ]


def test_partition_commit_success_file(spark, tmp_path):
    """sink.partition-commit.policy.kind='success-file'
    (SuccessFileCommitPolicy.java:33): committed partition directories
    get the marker, batch and streaming (end-of-input commit), with a
    configurable name; unpartitioned sinks mark the root."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "pc_src")
    spark.range(0, 20).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)

    # batch INSERT, partitioned
    tenv = TableEnvironment.create(spark)
    out_b = str(tmp_path / "pc_batch")
    tenv.execute_sql(
        f"""CREATE TABLE pc_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE pc_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out_b}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    tenv.execute_sql("INSERT INTO pc_snk SELECT k, p FROM pc_src")
    assert os.path.exists(f"{out_b}/p=0/_SUCCESS")
    assert os.path.exists(f"{out_b}/p=1/_SUCCESS")

    # streaming INSERT, custom marker name, unpartitioned root marker
    stenv = TableEnvironment.create(spark, streaming=True)
    out_s = str(tmp_path / "pc_stream")
    stenv.execute_sql(
        f"""CREATE TABLE pc_src_s (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    stenv.execute_sql(
        f"""CREATE TABLE pc_snk_s (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out_s}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file',
              'sink.partition-commit.success-file.name'='_DONE')"""
    )
    stenv.execute_sql("INSERT INTO pc_snk_s SELECT k, p FROM pc_src_s WHERE p = 1")
    assert os.path.exists(f"{out_s}/p=1/_DONE")
    assert not os.path.exists(f"{out_s}/p=0/_DONE")  # untouched partition

    out_u = str(tmp_path / "pc_unpart")
    tenv.execute_sql(
        f"""CREATE TABLE pc_snk_u (k BIGINT)
        WITH ('connector'='filesystem','path'='{out_u}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    tenv.execute_sql("INSERT INTO pc_snk_u SELECT k FROM pc_src")
    assert os.path.exists(f"{out_u}/_SUCCESS")


def test_partition_commit_derived_from_written_files(spark, tmp_path):
    """The commit set comes from the files the CURRENT write produced
    (FileSystemCommitter derives partitions from the writer's files) —
    NOT from re-executing the insert query, and NOT from pre-existing
    partition directories: a second INSERT touching only p=1 must not
    re-mark p=0 from an earlier insert."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "pcd_src")
    spark.range(0, 20).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "pcd_out")

    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE pcd_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    # first insert: NO commit policy -> partitions exist, no markers
    tenv.execute_sql(
        f"""CREATE TABLE pcd_snk0 (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet')"""
    )
    tenv.execute_sql("INSERT INTO pcd_snk0 SELECT k, p FROM pcd_src WHERE p = 0")
    assert os.path.isdir(f"{out}/p=0") and not os.path.exists(f"{out}/p=0/_SUCCESS")

    # second insert into the SAME path with the policy, touching only p=1
    tenv.execute_sql(
        f"""CREATE TABLE pcd_snk1 (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    tenv.execute_sql("INSERT INTO pcd_snk1 SELECT k, p FROM pcd_src WHERE p = 1")
    assert os.path.exists(f"{out}/p=1/_SUCCESS")
    # the pre-existing, untouched partition is NOT committed
    assert not os.path.exists(f"{out}/p=0/_SUCCESS")


def test_partition_commit_ignores_concurrent_writer(spark, tmp_path):
    """A concurrent writer dropping files into the same sink path while
    the job runs must NOT be co-committed: the commit set comes from the
    job's own staging-dir manifest (PartitionTempFileManager /
    FileSystemCommitter), not from scanning the sink path by mtime."""
    import os

    from flink_release_1_16_0_spark import table_env as TE
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "pcc_src")
    spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "pcc_out")

    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE pcc_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE pcc_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )

    # the "concurrent writer": lands a fresh foreign partition while the
    # job's commit runs — patched into _commit_partitions' entry so its
    # mtime falls squarely inside the write window
    orig = TE.CatalogTable._commit_partitions

    def racing_commit(self, rel_paths):
        foreign = os.path.join(out, "p=99")
        os.makedirs(foreign, exist_ok=True)
        with open(os.path.join(foreign, "part-foreign.parquet"), "w") as fh:
            fh.write("x")
        return orig(self, rel_paths)

    TE.CatalogTable._commit_partitions = racing_commit
    try:
        tenv.execute_sql("INSERT INTO pcc_snk SELECT k, p FROM pcc_src")
    finally:
        TE.CatalogTable._commit_partitions = orig
    assert os.path.exists(f"{out}/p=0/_SUCCESS")
    assert os.path.exists(f"{out}/p=1/_SUCCESS")
    # the foreign partition written during the job is NOT committed
    assert os.path.isdir(f"{out}/p=99")
    assert not os.path.exists(f"{out}/p=99/_SUCCESS")


def test_partition_commit_overwrite_replaces_only_written_partitions(spark, tmp_path):
    """INSERT OVERWRITE through the staging path keeps dynamic-overwrite
    semantics: only partitions receiving data are replaced."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "pco_src")
    spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "pco_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE pco_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE pco_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    tenv.execute_sql("INSERT INTO pco_snk SELECT k, p FROM pco_src")
    tenv.execute_sql(
        "INSERT OVERWRITE pco_snk SELECT k + 100, p FROM pco_src WHERE p = 1"
    )
    rows = {
        (r.p, r.k)
        for r in spark.read.parquet(out).collect()
    }
    # p=0 intact (5 original rows), p=1 replaced by the +100 rows
    assert {k for p, k in rows if p == 0} == {0, 2, 4, 6, 8}
    assert {k for p, k in rows if p == 1} == {101, 103, 105, 107, 109}
    assert os.path.exists(f"{out}/p=1/_SUCCESS")


def test_streaming_insert_timeout_raises_and_commits_nothing(spark, tmp_path, monkeypatch):
    """A streaming INSERT whose drain times out raises ``TimeoutError``,
    stops its query and commits no partition: ``awaitTermination``
    returns False on timeout rather than raising. The timeout is
    SPARK_GRAFT_STREAM_TIMEOUT's, as for every other drain."""
    import os

    from pyspark.sql.streaming import DataStreamWriter

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    class Stalled:
        """A query still running when its timeout ends."""

        isActive = True
        waited = None

        def awaitTermination(self, timeout):
            Stalled.waited = timeout
            return False

        def exception(self):
            return None

        def stop(self):
            Stalled.isActive = False

    src = str(tmp_path / "to_src")
    spark.range(0, 4).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "to_out")
    stenv = TableEnvironment.create(spark, streaming=True)
    stenv.execute_sql(
        f"""CREATE TABLE to_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    stenv.execute_sql(
        f"""CREATE TABLE to_snk (k BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT", "7")
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **kw: Stalled())
    with pytest.raises(TimeoutError):
        stenv.execute_sql("INSERT INTO to_snk SELECT k FROM to_src")
    assert Stalled.waited == 7
    assert not Stalled.isActive
    assert not os.path.exists(f"{out}/_SUCCESS")


def test_partition_commit_native_checkpoint_sink_uses_commit_log(spark, tmp_path):
    """With the native file sink (explicit 'checkpoint' option), the
    partition-commit set comes from the _spark_metadata commit-log
    entries THIS execution added — pre-existing partitions from earlier
    executions are not re-committed."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "pcl_src")
    spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "pcl_out")
    ckpt = str(tmp_path / "pcl_ckpt")

    stenv = TableEnvironment.create(spark, streaming=True)
    stenv.execute_sql(
        f"""CREATE TABLE pcl_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    stenv.execute_sql(
        f"""CREATE TABLE pcl_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'checkpoint'='{ckpt}',
              'sink.partition-commit.policy.kind'='success-file')"""
    )
    # a "concurrent writer" lands a foreign partition just before the
    # run: fresh mtimes, but absent from this execution's commit log
    os.makedirs(f"{out}/p=99", exist_ok=True)
    with open(f"{out}/p=99/part-foreign.parquet", "w") as fh:
        fh.write("x")
    stenv.execute_sql("INSERT INTO pcl_snk SELECT k, p FROM pcl_src WHERE p = 1")
    assert os.path.exists(f"{out}/p=1/_SUCCESS")
    assert not os.path.exists(f"{out}/p=0/_SUCCESS")
    # the foreign partition is not in the sink's commit log -> no marker
    assert not os.path.exists(f"{out}/p=99/_SUCCESS")


def test_update_mode_native_checkpoint_sink_rejected(spark, tmp_path):
    """output_mode='update' (early-fire / allowed-lateness emit) with
    the native commit-log file sink (explicit 'checkpoint' option) must
    fail fast with a clear message — Spark's file sinks are
    append-only, and the late AnalysisException it would otherwise
    raise is opaque."""
    import pytest

    from flink_release_1_16_0_spark.table_env import CatalogTable, ColumnSpec

    t = CatalogTable(
        name="upd_ckpt",
        columns=[ColumnSpec("k", "bigint")],
        options={
            "connector": "filesystem",
            "path": str(tmp_path / "upd_out"),
            "format": "parquet",
            "checkpoint": str(tmp_path / "ckpt"),
        },
    )
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("value AS k")
    )
    with pytest.raises(ValueError, match="foreachBatch"):
        t.write(rate, overwrite=False, output_mode="update")


def test_upsert_kafka_source_pipeline_materializes(spark):
    """The full upsert-kafka SOURCE pipeline: framed (key, value)
    records -> value-format decode (-D from tombstones) ->
    ChangelogNormalize -> the table the reference's planner converges
    to (latest version per key; tombstoned keys gone)."""
    from flink_release_1_16_0_spark.sources.upsert_kafka import (
        changelog_to_upsert_kafka,
        upsert_kafka_to_changelog,
    )
    from flink_release_1_16_0_spark.streaming.changelog import (
        ROWKIND,
        changelog_normalize,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    log = spark.createDataFrame(
        [
            ("+I", 1, 1, "a"),
            ("+U", 2, 1, "a2"),   # second version of key 1
            ("+I", 1, 2, "b"),
            ("-D", 2, 2, "b"),    # key 2 tombstoned
            ("+I", 1, 3, "c"),
        ],
        f"{ROWKIND} string, ver int, k int, v string",
    )
    wire = changelog_to_upsert_kafka(log, key_cols=["k"], fmt="avro")
    # kafka preserves per-key order; the bounded stand-in carries an
    # explicit arrival sequence the way offsets would
    wire = wire.withColumn("__off", F.monotonically_increasing_id())
    back = upsert_kafka_to_changelog(
        wire,
        key_schema=StructType.fromDDL("k int"),
        value_schema=StructType.fromDDL("ver int, k int, v string"),
        fmt="avro",
    )
    # normalize by ARRIVAL order (the offset metadata), as the
    # reference's ChangelogNormalize does on the upsert-kafka source
    state = changelog_normalize(
        back.withColumn("__seq", F.lit(0)), ["k"], "__off", "__seq"
    ).drop("__off")
    assert sorted((r["k"], r["v"]) for r in state.collect()) == [
        (1, "a2"),
        (3, "c"),
    ]


def test_manifest_commit_protocol_end_to_end(spark, tmp_path):
    """'sink.commit-protocol'='manifest' (the object-store profile):
    data files publish via an atomic manifest; orphan files from a
    crashed/concurrent writer are INVISIBLE to the scan (the rename
    protocol can only keep the marker away), and OVERWRITE is logical —
    replaced files stay on disk but leave the live set."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "mf_src")
    spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "mf_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mf_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE mf_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    tenv.execute_sql("INSERT INTO mf_snk SELECT k, p FROM mf_src")
    # a crashed writer's orphan: junk bytes in a live partition AND a
    # foreign partition — the manifest scan must list neither
    with open(os.path.join(out, "p=0", "part-orphan.parquet"), "w") as fh:
        fh.write("not parquet")
    os.makedirs(os.path.join(out, "p=99"), exist_ok=True)
    with open(os.path.join(out, "p=99", "part-foreign.parquet"), "w") as fh:
        fh.write("not parquet")
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM mf_snk").to_data_frame().collect()
    }
    assert rows == {(i, i % 2) for i in range(10)}
    # logical overwrite of p=1 only
    tenv.execute_sql(
        "INSERT OVERWRITE mf_snk SELECT k + 100, p FROM mf_src WHERE p = 1"
    )
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM mf_snk").to_data_frame().collect()
    }
    assert rows == {(i, 0) for i in range(0, 10, 2)} | {
        (i + 100, 1) for i in range(1, 10, 2)
    }
    # the overwrite deleted nothing: the old p=1 files are still on disk
    old_files = [
        f
        for f in os.listdir(os.path.join(out, "p=1"))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert len(old_files) > 1  # replaced + replacement generations coexist


def test_manifest_commit_racing_writer_invisible(spark, tmp_path):
    """The racing-writer scenario against the manifest protocol: files
    landing in the sink path during the commit are not published (same
    guarantee as the rename protocol's staging-set commit, but enforced
    at READ time too — the stronger object-store contract)."""
    import os

    from flink_release_1_16_0_spark import table_env as TE
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "mrw_src")
    spark.range(0, 6).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "mrw_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mrw_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE mrw_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    orig = TE.CatalogTable._commit_partitions

    def racing_commit(self, rel_paths):
        foreign = os.path.join(out, "p=0")
        os.makedirs(foreign, exist_ok=True)
        with open(os.path.join(foreign, "part-racer.parquet"), "w") as fh:
            fh.write("x")
        return orig(self, rel_paths)

    TE.CatalogTable._commit_partitions = racing_commit
    try:
        tenv.execute_sql("INSERT INTO mrw_snk SELECT k, p FROM mrw_src")
    finally:
        TE.CatalogTable._commit_partitions = orig
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM mrw_snk").to_data_frame().collect()
    }
    assert rows == {(i, i % 2) for i in range(6)}


def test_manifest_drop_partition_is_logical(spark, tmp_path):
    """DROP PARTITION on a manifest table publishes an overwrite
    manifest with zero files — data files stay on disk (never deleted
    out from under the log), but the partition leaves the live set; a
    later INSERT recreates it."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    src = str(tmp_path / "mdp_src")
    spark.range(0, 6).selectExpr("id AS k", "id % 2 AS p").write.parquet(src)
    out = str(tmp_path / "mdp_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mdp_src (k BIGINT, p BIGINT)
        WITH ('connector'='filesystem','path'='{src}','format'='parquet')"""
    )
    tenv.execute_sql(
        f"""CREATE TABLE mdp_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    tenv.execute_sql("INSERT INTO mdp_snk SELECT k, p FROM mdp_src")
    tenv.execute_sql("ALTER TABLE mdp_snk DROP PARTITION (p=1)")
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM mdp_snk").to_data_frame().collect()
    }
    assert rows == {(0, 0), (2, 0), (4, 0)}
    # logical: the dropped partition's files are still on disk
    assert any(
        f.endswith(".parquet")
        for f in os.listdir(os.path.join(out, "p=1"))
        if not f.startswith((".", "_"))
    )
    tenv.execute_sql("INSERT INTO mdp_snk SELECT 99, 1 FROM range(1)")
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM mdp_snk").to_data_frame().collect()
    }
    assert rows == {(0, 0), (2, 0), (4, 0), (99, 1)}


def test_manifest_seq_claim_is_exclusive(tmp_path, monkeypatch):
    """Two committers that computed the SAME next sequence number (one
    listed the log before the other's publish landed) can no longer
    collide: the O_CREAT|O_EXCL claim makes the loser retry with seq+1,
    so replay order between them is total — the round-8 uuid-suffix
    ambiguity window is closed."""
    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    cp._publish_manifest(base, {"files": {"": ["a.parquet"]}})
    # simulate the stale racer: it listed the log when it was empty
    monkeypatch.setattr(cp, "_max_seq", lambda commits: 0)
    seq = cp._publish_manifest(base, {"files": {"": ["b.parquet"]}})
    assert seq == 2  # claimed 1, lost, retried to 2
    import os

    commits = os.path.join(base, cp._COMMITS_DIR)
    names = sorted(f for f in os.listdir(commits) if f.startswith("manifest-"))
    assert names == ["manifest-" + "0" * 19 + "1.json", "manifest-" + "0" * 19 + "2.json"]
    # neither commit's content was lost
    live = cp._live_map(base)
    assert live[""] == {"a.parquet", "b.parquet"}


def test_manifest_checkpoint_bounds_read_cost(tmp_path, monkeypatch):
    """200 commits: the reader must load the newest checkpoint + at most
    CHECKPOINT_EVERY tail manifests — NOT replay all 200 (the unbounded
    log growth flagged in round 8). The checkpointed live map must equal
    the full naive replay."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    for i in range(200):
        if i % 37 == 0:
            cp._publish_manifest(
                base, {"overwrite": True, "partitions": ["p=0"], "files": {"p=0": [f"ow{i}.parquet"]}}
            )
        else:
            cp._publish_manifest(base, {"files": {f"p={i % 3}": [f"f{i}.parquet"]}})
    commits = os.path.join(base, cp._COMMITS_DIR)
    assert any(f.startswith("checkpoint-") for f in os.listdir(commits))

    # ground truth: naive full replay of every manifest in order
    naive: dict[str, set[str]] = {}
    for fn in sorted(os.listdir(commits)):
        m = cp._MANIFEST_RE.match(fn)
        if m:
            with open(os.path.join(commits, fn)) as fh:
                import json

                cp._replay(naive, json.load(fh))

    # instrument BOTH body readers: tail manifests go through
    # _read_manifest, checkpoints through _read_json
    reads = []
    orig_m, orig_j = cp._read_manifest, cp._read_json
    monkeypatch.setattr(cp, "_read_manifest", lambda p: reads.append(p) or orig_m(p))
    monkeypatch.setattr(cp, "_read_json", lambda p: reads.append(p) or orig_j(p))
    live = cp._live_map(base)
    assert live == naive
    assert len(reads) <= cp.CHECKPOINT_EVERY + 2  # 1 checkpoint + tail

    # explicit compaction folds the tail: next read parses ~1 file
    monkeypatch.setattr(cp, "_read_manifest", orig_m)
    monkeypatch.setattr(cp, "_read_json", orig_j)
    cp.manifest_compact(base)
    reads2 = []
    monkeypatch.setattr(cp, "_read_manifest", lambda p: reads2.append(p) or orig_m(p))
    monkeypatch.setattr(cp, "_read_json", lambda p: reads2.append(p) or orig_j(p))
    assert cp._live_map(base) == naive
    assert len(reads2) <= 2


def test_manifest_checkpoint_never_folds_out_inflight_commit(tmp_path, monkeypatch):
    """The review-reproduced data-loss race: committer A claims seq N
    but its body is not yet durable when committer B's publish triggers
    a checkpoint covering N. The checkpoint must STOP before N (not
    silently exclude it), so when A's write lands, readers still replay
    it."""
    import json
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    commits = os.path.join(base, cp._COMMITS_DIR)
    # 19 clean commits
    for i in range(cp.CHECKPOINT_EVERY - 1):
        cp._publish_manifest(base, {"files": {"": [f"f{i}.parquet"]}})
    # committer A claims seq 20 (the checkpoint trigger) but stalls
    # before its body write (empty fd, not durable)
    slow = os.path.join(commits, f"manifest-{cp.CHECKPOINT_EVERY:020d}.json")
    fd = os.open(slow, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)  # claimed, zero bytes — in-flight
    # committer B publishes; its seq lands at 21; no checkpoint trigger,
    # so force one via compact() covering the in-flight seq 20
    cp._publish_manifest(base, {"files": {"": ["b.parquet"]}})
    cp.manifest_compact(base)
    # any checkpoint written must fold only seqs < 20
    cps = [f for f in os.listdir(commits) if f.startswith("checkpoint-")]
    assert all(int(f.split("-")[1].split(".")[0]) < cp.CHECKPOINT_EVERY for f in cps)
    # A's write finally lands
    with open(slow + ".tmp", "w") as fh:
        json.dump({"files": {"": ["SLOW.parquet"]}}, fh)
    os.replace(slow + ".tmp", slow)
    live = cp._live_map(base)
    assert "SLOW.parquet" in live[""]  # the committed file is visible
    assert "b.parquet" in live[""]


def test_manifest_reader_serves_consistent_prefix(tmp_path):
    """An in-flight manifest N must stop replay: manifests after N are
    NOT applied (serving N+1 without N would be a state that never
    existed). A DEAD claim (old empty file) skips through instead."""
    import os
    import time

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    commits = os.path.join(base, cp._COMMITS_DIR)
    cp._publish_manifest(base, {"files": {"": ["a.parquet"]}})
    # seq 2: in-flight (fresh empty claim)
    claim = os.path.join(commits, f"manifest-{2:020d}.json")
    fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    # seq 3: committed overwrite that would clobber seq-2's partition
    cp._publish_manifest(base, {"overwrite": True, "partitions": [""], "files": {"": ["c.parquet"]}})
    live = cp._live_map(base)
    assert live[""] == {"a.parquet"}  # prefix before the in-flight claim
    # age the claim past the grace: now adjudicated dead, replay resumes
    old = time.time() - cp.DEAD_CLAIM_GRACE_S - 5
    os.utime(claim, (old, old))
    live = cp._live_map(base)
    assert live[""] == {"c.parquet"}  # overwrite applied, dead claim skipped


def test_manifest_vacuum_bounds_storage(tmp_path):
    """manifest_vacuum removes manifests folded into the oldest
    RETAINED checkpoint and over-retained checkpoints; the live set is
    unchanged, new commits keep working, and sequence minting never
    regresses below the checkpointed high-water mark."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    commits = os.path.join(base, cp._COMMITS_DIR)
    for i in range(3 * cp.CHECKPOINT_EVERY):  # 60 commits -> 3 checkpoints
        cp._publish_manifest(base, {"files": {f"p={i % 2}": [f"f{i}.parquet"]}})
    before = cp._live_map(base)
    n_manifests = lambda: sum(  # noqa: E731
        1 for f in os.listdir(commits) if f.startswith("manifest-")
    )
    assert n_manifests() == 3 * cp.CHECKPOINT_EVERY
    removed = cp.manifest_vacuum(base, keep_checkpoints=2)
    assert removed > 0
    # only the tail after the oldest retained checkpoint remains
    assert n_manifests() == cp.CHECKPOINT_EVERY
    assert cp._live_map(base) == before
    # checkpoints: exactly the newest 2 retained
    cps = [f for f in os.listdir(commits) if f.startswith("checkpoint-")]
    assert len(cps) == 2
    # a new commit mints ABOVE the vacuumed history and stays visible
    cp._publish_manifest(base, {"files": {"p=0": ["new.parquet"]}})
    live = cp._live_map(base)
    assert "new.parquet" in live["p=0"]
    assert live["p=0"] >= before["p=0"]


def test_manifest_vacuum_ignores_checkpoint_corpse(tmp_path):
    """An EMPTY checkpoint (writer crashed between claim and rename)
    must never become the vacuum cutoff — manifests it never folded
    stay until a READABLE checkpoint covers them; the aged corpse
    itself is removed, and compaction can replace a corpse in place."""
    import os
    import time

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    commits = os.path.join(base, cp._COMMITS_DIR)
    for i in range(25):  # auto-checkpoint lands at seq 20
        cp._publish_manifest(base, {"files": {"": [f"f{i}.parquet"]}})
    before = cp._live_map(base)
    # corpse: claimed-but-never-published checkpoint at the head seq
    corpse = os.path.join(commits, f"checkpoint-{25:020d}.json")
    fd = os.open(corpse, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    # vacuum: cutoff must come from the READABLE checkpoint (20), and
    # the FRESH corpse must be kept (its writer may still publish)
    cp.manifest_vacuum(base, keep_checkpoints=1)
    manifests = sorted(
        int(f.split("-")[1].split(".")[0])
        for f in os.listdir(commits)
        if f.startswith("manifest-")
    )
    assert manifests == [21, 22, 23, 24, 25]
    assert os.path.exists(corpse)
    assert cp._live_map(base) == before
    # age the corpse past the grace: compaction replaces it in place...
    old = time.time() - cp.DEAD_CLAIM_GRACE_S - 5
    os.utime(corpse, (old, old))
    cp.manifest_compact(base)
    body = cp._read_json(corpse)
    assert body is not None and "live" in body  # corpse healed
    # ...and a later vacuum can now fold the tail behind it
    cp.manifest_vacuum(base, keep_checkpoints=1)
    assert cp._live_map(base) == before


def test_manifest_checkpoint_publish_failure_is_not_commit_failure(tmp_path, monkeypatch):
    """A checkpoint is DERIVED data: once the manifest is durable and
    visible the commit has happened, so an IO error while publishing
    the derived checkpoint must surface as a warning — never propagate
    as a commit failure (a caller retry would duplicate data)."""
    import os
    import warnings

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    for i in range(cp.CHECKPOINT_EVERY - 1):
        cp._publish_manifest(base, {"files": {"": [f"f{i}.parquet"]}})

    def boom(_base, _upto):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(cp, "_publish_checkpoint", boom)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        seq = cp._publish_manifest(base, {"files": {"": ["last.parquet"]}})
    assert seq == cp.CHECKPOINT_EVERY
    assert any("checkpoint publish failed" in str(w.message) for w in caught)
    # the commit itself IS durable and visible
    commits = os.path.join(base, cp._COMMITS_DIR)
    assert f"manifest-{seq:020d}.json" in os.listdir(commits)
    assert any("last.parquet" in f for f in cp._live_map(base)[""])


def test_manifest_vacuumed_seq_never_reclaimed(tmp_path, monkeypatch):
    """The vacuum sequence-reuse hole: a committer that read _max_seq
    and then stalled while >= CHECKPOINT_EVERY commits, a checkpoint
    and a vacuum all landed could O_EXCL-claim a VACUUMED sequence
    number (the name is free again) below the deletion cutoff — its
    acknowledged commit would sit below every reader's checkpoint
    replay window, invisible forever. The post-claim guard must detect
    the recycled name and remint above the high-water mark."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    for i in range(2 * cp.CHECKPOINT_EVERY):  # checkpoints at 20 and 40
        cp._publish_manifest(base, {"files": {"": [f"f{i}.parquet"]}})
    commits = os.path.join(base, cp._COMMITS_DIR)
    assert cp.manifest_vacuum(base) > 0
    # names 1..CHECKPOINT_EVERY are free again
    assert f"manifest-{5:020d}.json" not in os.listdir(commits)

    # the stalled committer: its pre-stall _max_seq read said 4
    real_max_seq = cp._max_seq
    calls = {"n": 0}

    def stale_then_real(commits_dir):
        calls["n"] += 1
        return 4 if calls["n"] == 1 else real_max_seq(commits_dir)

    monkeypatch.setattr(cp, "_max_seq", stale_then_real)
    seq = cp._publish_manifest(base, {"files": {"": ["late.parquet"]}})
    monkeypatch.undo()
    # NOT republished at the recycled name 5 — reminted above the head
    assert seq > 2 * cp.CHECKPOINT_EVERY
    assert f"manifest-{5:020d}.json" not in os.listdir(commits)
    # and the commit is visible to a fresh reader's replay window
    assert "late.parquet" in cp._live_map(base)[""]


def test_write_claimed_post_claim_guard_withdraws(tmp_path):
    """A failing post-claim guard unlinks the claim and reports stale —
    no body ever becomes readable under the rejected name."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    path = str(tmp_path / "manifest-00000000000000000005.json")
    status = cp._write_claimed(path, {"files": {}}, post_claim_guard=lambda: False)
    assert status == "stale"
    assert not os.path.exists(path)
    status = cp._write_claimed(path, {"files": {}}, post_claim_guard=lambda: True)
    assert status == "ok"
    assert os.path.exists(path)


def test_alter_table_compact_and_vacuum_sql_surface(spark, tmp_path):
    """The commit log's maintenance operations are reachable from SQL:
    ALTER TABLE ... COMPACT folds the manifest log into a fresh
    checkpoint (SqlAlterTableCompact's role, re-expressed for the
    manifest protocol where data files are immutable) and ALTER TABLE
    ... VACUUM [RETAIN n CHECKPOINTS] deletes log files no reader can
    need — a 50-commit table's log shrinks while every committed row
    stays visible."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "cv_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE cv_snk (k BIGINT) WITH (
            'connector'='filesystem','path'='{out}','format'='parquet',
            'sink.commit-protocol'='manifest')"""
    )
    # 5 real engine commits carry the data...
    for i in range(5):
        tenv.execute_sql(f"INSERT INTO cv_snk SELECT CAST({i} AS BIGINT)")
    # ...and 45 more log entries simulate a long-lived table (the files
    # they reference are this job's own already-live files, so replay
    # stays consistent)
    live = cp._live_map(out)[""]
    for _ in range(45):
        cp._publish_manifest(out, {"files": {"": sorted(live)}})
    commits = os.path.join(out, cp._COMMITS_DIR)
    n_before = len(os.listdir(commits))
    assert n_before >= 50

    tenv.execute_sql("ALTER TABLE cv_snk COMPACT")
    # head checkpoint exists: the next reader replays zero tail manifests
    head = cp._max_seq(commits)
    assert f"checkpoint-{head:020d}.json" in os.listdir(commits)

    res = tenv.execute_sql("ALTER TABLE cv_snk VACUUM RETAIN 1 CHECKPOINTS")
    assert "removed" in res.collect()[0]
    n_after = len(os.listdir(commits))
    assert n_after < n_before
    # only the head checkpoint + nothing below it remains readable-needed
    assert sum(1 for f in os.listdir(commits) if f.startswith("checkpoint-")) == 1
    # every committed row is still served
    rows = {r.k for r in tenv.sql_query("SELECT k FROM cv_snk").to_data_frame().collect()}
    assert rows == {0, 1, 2, 3, 4}
    # COMPACT on a rename-protocol table is DATA compaction and still works
    out2 = str(tmp_path / "cv_ren")
    tenv.execute_sql(
        f"""CREATE TABLE cv_ren (k BIGINT) WITH (
            'connector'='filesystem','path'='{out2}','format'='parquet')"""
    )
    for i in range(3):
        tenv.execute_sql(f"INSERT INTO cv_ren SELECT CAST({i} AS BIGINT)")
    n_files = len([f for f in os.listdir(out2) if f.endswith(".parquet")])
    tenv.execute_sql("ALTER TABLE cv_ren COMPACT")
    n_files2 = len([f for f in os.listdir(out2) if f.endswith(".parquet")])
    assert n_files2 < n_files
    rows = {r.k for r in tenv.sql_query("SELECT k FROM cv_ren").to_data_frame().collect()}
    assert rows == {0, 1, 2}
    # VACUUM rejects the rename protocol (no log to vacuum)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="manifest"):
        tenv.execute_sql("ALTER TABLE cv_ren VACUUM")


def test_manifest_auto_vacuum_option(spark, tmp_path):
    """'sink.log.auto-vacuum'='true' applies the storage bound after
    every manifest commit — a table committed past CHECKPOINT_EVERY
    keeps a bounded log without any operator intervention."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "av_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE av_snk (k BIGINT) WITH (
            'connector'='filesystem','path'='{out}','format'='parquet',
            'sink.commit-protocol'='manifest',
            'sink.log.auto-vacuum'='true',
            'sink.log.keep-checkpoints'='1')"""
    )
    tenv.execute_sql("INSERT INTO av_snk SELECT CAST(0 AS BIGINT)")
    live = cp._live_map(out)[""]
    # push the log across two checkpoint boundaries via the engine's
    # committer entry (the option hook lives in _stage_and_move; these
    # direct publishes stand in for its commits between the SQL ones)
    for _ in range(2 * cp.CHECKPOINT_EVERY):
        cp._publish_manifest(out, {"files": {"": sorted(live)}})
    tenv.execute_sql("INSERT INTO av_snk SELECT CAST(1 AS BIGINT)")
    commits = os.path.join(out, cp._COMMITS_DIR)
    # the post-commit vacuum pruned manifests folded below the retained
    # checkpoint: far fewer than the ~43 published
    n_manifests = sum(1 for f in os.listdir(commits) if f.startswith("manifest-"))
    assert n_manifests <= cp.CHECKPOINT_EVERY + 3
    rows = {r.k for r in tenv.sql_query("SELECT k FROM av_snk").to_data_frame().collect()}
    assert rows == {0, 1}


def test_manifest_log_concurrent_stress(tmp_path):
    """The combinatorial gap between the targeted adjudication tests:
    N committer PROCESSES, M reader loops and a compact+vacuum daemon
    hammer one table concurrently (real processes — the claims are
    O_EXCL at the filesystem level). Invariants asserted: every reader
    observes a consistent, monotonically-growing prefix of history
    (no committed file ever vanishes from a live set), every
    acknowledged commit is visible in the final resolution, and the
    vacuum keeps the log's storage bounded while all of that holds."""
    import multiprocessing as mp
    import os
    import time

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from tests import manifest_stress as ms

    base = str(tmp_path / "stress")
    os.makedirs(base)
    duration = float(os.environ.get("MANIFEST_STRESS_SECS", "8"))
    stop = time.time() + duration
    ctx = mp.get_context("spawn")  # no inherited JVM/pytest state

    acks = [str(tmp_path / f"ack{i}.txt") for i in range(4)]
    errs = [str(tmp_path / f"err{i}.txt") for i in range(2)]
    procs = (
        [ctx.Process(target=ms.committer, args=(base, i, stop, acks[i])) for i in range(4)]
        + [ctx.Process(target=ms.reader, args=(base, stop, errs[i])) for i in range(2)]
        + [ctx.Process(target=ms.vacuumer, args=(base, stop))]
    )
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=duration + 60)
        assert not p.is_alive(), "stress worker hung"
        assert p.exitcode == 0, f"stress worker crashed with {p.exitcode}"

    for err in errs:
        text = open(err).read()
        assert text.startswith("ok "), f"reader violation: {text}"
        assert int(text.split()[1]) > 10  # the reader actually read

    acked = set()
    for ack in acks:
        acked |= {line.strip() for line in open(ack) if line.strip()}
    assert len(acked) > 100, "committers made too little progress to prove anything"
    final = cp._live_map(base).get("", set())
    lost = acked - final
    assert not lost, f"{len(lost)} acknowledged commits invisible, e.g. {sorted(lost)[:5]}"

    # the log's storage stayed bounded: far fewer log files remain than
    # commits were made (the vacuum daemon actually deleted history)
    commits_dir = os.path.join(base, cp._COMMITS_DIR)
    n_log = len(os.listdir(commits_dir))
    assert n_log < len(acked) / 2, f"{n_log} log files for {len(acked)} commits"


def test_manifest_data_rewrite_and_data_vacuum(spark, tmp_path):
    """Round-10 storage story, data axis: ALTER TABLE ... COMPACT on a
    manifest table REWRITES each partition's small live files into
    ~target-size replacements behind one atomic overwrite manifest
    (Iceberg rewrite_data_files / Delta OPTIMIZE shape), and ALTER
    TABLE ... VACUUM RETAIN n HOURS reclaims the replaced generations
    and orphans the live resolution no longer references — while every
    live row and the full read-back stay identical throughout."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "dr_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE dr_snk (k BIGINT, p BIGINT) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest',
              'sink.vacuum.retention-check'='false')"""
    )
    # six commits -> >= 6 small live files spread over 2 partitions
    for i in range(6):
        tenv.execute_sql(f"INSERT INTO dr_snk SELECT CAST({i} AS BIGINT), CAST({i % 2} AS BIGINT)")
    # one logical overwrite: p=0 gets a replaced generation on disk
    tenv.execute_sql(
        "INSERT OVERWRITE dr_snk SELECT CAST(100 AS BIGINT), CAST(0 AS BIGINT)"
    )
    expected = {(100, 0), (1, 1), (3, 1), (5, 1)}
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM dr_snk").to_data_frame().collect()
    }
    assert rows == expected

    def files_on_disk(rel):
        d = os.path.join(out, rel)
        return {f for f in os.listdir(d) if f.endswith(".parquet")}

    live_before = cp._live_map(out)
    assert len(live_before["p=1"]) == 3  # three small commits
    n_disk_before = len(files_on_disk("p=0")) + len(files_on_disk("p=1"))

    tenv.execute_sql("ALTER TABLE dr_snk COMPACT")
    live_after = cp._live_map(out)
    assert len(live_after["p=1"]) == 1  # merged
    # p=0 had exactly one live file after the overwrite: not rewritten
    assert live_after["p=0"] == live_before["p=0"]
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM dr_snk").to_data_frame().collect()
    }
    assert rows == expected  # the rewrite changed nothing a reader sees
    # old generations still on disk (invisible) until the data vacuum
    assert len(files_on_disk("p=1")) > 1

    res = tenv.execute_sql("ALTER TABLE dr_snk VACUUM RETAIN 0 HOURS")
    assert "data files" in res.collect()[0]  # retention-check disabled above
    # every on-disk file is now live; nothing a reader needs was removed
    assert files_on_disk("p=1") == live_after["p=1"]
    assert files_on_disk("p=0") == live_after["p=0"]
    assert len(files_on_disk("p=0")) + len(files_on_disk("p=1")) < n_disk_before
    rows = {
        (r.k, r.p)
        for r in tenv.sql_query("SELECT k, p FROM dr_snk").to_data_frame().collect()
    }
    assert rows == expected


def test_manifest_data_vacuum_respects_retention(tmp_path):
    """A fresh unreferenced file inside the retention window survives
    the data vacuum (it may belong to a commit whose manifest has not
    published yet); only aged unreferenced files are reclaimed."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    os.makedirs(base)
    with open(os.path.join(base, "live.parquet"), "wb"):
        pass
    cp._publish_manifest(base, {"files": {"": ["live.parquet"]}})
    with open(os.path.join(base, "inflight.parquet"), "wb"):
        pass
    old = os.path.join(base, "orphan.parquet")
    with open(old, "wb"):
        pass
    os.utime(old, (1, 1))  # ancient orphan
    removed = cp.manifest_vacuum_data(base, older_than_s=3600)
    assert removed == 1
    assert sorted(
        f for f in os.listdir(base) if f.endswith(".parquet")
    ) == ["inflight.parquet", "live.parquet"]


def test_manifest_replace_op_survives_concurrent_commit(tmp_path):
    """The compaction rewrite publishes delete+add ('replace') — NOT a
    partition overwrite — so a commit that lands between the rewrite's
    live-map read and its publish keeps its files. With overwrite
    semantics the interleaving below silently loses f2 (the lost-update
    race found reviewing round-10's own rewrite code)."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    os.makedirs(base)
    cp._publish_manifest(base, {"files": {"": ["f1.parquet"]}})
    snapshot = sorted(cp._live_map(base)[""])  # the rewriter's read: [f1]
    # concurrent commit lands AFTER the read, BEFORE the rewrite publish
    cp._publish_manifest(base, {"files": {"": ["f2.parquet"]}})
    cp._publish_manifest(
        base,
        {"replace": {"": snapshot}, "partitions": [""], "files": {"": ["m1.parquet"]}},
    )
    assert cp._live_map(base)[""] == {"m1.parquet", "f2.parquet"}
    # replace is idempotent against unknown names (a racing second
    # rewriter replacing an already-replaced set removes nothing extra)
    cp._publish_manifest(
        base,
        {"replace": {"": ["ghost.parquet"]}, "partitions": [""], "files": {}},
    )
    assert cp._live_map(base)[""] == {"m1.parquet", "f2.parquet"}
    # checkpoint folding replays the replace op identically
    cp.manifest_compact(base)
    assert cp._live_map(base)[""] == {"m1.parquet", "f2.parquet"}


def test_manifest_maintenance_concurrent_stress(tmp_path):
    """Full-maintenance concurrency: committers + a delete+add REWRITER
    + a data-file VACUUM daemon + readers that OPEN every live file.
    Invariants: a fresh resolution never references a deleted file, no
    acknowledged commit's contribution is lost through any number of
    rewrites (merged placeholder files carry their member lists, so the
    final transitive expansion must equal the acked set), and the disk
    file count stays bounded (the vacuum actually reclaims replaced
    generations)."""
    import json
    import multiprocessing as mp
    import os
    import time

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from tests import manifest_stress as ms

    base = str(tmp_path / "maint")
    os.makedirs(base)
    duration = float(os.environ.get("MANIFEST_STRESS_SECS", "8"))
    stop = time.time() + duration
    ctx = mp.get_context("spawn")

    acks = [str(tmp_path / f"ack{i}.txt") for i in range(3)]
    errs = [str(tmp_path / f"err{i}.txt") for i in range(2)]
    procs = (
        [ctx.Process(target=ms.committer, args=(base, i, stop, acks[i])) for i in range(3)]
        + [ctx.Process(target=ms.maintenance_reader, args=(base, stop, errs[i])) for i in range(2)]
        + [
            ctx.Process(target=ms.rewriter, args=(base, stop)),
            ctx.Process(target=ms.data_vacuumer, args=(base, stop)),
        ]
    )
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=duration + 60)
        assert not p.is_alive(), "maintenance stress worker hung"
        assert p.exitcode == 0, f"worker crashed with {p.exitcode}"

    for err in errs:
        text = open(err).read()
        assert text.startswith("ok "), f"reader violation: {text}"

    acked = set()
    for ack in acks:
        acked |= {line.strip() for line in open(ack) if line.strip()}
    assert len(acked) > 50

    # transitive expansion of the final live set == every acked commit
    def expand(name: str) -> set[str]:
        with open(os.path.join(base, name), "rb") as fh:
            data = fh.read()
        return set(json.loads(data)) if data else {name}

    final = cp._live_map(base).get("", set())
    covered = set()
    for n in final:
        covered |= expand(n)
    lost = acked - covered
    assert not lost, f"{len(lost)} acked commits lost through rewrites, e.g. {sorted(lost)[:5]}"

    # vacuum reclaimed replaced generations: on-disk data files stay
    # far below the total ever created (acked + merged generations)
    n_disk = sum(1 for f in os.listdir(base) if not f.startswith((".", "_")))
    assert n_disk < len(acked) / 2, f"{n_disk} files on disk for {len(acked)} commits"


def test_resolve_distinguishes_withdrawn_from_vacuumed(tmp_path):
    """A vanished tail manifest folds through ONLY when it provably was
    never vacuumed (no checkpoint name at/above it — the vacuum's own
    deletion precondition); with a checkpoint at/above, the resolver
    must restart/stop rather than skip, or a vacuumed COMMITTED
    manifest would read as a hole (the round-10 stress caught this
    under a fast compact+vacuum daemon)."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    # manifests 1,2,4 — 3 was a withdrawn claim (name free, NO
    # checkpoint anywhere): replay must fold 1,2 and skip to 4
    for f in ("a", "b"):
        cp._publish_manifest(base, {"files": {"": [f + ".parquet"]}})
    commits = os.path.join(base, cp._COMMITS_DIR)
    # mint 3 then withdraw it (simulate by just never creating it), put 4
    path4 = os.path.join(commits, f"manifest-{4:020d}.json")
    assert cp._write_claimed(path4, {"files": {"": ["d.parquet"]}}) == "ok"
    live = cp._live_map(base)
    assert live[""] == {"a.parquet", "b.parquet", "d.parquet"}

    # now the vacuum-suspect shape: checkpoint AT the gap's height —
    # resolution must come from the checkpoint, never by skipping the
    # vanished manifest while replaying later ones
    cp.manifest_compact(base)  # checkpoint at 4 covering everything
    cp.manifest_vacuum(base, keep_checkpoints=1)  # deletes manifests <= 4
    assert cp._live_map(base)[""] == {"a.parquet", "b.parquet", "d.parquet"}


def test_data_vacuum_reclaims_crashed_staging_dirs(tmp_path):
    """A writer that crashed mid-stage leaves a hidden .staging-*/
    .compact-* directory invisible to every reader; the data vacuum
    reclaims it past the retention while a FRESH staging dir (a live
    writer mid-commit) survives."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    os.makedirs(base)
    with open(os.path.join(base, "live.parquet"), "wb"):
        pass
    cp._publish_manifest(base, {"files": {"": ["live.parquet"]}})
    old_stage = os.path.join(base, ".staging-deadbeef")
    os.makedirs(old_stage)
    with open(os.path.join(old_stage, "part-0.parquet"), "wb"):
        pass
    os.utime(old_stage, (1, 1))
    fresh_stage = os.path.join(base, ".compact-cafebabe")
    os.makedirs(fresh_stage)
    removed = cp.manifest_vacuum_data(base, older_than_s=3600)
    assert removed == 1
    assert not os.path.exists(old_stage)
    assert os.path.exists(fresh_stage)  # inside retention: a live writer
    assert os.path.exists(os.path.join(base, "live.parquet"))


def test_manifest_rewrite_conflict_validation(spark, tmp_path, monkeypatch):
    """Optimistic concurrency for the compaction rewrite: an INSERT
    OVERWRITE landing between the rewrite's snapshot and its publish
    must NOT be undone (replay order puts the truncation before the
    rewrite's delete+add, which would resurrect the replaced
    generation). The publish validates the (snapshot, claim) window and
    the rewrite retries from a fresh snapshot."""
    import os

    from flink_release_1_16_0_spark.sources import commit_protocol as cp
    from flink_release_1_16_0_spark.sources import manifest_rewrite_files
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "cf_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE cf_snk (k BIGINT) WITH (
            'connector'='filesystem','path'='{out}','format'='parquet',
            'sink.commit-protocol'='manifest')"""
    )
    for i in range(4):
        tenv.execute_sql(f"INSERT INTO cf_snk SELECT CAST({i} AS BIGINT)")

    # interleave: the overwrite lands AFTER the rewrite snapshots but
    # BEFORE its publish — injected via the resolver seam
    real_resolve = cp._resolve
    fired = {"done": False}

    def resolve_then_overwrite(commits, upto=None):
        res = real_resolve(commits, upto)
        if not fired["done"]:
            fired["done"] = True
            tenv.execute_sql("INSERT OVERWRITE cf_snk SELECT CAST(99 AS BIGINT)")
        return res

    import flink_release_1_16_0_spark.sources as S

    monkeypatch.setattr(
        "flink_release_1_16_0_spark.sources.commit_protocol._resolve",
        resolve_then_overwrite,
    )
    # also patch the name the sources module resolved at call time
    result = manifest_rewrite_files(
        spark, out, fmt="parquet", schema="k BIGINT"
    )
    monkeypatch.undo()
    rows = {r.k for r in tenv.sql_query("SELECT k FROM cf_snk").to_data_frame().collect()}
    # the overwrite's truncation SURVIVES: only row 99 is live
    assert rows == {99}, f"resurrected generation: {rows}"


def test_manifest_data_vacuum_retention_floor(tmp_path):
    """A retention below the one-hour safety floor is refused unless
    explicitly overridden (Delta retentionDurationCheck role): files
    committed but not yet covered by a published manifest are only
    mtime-protected, so a zero-retention vacuum concurrent with an
    in-flight writer is a data-loss hazard (round-10 review finding)."""
    import os

    import pytest as _pytest

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    os.makedirs(base)
    with _pytest.raises(ValueError, match="retention-check"):
        cp.manifest_vacuum_data(base, older_than_s=0.0)
    # override path still works
    assert cp.manifest_vacuum_data(base, older_than_s=0.0, enforce_retention_floor=False) == 0


def test_sql_vacuum_retention_floor(spark, tmp_path):
    """ALTER TABLE ... VACUUM RETAIN 0 HOURS without the table-level
    override raises with remediation text naming the option."""
    import pytest as _pytest

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "vf_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE vf_snk (k BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    tenv.execute_sql("INSERT INTO vf_snk SELECT CAST(1 AS BIGINT)")
    with _pytest.raises(ValueError, match="sink.vacuum.retention-check"):
        tenv.execute_sql("ALTER TABLE vf_snk VACUUM RETAIN 0 HOURS")
    # the default 24h retention passes the floor
    res = tenv.execute_sql("ALTER TABLE vf_snk VACUUM")
    assert "data files" in res.collect()[0]


def test_manifest_commit_stamps_move_time(tmp_path):
    """manifest_commit refreshes each moved file's mtime at publish:
    rename preserves the WRITE-time mtime, so a long job's task files
    would otherwise look vacuum-ably old the moment they land — the
    retention clock must start at commit (round-10 review finding)."""
    import os
    import time

    from flink_release_1_16_0_spark.sources import commit_protocol as cp

    base = str(tmp_path / "t")
    staging = os.path.join(base, ".staging-x")
    os.makedirs(staging)
    f = os.path.join(staging, "part-old.parquet")
    with open(f, "wb"):
        pass
    os.utime(f, (1, 1))  # written "hours ago"
    os.utime(staging, (1, 1))  # staging dir mtime stuck at job start
    cp.manifest_commit(base, staging, [""], overwrite=False)
    final = os.path.join(base, "part-old.parquet")
    assert time.time() - os.path.getmtime(final) < 60
    # and the file is live, so even an aggressive vacuum keeps it
    assert cp.manifest_vacuum_data(base, older_than_s=0.0, enforce_retention_floor=False) == 0
    assert os.path.exists(final)


def test_compact_strips_parameterized_partition_type(spark, tmp_path):
    """The oversized-partition rewrite strips partition columns from the
    declared schema STRUCTURALLY: a DECIMAL(10,2) partition column (or a
    struct field named like a partition column) must survive the strip —
    the old textual split(\",\") shredded parameterized types
    (round-10 review finding)."""
    import os

    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "dec_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE dec_snk (k BIGINT, s ROW<p BIGINT, q DECIMAL(10,2)>,
            p DECIMAL(10,2)) PARTITIONED BY (p)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest',
              'compaction.file-size'='1GB')"""
    )
    for i in range(3):
        tenv.execute_sql(
            f"INSERT INTO dec_snk SELECT CAST({i} AS BIGINT), "
            f"(CAST({i} AS BIGINT), CAST(1.25 AS DECIMAL(10,2))), "
            "CAST(7.50 AS DECIMAL(10,2))"
        )
    before = {
        (r.k, str(r.p))
        for r in tenv.sql_query("SELECT k, p FROM dec_snk").to_data_frame().collect()
    }
    assert before == {(0, "7.50"), (1, "7.50"), (2, "7.50")}
    # force the OVERSIZED path (read-back with stripped schema): tiny target
    tenv.execute_sql("ALTER TABLE dec_snk SET ('compaction.file-size'='1')")
    tenv.execute_sql("ALTER TABLE dec_snk COMPACT")
    after = {
        (r.k, str(r.p))
        for r in tenv.sql_query("SELECT k, p FROM dec_snk").to_data_frame().collect()
    }
    assert after == before
    inner = {
        (r.pp, str(r.q))
        for r in tenv.sql_query(
            "SELECT s.p AS pp, s.q AS q FROM dec_snk"
        ).to_data_frame().collect()
    }
    assert inner == {(0, "1.25"), (1, "1.25"), (2, "1.25")}


def test_manifest_tail_exactly_once_across_restart(spark, tmp_path):
    """The manifest-log tail resumes from its checkpointed sequence
    offset: commits consumed before a stop are not re-emitted after a
    restart, commits published while the query was down are — the
    exactly-once contract of the reference's continuous filesystem
    source, carried by the commit log (sources/manifest_stream.py)."""
    import os

    from flink_release_1_16_0_spark.sources.manifest_stream import (
        manifest_tail_stream,
    )
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "mtail_tbl")
    ckpt = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "sink_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mtail_t (k BIGINT, v STRING)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )
    for i in range(3):
        tenv.execute_sql(f"INSERT INTO mtail_t SELECT CAST({i} AS BIGINT), 'a{i}'")

    def drain():
        q = (
            manifest_tail_stream(spark, out, "k BIGINT, v STRING")
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    first = sorted(tuple(r) for r in spark.read.parquet(sink_dir).collect())
    assert first == [(0, "a0"), (1, "a1"), (2, "a2")]

    # crash window: two more commits while the query is down
    for i in (3, 4):
        tenv.execute_sql(f"INSERT INTO mtail_t SELECT CAST({i} AS BIGINT), 'a{i}'")
    drain()  # restart from the SAME checkpoint
    second = sorted(tuple(r) for r in spark.read.parquet(sink_dir).collect())
    # no duplicates of 0-2, and 3-4 delivered exactly once
    assert second == [(i, f"a{i}") for i in range(5)]

    # a third drain with nothing new emits nothing
    drain()
    third = sorted(tuple(r) for r in spark.read.parquet(sink_dir).collect())
    assert third == second


def test_manifest_tail_starts_after_checkpoint_fold(spark, tmp_path):
    """History folded into a log checkpoint before the stream starts is
    not tailable (its manifests may be vacuumed): initialOffset is the
    newest checkpoint's folded sequence, so a fresh tail sees only the
    unfolded tail — the documented start-from-now semantics."""
    from flink_release_1_16_0_spark.sources.manifest_stream import (
        manifest_tail_stream,
    )
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "mfold_tbl")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mfold_t (k BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest',
              'sink.vacuum.retention-check'='false')"""
    )
    tenv.execute_sql("INSERT INTO mfold_t SELECT CAST(1 AS BIGINT)")
    tenv.execute_sql("ALTER TABLE mfold_t COMPACT")  # folds seq 1
    tenv.execute_sql("INSERT INTO mfold_t SELECT CAST(2 AS BIGINT)")
    q = (
        manifest_tail_stream(spark, out, "k BIGINT")
        .writeStream.format("memory")
        .queryName("mfold_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r["k"] for r in spark.table("mfold_sink").collect())
    assert got == [2]  # the folded commit (k=1) is pre-history


def test_manifest_upsert_tail_exactly_once_across_restart(spark, tmp_path):
    """The manifest tail composed with the stateful upsert->retract
    operator (stream_manifest_upsert_tail's shape): the normalize
    STATE survives the restart via the query checkpoint, so an update
    arriving in a post-restart commit still retracts the pre-restart
    version exactly once — the upsert-kafka-on-files contract."""
    from flink_release_1_16_0_spark.sources.manifest_stream import (
        manifest_tail_stream,
    )
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_upsert_to_retract,
    )
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    out = str(tmp_path / "mu_tbl")
    ckpt = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "sink_out")
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""CREATE TABLE mu_rt (kind STRING, seq BIGINT, k BIGINT, v BIGINT)
        WITH ('connector'='filesystem','path'='{out}','format'='parquet',
              'sink.commit-protocol'='manifest')"""
    )

    def publish(rows):
        spark.createDataFrame(
            rows, "kind STRING, seq BIGINT, k BIGINT, v BIGINT"
        ).createOrReplaceTempView("mu_rt_batch")
        tenv.execute_sql(
            "INSERT INTO mu_rt SELECT kind, seq, k, v FROM mu_rt_batch"
        )

    def drain():
        tail = manifest_tail_stream(
            spark, out, "kind STRING, seq BIGINT, k BIGINT, v BIGINT"
        ).withColumnRenamed("kind", ROWKIND)
        q = (
            streaming_upsert_to_retract(tail, keys=["k"], seq_col="seq")
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(sink_dir)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    publish([("+I", 1, 1, 10), ("+I", 2, 2, 20)])
    drain()
    first = sorted(
        tuple(r) for r in spark.read.parquet(sink_dir).collect()
    )
    assert first == [("+I", 1, 10), ("+I", 2, 20)]

    # while the query is down: key 1 updates, key 2 deletes — the
    # retractions must reference the PRE-restart versions from state
    publish([("+U", 3, 1, 11), ("-D", 4, 2, 0)])
    drain()
    second = sorted(
        tuple(r) for r in spark.read.parquet(sink_dir).collect()
    )
    assert second == sorted(
        [
            ("+I", 1, 10),
            ("+I", 2, 20),
            ("-U", 1, 10),
            ("+U", 1, 11),
            ("-D", 2, 20),
        ]
    )

    # nothing new: a third drain emits nothing
    drain()
    third = sorted(tuple(r) for r in spark.read.parquet(sink_dir).collect())
    assert third == second
