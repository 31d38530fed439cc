"""Unit tests for the changelog (+I/-U/+U/-D) algebra.

Pins RowKind semantics on a tiny hand-written CDC log, including the
cases the fixture-derived queries can't isolate: delete-then-nothing
keys, group-vanish-on-zero-count, and -U/+U pairing.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.streaming import changelog as C


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def cdc(spark):
    rows = [
        # key 1: insert -> update (-U/+U) => final name=B
        ("+I", _ts(1), 0, 1, "A", 10.0),
        ("-U", _ts(2), 1, 1, "A", 10.0),
        ("+U", _ts(2), 2, 1, "B", 15.0),
        # key 2: insert -> delete => gone
        ("+I", _ts(1), 0, 2, "X", 20.0),
        ("-D", _ts(3), 1, 2, "X", 20.0),
        # key 3: plain insert
        ("+I", _ts(2), 0, 3, "Y", 30.0),
    ]
    return spark.createDataFrame(
        rows,
        f"{C.ROWKIND} string, ts timestamp, seq int, k bigint, name string, v double",
    )


def test_normalize_keeps_latest_additive(spark, cdc):
    out = {
        r["k"]: (r["name"], r["v"])
        for r in C.changelog_normalize(cdc, ["k"], "ts", "seq").collect()
    }
    assert out == {1: ("B", 15.0), 3: ("Y", 30.0)}  # key 2 deleted


def test_retracting_agg_nets_out(spark, cdc):
    out = {
        r["g"]: (r["n"], float(r["total"]))
        for r in C.retracting_group_agg(
            cdc.withColumn("g", F.lit("all")),
            ["g"],
            {"total": F.col("v").cast("decimal(38,2)")},
        ).collect()
    }
    # +10 -10 +15 +20 -20 +30 = 45; net count = 1-1+1+1-1+1 = 2
    assert out == {"all": (2, 45.0)}


def test_retracting_agg_vanished_group(spark):
    rows = [("+I", 1, "g1", 5.0), ("-D", 2, "g1", 5.0), ("+I", 1, "g2", 7.0)]
    df = spark.createDataFrame(rows, f"{C.ROWKIND} string, seq int, g string, v double")
    got = C.retracting_group_agg(df, ["g"], {"t": F.col("v").cast("decimal(38,2)")})
    names = [r["g"] for r in got.collect()]
    assert names == ["g2"]  # g1's net count hit zero -> vanishes (-D)


def test_drop_update_before(spark, cdc):
    kinds = {
        r[C.ROWKIND] for r in C.drop_update_before(cdc).select(C.ROWKIND).collect()
    }
    assert C.UPDATE_BEFORE not in kinds
    assert {"+I", "+U", "-D"} <= kinds


def test_sign_mapping(spark, cdc):
    rows = cdc.select(C.ROWKIND, C.sign().alias("s")).distinct().collect()
    got = {r[C.ROWKIND]: r["s"] for r in rows}
    assert got == {"+I": 1, "+U": 1, "-U": -1, "-D": -1}


# ---------------------------------------------------------------------------
# changelog-encoding formats (the *JsonSerializationSchema side):
# encode -> decode must reproduce the changelog, with the reference's
# per-row mapping (+I/+U -> create envelope, -D/-U -> delete envelope —
# no -U/+U re-pairing on the wire).
# ---------------------------------------------------------------------------


def _changelog_df(spark):
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND

    return spark.createDataFrame(
        [
            ("+I", 1, "a", 10.0),
            ("+U", 1, "a", 11.5),
            ("-U", 1, "a", 10.0),
            ("-D", 2, "b", 7.0),
            ("+I", 3, None, 0.25),
        ],
        f"{ROWKIND} string, k bigint, name string, v double",
    )


@pytest.mark.parametrize("fmt", ["debezium", "canal", "maxwell", "ogg"])
def test_cdc_encode_decode_roundtrip(spark, fmt):
    from flink_release_1_16_0_spark.sources import formats as FMT
    from flink_release_1_16_0_spark.streaming.changelog import ROWKIND

    encode = getattr(FMT, f"changelog_to_{fmt}_json")
    decode = getattr(FMT, f"{fmt}_json_to_changelog")
    log = _changelog_df(spark)
    wire = encode(log)
    assert wire.columns == ["value"]
    back = decode(wire, "value", "k BIGINT, name STRING, v DOUBLE")
    # the wire collapses +U->create/-U->delete, so compare the decoded
    # rows against the same collapse of the source changelog
    want = sorted(
        (
            ("+I" if r[ROWKIND] in ("+I", "+U") else "-D"),
            r["k"],
            r["name"],
            r["v"],
        )
        for r in log.collect()
    )
    got = sorted(
        (r[ROWKIND], r["k"], r["name"], r["v"]) for r in back.collect()
    )
    assert got == want


def test_cdc_envelope_shape_debezium(spark):
    import json

    from flink_release_1_16_0_spark.sources.formats import (
        changelog_to_debezium_json,
    )

    rows = changelog_to_debezium_json(_changelog_df(spark)).collect()
    envs = [json.loads(r["value"]) for r in rows]
    ops = sorted(e["op"] for e in envs)
    assert ops == ["c", "c", "c", "d", "d"]
    for e in envs:
        assert set(e) == {"before", "after", "op"}  # nulls explicit
        assert (e["op"] == "c") == (e["after"] is not None)
        assert (e["op"] == "d") == (e["before"] is not None)


def test_cdc_ddl_sink_roundtrip(spark, tmp_path):
    """INSERT INTO a debezium-json filesystem table writes envelope
    lines; the scan decodes them back (format matrix symmetry for the
    CDC family)."""
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    d = tmp_path / "dbz"
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""
        CREATE TABLE dbz_sink (k BIGINT, name STRING) WITH (
          'connector' = 'filesystem', 'path' = '{d}',
          'format' = 'debezium-json')
        """
    )
    spark.range(0, 10).selectExpr(
        "id", "concat('n-', id) AS name"
    ).createOrReplaceTempView("dbz_src")
    tenv.execute_sql("INSERT INTO dbz_sink SELECT id, name FROM dbz_src")
    got = tenv.sql_query(
        "SELECT rowkind, k, name FROM (SELECT __rowkind AS rowkind, k, name FROM dbz_sink) WHERE k < 2"
    ).to_data_frame()
    assert sorted(map(tuple, got.collect())) == [
        ("+I", 0, "n-0"),
        ("+I", 1, "n-1"),
    ]


def test_upsert_key_only_tombstone(spark):
    """upsert-kafka compaction semantics: a delete arrives as a
    key-only tombstone (null payload — the Kafka null-value record);
    the emitted -D must carry the PRIOR version's payload from state,
    exactly like ChangelogNormalize's state lookup."""
    from flink_release_1_16_0_spark.streaming.changelog import (
        ROWKIND,
        upsert_to_retract,
    )

    log = spark.createDataFrame(
        [
            ("+U", 1, 1, "k1", 10.0),
            ("+U", 2, 2, "k1", 20.0),
            ("-D", 3, 3, "k1", None),   # tombstone: key only
            ("+U", 4, 4, "k1", 30.0),   # re-insert after delete
        ],
        f"{ROWKIND} string, ts bigint, seq bigint, k string, v double",
    )
    out = upsert_to_retract(log, keys=["k"], ts_col="ts", seq_col="seq")
    got = [(r[ROWKIND], r["v"]) for r in out.orderBy("seq").collect()]
    assert got == [
        ("+I", 10.0),
        ("-U", 10.0),
        ("+U", 20.0),
        ("-D", 20.0),   # payload restored from state, not the null tombstone
        ("+I", 30.0),
    ]
