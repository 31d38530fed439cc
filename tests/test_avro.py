"""Avro OCF reader validated against the JVM Avro reference impl.

avro-core ships on Spark's classpath (spark-avro, the DataSource
module, does not) — so the ground-truth files here are written by
org.apache.avro.generic.GenericDatumWriter through py4j, and the
pure-Python decoder (sources/avro_format.py) must reproduce them
exactly: primitives, nullable unions, arrays, enums, logical
timestamps, and the deflate codec.
"""

from __future__ import annotations

import pandas as pd
import pytest

from flink_release_1_16_0_spark.sources.avro_format import (
    avro_source,
    avro_to_spark_type,
    parse_ocf,
    read_schema,
)

_SCHEMA = """{
  "type": "record", "name": "Rec", "fields": [
    {"name": "id", "type": "long"},
    {"name": "name", "type": "string"},
    {"name": "score", "type": "double"},
    {"name": "flag", "type": "boolean"},
    {"name": "maybe", "type": ["null", "int"]},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "color", "type": {"type": "enum", "name": "C",
                               "symbols": ["RED", "GREEN", "BLUE"]}},
    {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}}
  ]
}"""

_ROWS = [
    (1, "alpha", 1.5, True, 7, ["x", "y"], "RED", 1700000000000000),
    (2, "beta", -2.25, False, None, [], "BLUE", 1700000000123456),
    (3, "gamma", 0.0, True, -42, ["z"], "GREEN", 0),
]


def _write_jvm_avro(spark, path: str, codec: str | None = None) -> None:
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(_SCHEMA)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    if codec == "deflate":
        dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    dfw.create(schema, jvm.java.io.File(path))
    enum_schema = schema.getField("color").schema()
    for rid, name, score, flag, maybe, tags, color, ts in _ROWS:
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", rid)
        rec.put("name", name)
        rec.put("score", float(score))
        rec.put("flag", flag)
        rec.put("maybe", maybe)
        arr = jvm.java.util.ArrayList()
        for t in tags:
            arr.add(t)
        rec.put("tags", arr)
        rec.put(
            "color",
            jvm.org.apache.avro.generic.GenericData.EnumSymbol(enum_schema, color),
        )
        rec.put("ts", ts)
        dfw.append(rec)
    dfw.close()


@pytest.mark.parametrize("codec", [None, "deflate"])
def test_parse_ocf_matches_jvm_writer(spark, tmp_path, codec):
    p = str(tmp_path / f"jvm_{codec}.avro")
    _write_jvm_avro(spark, p, codec)
    with open(p, "rb") as fh:
        schema, rows = parse_ocf(fh.read())
    assert schema["name"] == "Rec"
    assert len(rows) == len(_ROWS)
    for got, want in zip(rows, _ROWS):
        rid, name, score, flag, maybe, tags, color, ts_us = want
        assert got[0] == rid and got[1] == name
        assert got[2] == score and got[3] is flag and got[4] == maybe
        assert got[5] == tags and got[6] == color
        assert got[7].value == ts_us * 1000  # pandas ns == avro µs * 1000


def test_avro_source_dataframe(spark, tmp_path):
    d = tmp_path / "tbl"
    d.mkdir()
    _write_jvm_avro(spark, str(d / "part-0.avro"))
    _write_jvm_avro(spark, str(d / "part-1.avro"), codec="deflate")
    df = avro_source(spark, str(d))
    assert dict(df.dtypes)["maybe"] == "int"
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = df.orderBy("id").collect()
    assert len(rows) == 2 * len(_ROWS)
    assert rows[0]["name"] == "alpha" and rows[0]["tags"] == ["x", "y"]
    assert rows[2]["maybe"] is None
    assert rows[4]["color"] == "GREEN"


def test_schema_discovery_and_type_mapping(spark, tmp_path):
    p = str(tmp_path / "one.avro")
    _write_jvm_avro(spark, p)
    schema = read_schema(p)
    st = avro_to_spark_type(schema)
    names = [f.name for f in st.fields]
    assert names == ["id", "name", "score", "flag", "maybe", "tags", "color", "ts"]


def test_avro_ddl_scan(spark, tmp_path):
    """CREATE TABLE ... WITH ('format'='avro') scans through the OCF
    reader (DDL schema is declarative; columns come from the file)."""
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    d = tmp_path / "avro_ddl"
    d.mkdir()
    _write_jvm_avro(spark, str(d / "part-0.avro"))
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""
        CREATE TABLE av (id BIGINT, name STRING) WITH (
          'connector' = 'filesystem', 'path' = '{d}', 'format' = 'avro')
        """
    )
    out = tenv.sql_query("SELECT id, name FROM av ORDER BY id").to_data_frame().collect()
    assert [(r["id"], r["name"]) for r in out][:2] == [(1, "alpha"), (2, "beta")]


# ---------------------------------------------------------------------------
# sink side: the pure-Python OCF writer read back by the JVM
# GenericDatumReader (ground truth in the write direction), plus the
# Spark roundtrip and the INSERT INTO avro DDL path.
# ---------------------------------------------------------------------------


def _read_jvm_avro(spark, path: str):
    """Read an OCF through avro-core; rows as list[dict] (py4j)."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), reader)
    out = []
    while dfr.hasNext():
        out.append(dfr.next())
    dfr.close()
    return out


def test_writer_matches_jvm_reader(spark, tmp_path):
    from flink_release_1_16_0_spark.sources.avro_format import (
        encode_ocf,
        spark_to_avro_schema,
    )
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(
        "id bigint, name string, score double, flag boolean, "
        "tags array<string>, ts timestamp"
    )
    schema = spark_to_avro_schema(st)
    rows = [
        (1, "alpha", 1.5, True, ["x", "y"], pd.Timestamp("2023-11-14 22:13:20")),
        (2, None, -2.25, False, [], pd.Timestamp("2023-11-14 22:13:20.123456")),
    ]
    p = str(tmp_path / "py.avro")
    with open(p, "wb") as fh:
        fh.write(encode_ocf(rows, schema))
    jrows = _read_jvm_avro(spark, p)
    assert len(jrows) == 2
    r0, r1 = jrows
    assert r0.get("id") == 1 and str(r0.get("name")) == "alpha"
    assert r0.get("score") == 1.5 and r0.get("flag") is True
    assert [str(x) for x in r0.get("tags")] == ["x", "y"]
    assert r0.get("ts") == 1700000000000000  # timestamp-micros long
    assert r1.get("name") is None
    assert r1.get("ts") == 1700000000123456


def test_write_avro_spark_roundtrip(spark, tmp_path):
    from flink_release_1_16_0_spark.sources.avro_format import write_avro

    df = spark.range(0, 500).selectExpr(
        "id", "concat('n-', id) AS name", "CAST(id AS DOUBLE)/8 AS score",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id % 5 END AS bucket",
    )
    d = str(tmp_path / "avro_sink")
    write_avro(df.repartition(4), d)
    back = avro_source(spark, d)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_insert_into_avro_ddl(spark, tmp_path):
    """INSERT INTO an avro table routes through write_avro; the scan
    reads the rows back (the read+write format-matrix symmetry)."""
    from flink_release_1_16_0_spark.table_env import TableEnvironment

    d = tmp_path / "avro_insert"
    d.mkdir()
    tenv = TableEnvironment.create(spark)
    tenv.execute_sql(
        f"""
        CREATE TABLE av_sink (k BIGINT, name STRING) WITH (
          'connector' = 'filesystem', 'path' = '{d}', 'format' = 'avro')
        """
    )
    spark.range(0, 20).selectExpr(
        "id", "concat('v-', id) AS name"
    ).createOrReplaceTempView("av_src")
    tenv.execute_sql("INSERT INTO av_sink SELECT id, name FROM av_src")
    got = tenv.sql_query("SELECT k, name FROM av_sink WHERE k < 3").to_data_frame()
    assert sorted(map(tuple, got.collect())) == [
        (0, "v-0"), (1, "v-1"), (2, "v-2"),
    ]


def test_partitioned_avro_write_read(spark, tmp_path):
    from flink_release_1_16_0_spark.sources.avro_format import write_avro

    df = spark.range(0, 30).selectExpr(
        "id", "concat('v-', id) AS name", "CAST(id % 3 AS INT) AS seg"
    )
    d = str(tmp_path / "avro_part")
    write_avro(df, d, partition_cols=["seg"])
    import os as _os

    assert sorted(x for x in _os.listdir(d) if x.startswith("seg=")) == [
        "seg=0", "seg=1", "seg=2",
    ]
    from pyspark.sql.types import IntegerType

    back = avro_source(spark, d, partition_cols={"seg": IntegerType()})
    assert sorted(map(tuple, back.select("id", "name", "seg").collect())) == sorted(
        map(tuple, df.collect())
    )


# ---------------------------------------------------------------------------
# property-based: the OCF writer/reader roundtrip over the full value
# domain (nullable unions included)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as hst

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    _AV_ST = StructType(
        [
            StructField("a", LongType()),
            StructField("b", StringType()),
            StructField("c", DoubleType()),
            StructField("d", BooleanType()),
            StructField("e", ArrayType(LongType())),
        ]
    )
    _I64 = hst.integers(min_value=-(2**63), max_value=2**63 - 1)
    _AV_ROW = hst.tuples(
        hst.one_of(hst.none(), _I64),
        hst.one_of(hst.none(), hst.text(max_size=40)),
        hst.one_of(hst.none(), hst.floats(allow_nan=False)),
        hst.one_of(hst.none(), hst.booleans()),
        hst.one_of(hst.none(), hst.lists(_I64, max_size=8)),
    )

    @settings(max_examples=150, deadline=None)
    @given(hst.lists(_AV_ROW, max_size=15))
    def test_property_ocf_roundtrip(rows):
        from flink_release_1_16_0_spark.sources.avro_format import (
            encode_ocf,
            parse_ocf,
            spark_to_avro_schema,
        )

        schema = spark_to_avro_schema(_AV_ST)
        _, back = parse_ocf(encode_ocf(rows, schema))
        assert back == [tuple(r) for r in rows]


def test_nullable_array_and_map_elements_roundtrip(spark, tmp_path):
    """Spark ArrayType/MapType default to containsNull/valueContainsNull
    =True; a null element must encode as a ['null', T] item union
    instead of raising in the scalar encoder (regression)."""
    from flink_release_1_16_0_spark.sources.avro_format import write_avro

    df = spark.sql(
        """
        SELECT id,
               array(CAST(id AS DOUBLE), NULL, CAST(id * 2 AS DOUBLE)) AS arr,
               map('a', CAST(id AS BIGINT), 'b', CAST(NULL AS BIGINT)) AS m
        FROM range(0, 50)
        """
    )
    d = str(tmp_path / "avro_nullable_elems")
    write_avro(df, d)
    back = avro_source(spark, d)
    want = sorted((r["id"], tuple(r["arr"]), tuple(sorted(r["m"].items()))) for r in df.collect())
    got = sorted((r["id"], tuple(r["arr"]), tuple(sorted(r["m"].items()))) for r in back.collect())
    assert got == want


def test_confluent_registry_framing_roundtrip(spark):
    """avro-confluent wire format: magic 0x00 + big-endian int32 schema
    id + raw avro binary (ConfluentSchemaRegistryCoder.java:40,86);
    registry client mocked as an id->schema mapping."""
    import pytest

    from flink_release_1_16_0_spark.sources.avro_format import (
        confluent_decode_column,
        confluent_encode_column,
    )

    df = spark.range(0, 100).selectExpr(
        "id AS k", "concat('c-', id) AS v", "CAST(id AS DOUBLE)/3 AS x"
    )
    wire = confluent_encode_column(df, schema_id=7, cols=["k", "v", "x"])
    [probe] = wire.limit(1).collect()
    assert bytes(probe["value"])[:5] == b"\x00\x00\x00\x00\x07"
    st = StructType.fromDDL("k bigint, v string, x double")
    back = confluent_decode_column(wire, "value", {7: st})
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # unknown id and bad magic raise (the reference's IOException paths)
    with pytest.raises(Exception, match="id 7"):
        confluent_decode_column(wire, "value", {8: st}).collect()
    bad = spark.createDataFrame([(b"\x01\x00\x00\x00\x07",)], "value binary")
    with pytest.raises(Exception, match="Magic number"):
        confluent_decode_column(bad, "value", {7: st}).collect()


def test_property_raw_binary_record_roundtrip():
    """Property-based roundtrip of the raw avro binary record encoding
    that backs both the kafka value codec (avro_encode_column) and the
    confluent framing."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as hst
    except ImportError:
        import pytest

        pytest.skip("hypothesis not installed")

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
    )

    from flink_release_1_16_0_spark.sources.avro_format import (
        _Bin,
        _decode,
        _encode_value,
        spark_to_avro_schema,
    )

    st = StructType(
        [
            StructField("a", LongType()),
            StructField("b", StringType()),
            StructField("c", DoubleType()),
            StructField("d", BooleanType()),
        ]
    )
    avsc = spark_to_avro_schema(st)
    row_st = hst.tuples(
        hst.none() | hst.integers(min_value=-(2**63), max_value=2**63 - 1),
        hst.none() | hst.text(max_size=40),
        hst.none() | hst.floats(allow_nan=False, width=64),
        hst.none() | hst.booleans(),
    )

    @settings(max_examples=300, deadline=None)
    @given(row_st)
    def check(row):
        buf = bytearray()
        for fs, v in zip(avsc["fields"], row):
            _encode_value(fs["type"], v, buf)
        r = _Bin(bytes(buf))
        assert tuple(_decode(fs["type"], r) for fs in avsc["fields"]) == row
        assert r.pos == len(buf)  # no trailing bytes

    check()
