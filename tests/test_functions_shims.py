"""Unit tests for the Flink-named function shims (functions/__init__.py),
mirroring the reference's BuiltInFunctionTestBase per-function cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark import functions as FF


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_split_index(spark):
    c = F.lit("a,b,c")
    assert _one(spark, FF.split_index(c, ",", 0)) == "a"
    assert _one(spark, FF.split_index(c, ",", 2)) == "c"
    assert _one(spark, FF.split_index(c, ",", 5)) is None  # out of range -> NULL


def test_split_index_literal_separator(spark):
    # SqlFunctionUtils.splitIndex treats the separator literally; regex
    # metacharacters must not be interpreted ('.' would otherwise split
    # on every char, '|' on every position).
    assert _one(spark, FF.split_index(F.lit("a.b.c"), ".", 1)) == "b"
    assert _one(spark, FF.split_index(F.lit("a|b|c"), "|", 2)) == "c"
    assert _one(spark, FF.split_index(F.lit("a+b"), "+", 0)) == "a"


def test_str_to_map(spark):
    got = _one(spark, FF.str_to_map(F.lit("a=1,b=2")))
    assert got == {"a": "1", "b": "2"}


def test_is_digit_alpha_decimal(spark):
    assert _one(spark, FF.is_digit(F.lit("123"))) is True
    assert _one(spark, FF.is_digit(F.lit("12a"))) is False
    assert _one(spark, FF.is_alpha(F.lit("abc"))) is True
    assert _one(spark, FF.is_alpha(F.lit(""))) is False
    assert _one(spark, FF.is_decimal(F.lit("1.5"))) is True
    assert _one(spark, FF.is_decimal(F.lit("x"))) is False


def test_sum0_empty_group_is_zero(spark):
    df = spark.range(5).filter("id > 100")  # empty
    assert df.agg(FF.sum0(F.col("id").cast("double")).alias("s")).first()["s"] == 0.0


def test_truncate_toward_zero(spark):
    assert _one(spark, FF.truncate(F.lit(1.999), 2)) == 1.99
    assert _one(spark, FF.truncate(F.lit(-1.999), 2)) == -1.99  # toward zero, not floor
    assert _one(spark, FF.truncate(F.lit(19.5), 0)) == 19.0


def test_similar_to_is_anchored(spark):
    assert _one(spark, FF.similar_to(F.lit("abc"), "a.c")) is True
    assert _one(spark, FF.similar_to(F.lit("xabcx"), "a.c")) is False  # full match only
    assert _one(spark, FF.regexp(F.lit("xabcx"), "a.c")) is True  # partial match


def test_to_timestamp_ltz(spark):
    got = _one(spark, FF.to_timestamp_ltz(F.lit(1704067200), 0))
    assert got.year == 2024 and got.month == 1 and got.day == 1
    with pytest.raises(ValueError):
        FF.to_timestamp_ltz(F.lit(0), 6)


def test_temporal_overlaps(spark):
    t = F.lit("2024-01-01 00:00:00").cast("timestamp")
    assert _one(
        spark,
        FF.temporal_overlaps(
            t, t + F.expr("INTERVAL 2 HOURS"),
            t + F.expr("INTERVAL 1 HOUR"), t + F.expr("INTERVAL 3 HOURS"),
        ),
    ) is True


def test_multiset_from_array(spark):
    df = spark.createDataFrame([(["a", "b", "a"],)], "arr array<string>")
    got = df.select(FF.multiset_from_array(F.col("arr")).alias("m")).first()["m"]
    assert got == {"a": 2, "b": 1}


def test_hash_code_deterministic(spark):
    a = _one(spark, FF.hash_code(F.lit("x")))
    b = _one(spark, FF.hash_code(F.lit("x")))
    assert a == b and isinstance(a, int)


def test_sha_family_golden(spark):
    # SHA1/SHA2-224/384/512 (BuiltInFunctionDefinitions hash block).
    # DuckDB has no sha1/sha224/384/512, so these are pinned against
    # hashlib goldens instead of the cross-engine oracle.
    import hashlib

    s = "flink"
    row = (
        spark.range(1)
        .select(
            F.sha1(F.lit(s)).alias("h1"),
            F.sha2(F.lit(s), 224).alias("h224"),
            F.sha2(F.lit(s), 256).alias("h256"),
            F.sha2(F.lit(s), 384).alias("h384"),
            F.sha2(F.lit(s), 512).alias("h512"),
        )
        .first()
    )
    b = s.encode()
    assert row["h1"] == hashlib.sha1(b).hexdigest()
    assert row["h224"] == hashlib.sha224(b).hexdigest()
    assert row["h256"] == hashlib.sha256(b).hexdigest()
    assert row["h384"] == hashlib.sha384(b).hexdigest()
    assert row["h512"] == hashlib.sha512(b).hexdigest()


def test_json_string_scalars(spark):
    # Flink JSON_STRING: scalar -> its JSON literal.
    assert _one(spark, FF.json_string(F.lit("ab"))) == '"ab"'
    assert _one(spark, FF.json_string(F.lit('a"b'))) == '"a\\"b"'
    assert _one(spark, FF.json_string(F.lit(5))) == "5"
    assert _one(spark, FF.json_string(F.lit(True))) == "true"
    # null-on-null like the reference
    assert _one(spark, FF.json_string(F.lit(None).cast("string"))) is None


def test_sql_udf_sha_family_known_answers(spark):
    """Flink's fixed-width SHA spellings over sha2 — pinned to the
    published test vectors for 'abc'."""
    from flink_release_1_16_0_spark.functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT SHA224('abc') a, SHA256('abc') b, SHA384('abc') c, SHA512('abc') d"
    ).collect()[0]
    assert row["a"] == "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7"
    assert row["b"] == (
        "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    )
    assert row["c"] == (
        "cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed"
        "8086072ba1e7cc2358baeca134c825a7"
    )
    assert row["d"] == (
        "ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a"
        "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f"
    )


def test_sql_udf_convert_tz_and_print(spark):
    from flink_release_1_16_0_spark.functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT CONVERT_TZ('1970-01-01 00:00:00', 'UTC', 'America/Los_Angeles') a,"
        "       CONVERT_TZ('2024-07-01 12:00:00', 'Asia/Shanghai', 'UTC') b,"
        "       PRINT('tag: ', 'payload') p"
    ).collect()[0]
    assert row["a"] == "1969-12-31 16:00:00"
    assert row["b"] == "2024-07-01 04:00:00"
    assert row["p"] == "payload"


def test_sql_udf_current_row_timestamp_registered(spark):
    from flink_release_1_16_0_spark.functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    assert spark.sql("SELECT CURRENT_ROW_TIMESTAMP() ts").collect()[0]["ts"] is not None
