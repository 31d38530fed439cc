"""AsyncLookupJoinITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
AsyncLookupJoinITCase.scala — proc-time lookup joins through the ASYNC
operator (AsyncWaitOperator + AsyncLookupJoinRunner +
RetryableLookupFunctionDelegator):

- inner/left joins on single and multi-field keys (incl. key order
  differing from the dimension's), filter pushdown into the lookup,
  non-equal post-filters, local predicates on a LEFT join (condition
  fails -> null-pad, row survives);
- UDF-transformed join keys (mod(id, 4)) and UDF filters;
- aggregate -> async left lookup (the dim sees the agg's final rows);
- a throwing lookup function fails the job (not silently null-pads);
- the lookup-threshold retry cases: a dimension that misses until the
  Nth call resolves within a sufficient retry budget
  (EMPTY_RESULT_PREDICATE fixed-delay) and null-pads when the budget
  is insufficient.

NOT ported: cache sharing across subtasks (no shared lookup cache in
this engine — the snapshottable-dimension case broadcast-joins
instead, operators/lookup.py) and TRY_RESOLVE planner mode (no
equivalent planner stage). Fixtures are the ITCase's own (Apache-2.0,
AsyncLookupJoinITCase.scala:57-64); implementation under test is
original (operators/async_lookup.py, real mapInPandas execution)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators.async_lookup import (
    async_lookup_join,
)

SRC = [
    (1, 12, "Julian"),
    (2, 15, "Hello"),
    (3, 15, "Fabian"),
    (8, 11, "Hello world"),
    (9, 12, "Hello world!"),
]

USERS = {1: (11, "Julian"), 2: (22, "Jark"), 3: (33, "Fabian")}


@pytest.fixture()
def src(spark):
    return spark.createDataFrame(SRC, "id long, len int, content string")


def _make_user_lookup():
    # a CLOSURE (not a module-level function): Spark workers cannot
    # import the test module, so lookup fns must pickle by value
    users = dict(USERS)

    def lk(key):
        r = users.get(key)
        return None if r is None else {"age": r[0], "name": r[1]}

    return lk


_user_lookup = _make_user_lookup()


FIELDS = {"age": "int", "name": "string"}


def test_async_join_temporal_table(spark, src):
    out = async_lookup_join(src, _user_lookup, "id", FIELDS)
    got = sorted(
        (r["id"], r["len"], r["content"], r["name"])
        for r in out.filter(F.col("name").isNotNull()).collect()
    )
    assert got == sorted(
        [(1, 12, "Julian", "Julian"), (2, 15, "Hello", "Jark"), (3, 15, "Fabian", "Fabian")]
    )


def test_async_left_join_temporal_table(spark, src):
    out = async_lookup_join(src, _user_lookup, "id", FIELDS)
    got = sorted(
        (r["id"], r["len"], r["name"], r["age"]) for r in out.collect()
    )
    assert got == sorted(
        [
            (1, 12, "Julian", 11),
            (2, 15, "Jark", 22),
            (3, 15, "Fabian", 33),
            (8, 11, None, None),
            (9, 12, None, None),
        ]
    )


def test_async_join_on_multi_key_fields(spark, src):
    # join key order differs from the dimension's field order:
    # ON t1.content = D.name AND t1.id = D.id
    def lk(key):
        content, i = key
        r = USERS.get(i)
        if r is None or r[1] != content:
            return None
        return {"age": r[0], "name": r[1]}

    out = async_lookup_join(src, lk, ["content", "id"], FIELDS)
    got = sorted(
        (r["id"], r["len"], r["name"])
        for r in out.filter(F.col("name").isNotNull()).collect()
    )
    assert got == sorted([(1, 12, "Julian"), (3, 15, "Fabian")])


def test_async_join_with_pushdown(spark, src):
    # ON T.id = D.id AND D.age > 20 — the dimension filter pushes into
    # the lookup itself
    def lk(key):
        r = USERS.get(key)
        if r is None or r[0] <= 20:
            return None
        return {"age": r[0], "name": r[1]}

    out = async_lookup_join(src, lk, "id", FIELDS)
    got = sorted(
        (r["id"], r["len"], r["content"], r["name"])
        for r in out.filter(F.col("name").isNotNull()).collect()
    )
    assert got == sorted([(2, 15, "Hello", "Jark"), (3, 15, "Fabian", "Fabian")])


def test_async_join_with_non_equal_filter(spark, src):
    out = async_lookup_join(src, _user_lookup, "id", FIELDS)
    got = sorted(
        (r["id"], r["len"], r["content"], r["name"], r["age"])
        for r in out.filter(
            F.col("name").isNotNull() & (F.col("len") <= F.col("age"))
        ).collect()
    )
    assert got == sorted(
        [(2, 15, "Hello", "Jark", 22), (3, 15, "Fabian", "Fabian", 33)]
    )


def test_async_left_join_with_local_predicate(spark, src):
    # LEFT JOIN ... ON id = D.id AND len > 1 AND D.age > 20 AND
    # D.name = 'Fabian' WHERE id > 1: a failing ON condition null-pads
    # but KEEPS the left row
    def lk(key):
        i, ln = key
        if ln <= 1:
            return None
        r = USERS.get(i)
        if r is None or r[0] <= 20 or r[1] != "Fabian":
            return None
        return {"age": r[0], "name": r[1]}

    out = async_lookup_join(src, lk, ["id", "len"], FIELDS).filter("id > 1")
    got = sorted(
        (r["id"], r["len"], r["content"], r["name"], r["age"])
        for r in out.collect()
    )
    assert got == sorted(
        [
            (2, 15, "Hello", None, None),
            (3, 15, "Fabian", "Fabian", 33),
            (8, 11, "Hello world", None, None),
            (9, 12, "Hello world!", None, None),
        ]
    )


def test_async_join_on_multi_fields_with_udf(spark, src):
    # ON mod1(T.id, 4) = D.id AND T.content = D.name, wrapper1(D.name)
    withkey = src.withColumn("mod_id", F.expr("id % 4"))

    def lk(key):
        i, content = key
        r = USERS.get(i)
        if r is None or r[1] != content:
            return None
        return {"age": r[0], "name": r[1]}

    out = async_lookup_join(withkey, lk, ["mod_id", "content"], FIELDS)
    got = sorted(
        (r["id"], r["len"], r["name"])
        for r in out.filter(F.col("name").isNotNull()).collect()
    )
    assert got == sorted([(1, 12, "Julian"), (3, 15, "Fabian")])


def test_agg_and_async_left_join(spark, src):
    # max(id) GROUP BY len, then async LEFT lookup on the agg output
    agg = src.groupBy("len").agg(F.max("id").alias("id"))
    out = async_lookup_join(agg.select("id"), _user_lookup, "id", FIELDS)
    got = sorted((r["id"], r["name"], r["age"]) for r in out.collect())
    assert got == sorted([(3, "Fabian", 33), (8, None, None), (9, None, None)])


def test_exception_thrown_from_async_join(spark, src):
    base = _make_user_lookup()

    def lk(key):
        if key == 2:
            raise RuntimeError("lookup blew up")
        return base(key)

    out = async_lookup_join(src, lk, "id", FIELDS, retries=1, retry_delay_s=0.0)
    with pytest.raises(Exception, match="lookup blew up"):
        out.collect()


def _thresholded_lookup(threshold):
    # lookup starts answering from the Nth call per key — the
    # ITCase's user_table_with_lookup_threshold{2,3} dimension
    calls: dict = {}
    base = _make_user_lookup()

    def lk(key):
        n = calls.get(key, 0) + 1
        calls[key] = n
        if n < threshold:
            return None
        return base(key)

    return lk


def test_lookup_threshold_with_sufficient_retry(spark, src):
    out = async_lookup_join(
        src.repartition(1),
        _thresholded_lookup(2),
        "id",
        FIELDS,
        retries=2,
        retry_delay_s=0.0,
        retry_on_miss=True,
    )
    got = sorted(
        (r["id"], r["name"]) for r in out.filter(F.col("name").isNotNull()).collect()
    )
    assert got == sorted([(1, "Julian"), (2, "Jark"), (3, "Fabian")])


def test_lookup_threshold_with_insufficient_retry(spark, src):
    out = async_lookup_join(
        src.repartition(1),
        _thresholded_lookup(3),
        "id",
        FIELDS,
        retries=1,
        retry_delay_s=0.0,
        retry_on_miss=True,
    )
    # 2 attempts < threshold 3: every lookup misses, all rows null-pad
    got = sorted((r["id"], r["name"]) for r in out.collect())
    assert got == sorted(
        [(1, None), (2, None), (3, None), (8, None), (9, None)]
    )
