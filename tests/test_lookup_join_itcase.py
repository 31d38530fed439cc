"""Lookup (dimension-table) join conformance, ported from the
reference's LookupJoinITCase (flink-table-planner/src/test/scala/...
/runtime/stream/sql/LookupJoinITCase.scala).

These run the real operators/lookup.py path on Spark DataFrames — a
lookup join IS a broadcast hash join against the dimension snapshot
(CommonExecLookupJoin), so the ports also pin the physical shape
(BroadcastHashJoin/BroadcastNestedLoopJoin in the plan, never a
shuffle of the fact side).

Cases pinned: inner/left lookup by single and multi keys, NULL fact
keys never match (padded only under LEFT), dim-side filter pushdown,
constant lookup keys (including the NULL constant = empty result), and
computed-key lookups (T.id = D.id + 4 with a string expression)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_release_1_16_0_spark.operators.lookup import lookup_join

SRC = [  # LookupJoinITCase.scala:53 (id, len, content)
    (1, 12, "Julian"),
    (2, 15, "Hello"),
    (3, 15, "Fabian"),
    (8, 11, "Hello world"),
    (9, 12, "Hello world!"),
]
SRC_NULL = [  # dataWithNull
    (None, 15, "Hello"),
    (3, 15, "Fabian"),
    (None, 11, "Hello world"),
    (9, 12, "Hello world!"),
]
USER = [  # userData (age, id, name)
    (11, 1, "Julian"),
    (22, 2, "Jark"),
    (33, 3, "Fabian"),
    (11, 4, "Hello world"),
    (11, 5, "Hello world"),
]
USER_NULL = [  # userDataWithNull
    (11, 1, "Julian"),
    (22, None, "Hello"),
    (33, 3, "Fabian"),
    (44, None, "Hello world"),
]


@pytest.fixture()
def tables(spark):
    src = spark.createDataFrame(SRC, "id BIGINT, len INT, content STRING")
    nsrc = spark.createDataFrame(
        SRC_NULL, "id BIGINT, len INT, content STRING"
    )
    user = spark.createDataFrame(USER, "age INT, uid BIGINT, name STRING")
    nuser = spark.createDataFrame(
        USER_NULL, "age INT, uid BIGINT, name STRING"
    )
    return src, nsrc, user, nuser


from collections import Counter


def rows(df, cols):
    """Multiset of result tuples (None-safe, order-free)."""
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def test_join_temporal_table(tables):
    """LookupJoinITCase.testJoinTemporalTable (LookupJoinITCase.scala
    :207): inner lookup by id."""
    src, _, user, _ = tables
    got = lookup_join(src, user, [("id", "uid")], how="inner")
    assert rows(got, ["id", "len", "content", "name"]) == Counter([
        (1, 12, "Julian", "Julian"),
        (2, 15, "Hello", "Jark"),
        (3, 15, "Fabian", "Fabian"),
    ])
    # physical shape: the dim side broadcasts, the fact never shuffles
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_join_temporal_table_on_constant_key(tables):
    """LookupJoinITCase.testJoinTemporalTableOnConstantKey (LookupJoin
    ITCase.scala:257): ON D.id = 1 — every fact row fetches the same
    dim row."""
    src, _, user, _ = tables
    got = src.crossJoin(F.broadcast(user.filter(F.col("uid") == 1)))
    assert rows(got, ["id", "len", "content", "name"]) == Counter([
        (1, 12, "Julian", "Julian"),
        (2, 15, "Hello", "Julian"),
        (3, 15, "Fabian", "Julian"),
        (8, 11, "Hello world", "Julian"),
        (9, 12, "Hello world!", "Julian"),
    ])


def test_join_temporal_table_on_nullable_key(tables):
    """LookupJoinITCase.testJoinTemporalTableOnNullableKey (LookupJoin
    ITCase.scala:275): NULL fact keys never look anything up."""
    _, nsrc, user, _ = tables
    got = lookup_join(nsrc, user, [("id", "uid")], how="inner")
    assert rows(got, ["id", "len", "name"]) == Counter([(3, 15, "Fabian")])


def test_join_temporal_table_with_pushdown(tables):
    """LookupJoinITCase.testJoinTemporalTableWithPushDown (LookupJoin
    ITCase.scala:288): the dim-side predicate D.age > 20 prunes before
    the lookup."""
    src, _, user, _ = tables
    got = lookup_join(
        src, user.filter(F.col("age") > 20), [("id", "uid")], how="inner"
    )
    assert rows(got, ["id", "len", "content", "name"]) == Counter([
        (2, 15, "Hello", "Jark"),
        (3, 15, "Fabian", "Fabian"),
    ])


def test_join_temporal_table_on_multi_key_fields_with_null_data(tables):
    """LookupJoinITCase.testJoinTemporalTableOnMultiKeyFieldsWithNullData
    (LookupJoinITCase.scala:442): NULLs on either side of a multi-key
    lookup never match."""
    _, nsrc, _, nuser = tables
    got = lookup_join(
        nsrc, nuser, [("content", "name"), ("id", "uid")], how="inner"
    )
    assert rows(got, ["id", "len", "name"]) == Counter([(3, 15, "Fabian")])


def test_left_join_temporal_table(tables):
    """LookupJoinITCase.testLeftJoinTemporalTable (LookupJoinITCase
    .scala:401): missing dim rows pad null."""
    src, _, user, _ = tables
    got = lookup_join(src, user, [("id", "uid")], how="left")
    assert rows(got, ["id", "len", "name", "age"]) == Counter([
        (1, 12, "Julian", 11),
        (2, 15, "Jark", 22),
        (3, 15, "Fabian", 33),
        (8, 11, None, None),
        (9, 12, None, None),
    ])


def test_left_join_temporal_table_on_nullable_key(tables):
    """LookupJoinITCase.testLeftJoinTemporalTableOnNullableKey
    (LookupJoinITCase.scala:415): NULL keys pad instead of matching."""
    _, nsrc, user, _ = tables
    got = lookup_join(nsrc, user, [("id", "uid")], how="left")
    assert rows(got, ["id", "len", "name"]) == Counter([
        (3, 15, "Fabian"),
        (9, 12, None),
        (None, 11, None),
        (None, 15, None),
    ])


def test_left_join_temporal_table_on_mult_key_fields(tables):
    """LookupJoinITCase.testLeftJoinTemporalTableOnMultKeyFields
    (LookupJoinITCase.scala:428): (id, content) both must match."""
    src, _, user, _ = tables
    got = lookup_join(
        src, user, [("id", "uid"), ("content", "name")], how="left"
    )
    assert rows(got, ["id", "len", "name", "age"]) == Counter([
        (1, 12, "Julian", 11),
        (2, 15, None, None),
        (3, 15, "Fabian", 33),
        (8, 11, None, None),
        (9, 12, None, None),
    ])


def test_left_join_temporal_table_on_multi_key_fields_with_null_data(tables):
    """LookupJoinITCase.testLeftJoinTemporalTableOnMultiKeyFieldsWithNullData
    (LookupJoinITCase.scala:455): SELECT D.id — unmatched rows show the
    DIM side's null id."""
    _, nsrc, _, nuser = tables
    got = lookup_join(
        nsrc, nuser, [("content", "name"), ("id", "uid")], how="left"
    )
    assert rows(got, ["uid", "len", "name"]) == Counter([
        (3, 15, "Fabian"),
        (None, 11, None),
        (None, 12, None),
        (None, 15, None),
    ])


def test_join_temporal_table_on_null_constant_key(tables):
    """LookupJoinITCase.testJoinTemporalTableOnNullConstantKey
    (LookupJoinITCase.scala:468): ON D.id = NULL matches nothing."""
    _, nsrc, _, nuser = tables
    got = nsrc.crossJoin(
        F.broadcast(nuser.filter(F.col("uid") == F.lit(None)))
    )
    assert got.count() == 0


def test_join_temporal_table_on_multi_key_fields_with_udf(tables):
    """LookupJoinITCase.testJoinTemporalTableOnMultiKeyFieldsWithUDF
    (LookupJoinITCase.scala:494): computed lookup keys — T.id = D.id+4
    AND T.content = concat(D.name, '!') AND D.age = 11."""
    src, _, user, _ = tables
    cond = (
        (src["id"] == user["uid"] + 4)
        & (src["content"] == F.concat(user["name"], F.lit("!")))
        & (user["age"] == 11)
    )
    got = src.join(F.broadcast(user), cond, "inner")
    assert rows(got, ["id", "content", "age", "uid"]) == Counter([
        (9, "Hello world!", 11, 5),
    ])
