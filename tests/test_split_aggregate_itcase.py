"""SplitAggregateITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
SplitAggregateITCase.scala — the split-distinct-aggregate program
(TABLE_OPTIMIZER_DISTINCT_AGG_SPLIT_ENABLED): distinct aggregates over
an unbounded group agg, including cascades whose inner agg RETRACTS
(-U/+U) through the outer distinct aggregates, FILTER clauses, and the
split plan itself (hash-bucket partial distinct + final sum over the
partial changelog).

FILTER (WHERE p) aggregates are ported as the projection rewrite
``agg(CASE WHEN p THEN col END)`` — identical semantics because every
ported aggregate ignores NULL inputs.

Operator under test: streaming_retracting_multi_agg
(streaming/retract_agg.py); the split path is the real two-operator
changelog composition (partial agg keyed (key, bucket) -> final
sum_int over the partial changelog keyed (key)). Expected rows are the
ITCase's own (ported test data, Apache-2.0); implementation original.
"""

from __future__ import annotations

import datetime as _dt
import zlib
from decimal import Decimal

import pandas as pd

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tests.test_aggregate_itcase import (
    RK,
    build,
    feed,
    retract_fold,
)

# the shared T fixture (SplitAggregateITCase.scala:65)
T_DATA = [
    (1, 1, "Hello 0"),
    (1, 2, "Hello 1"),
    (2, 3, "Hello 1"),
    (3, 5, "Hello 1"),
    (2, 3, "Hello 2"),
    (2, 4, "Hello 3"),
    (2, 4, None),
    (2, 5, "Hello 4"),
    (3, 5, "Hello 0"),
    (2, 4, "Hello 3"),
    (4, 5, "Hello 2"),
    (2, 4, "Hello 3"),
    (4, 5, None),
    (4, 5, "Hello 3"),
    (2, 2, "Hello 0"),
    (4, 6, "Hello 1"),
]


def _t_schema(extra=()):
    return StructType(
        [
            StructField("a", LongType()),
            StructField("b", LongType()),
            StructField("c", StringType()),
            *extra,
        ]
    )


def run_simple(keys, aggs, rows=None, cols=("a", "b", "c"), schema=None, batch=1):
    """Drive T (or ``rows``) one-row-per-batch through a single
    multi-agg and fold the retract sink."""
    rows = T_DATA if rows is None else rows
    fn = build(schema or _t_schema(), list(keys), aggs)
    states: dict = {}
    out = []
    for i in range(0, len(rows), batch):
        out += feed(fn, states, rows[i : i + batch], list(cols), keys)
    return retract_fold(out, list(keys) + [a[0] for a in aggs])


def test_single_distinct_agg():
    # testSingleDistinctAgg: SELECT COUNT(DISTINCT c) FROM T
    rows = [(0, *r) for r in T_DATA]
    got = run_simple(
        ["__g"],
        [("cd", "count_distinct", "c", LongType())],
        rows=rows,
        cols=("__g", "a", "b", "c"),
        schema=_t_schema()
        .add("__g", LongType())  # order-insensitive: schema lookup by name
        ,
    )
    assert [t[1:] for t in got] == [(5,)]


def test_multi_count_distinct_agg():
    rows = [(0, *r) for r in T_DATA]
    got = run_simple(
        ["__g"],
        [
            ("cdb", "count_distinct", "b", LongType()),
            ("cdc", "count_distinct", "c", LongType()),
        ],
        rows=rows,
        cols=("__g", "a", "b", "c"),
        schema=_t_schema().add("__g", LongType()),
    )
    assert [t[1:] for t in got] == [(6, 5)]


def test_single_distinct_agg_and_non_distinct_aggs():
    # a, SUM(b), COUNT(DISTINCT c), AVG(b)
    got = run_simple(
        ["a"],
        [
            ("s", "sum_int", "b", LongType()),
            ("cd", "count_distinct", "c", LongType()),
            ("av", "avg_int", "b", LongType()),
        ],
    )
    assert got == [(1, 3, 2, 1), (2, 29, 5, 3), (3, 10, 2, 5), (4, 21, 3, 5)]


def test_single_distinct_agg_with_group_by():
    got = run_simple(["a"], [("cd", "count_distinct", "c", LongType())])
    assert got == [(1, 2), (2, 5), (3, 2), (4, 3)]


def test_distinct_and_non_distinct_on_same_column():
    got = run_simple(
        ["a"],
        [
            ("cd", "count_distinct", "b", LongType()),
            ("mx", "max", "b", LongType()),
            ("mn", "min", "b", LongType()),
        ],
    )
    assert got == [(1, 2, 2, 1), (2, 4, 5, 2), (3, 1, 5, 5), (4, 2, 6, 5)]


def test_group_key_in_distinct_agg():
    # a, COUNT(DISTINCT a), COUNT(b)
    got = run_simple(
        ["a"],
        [
            ("cda", "count_distinct", "a", LongType()),
            ("cb", "count", "b", LongType()),
        ],
    )
    assert got == [(1, 1, 2), (2, 1, 8), (3, 1, 2), (4, 1, 4)]


def _with_filters(rows):
    """projection rewrite of the FILTER clauses: b_ne2 = b unless b=2,
    b_ne5 = b unless b=5."""
    return [
        (a, b, c, None if b == 2 else b, None if b == 5 else b)
        for a, b, c in rows
    ]


_FILTER_SCHEMA = _t_schema(
    (StructField("b_ne2", LongType()), StructField("b_ne5", LongType()))
)
_FILTER_COLS = ("a", "b", "c", "b_ne2", "b_ne5")


def test_agg_with_filter_clause():
    # a, COUNT(DISTINCT b) FILTER(b<>2), MAX(b) FILTER(b<>5),
    # MIN(b) FILTER(b<>2)
    got = run_simple(
        ["a"],
        [
            ("cd", "count_distinct", "b_ne2", LongType()),
            ("mx", "max", "b_ne5", LongType()),
            ("mn", "min", "b_ne2", LongType()),
        ],
        rows=_with_filters(T_DATA),
        cols=_FILTER_COLS,
        schema=_FILTER_SCHEMA,
    )
    assert got == [(1, 1, 2, 1), (2, 3, 4, 3), (3, 1, None, 5), (4, 2, 6, 5)]


def test_multiple_distinct_aggs_on_same_column():
    got = run_simple(
        ["a"],
        [
            ("cd", "count_distinct", "b", LongType()),
            ("cdf", "count_distinct", "b_ne2", LongType()),
            ("mx", "max", "b_ne5", LongType()),
            ("mn", "min", "b_ne2", LongType()),
        ],
        rows=_with_filters(T_DATA),
        cols=_FILTER_COLS,
        schema=_FILTER_SCHEMA,
    )
    assert got == [
        (1, 2, 1, 2, 1),
        (2, 4, 3, 4, 3),
        (3, 1, 1, None, 5),
        (4, 2, 2, 6, 5),
    ]


def test_agg_filter_clause_both_with_avg_and_count():
    got = run_simple(
        ["a"],
        [
            ("cdf", "count_distinct", "b_ne2", LongType()),
            ("sf", "sum_int", "b_ne5", LongType()),
            ("cb", "count", "b", LongType()),
            ("sb", "sum_int", "b", LongType()),
            ("av", "avg_int", "b", LongType()),
        ],
        rows=_with_filters(T_DATA),
        cols=_FILTER_COLS,
        schema=_FILTER_SCHEMA,
    )
    assert got == [
        (1, 1, 3, 2, 3, 1),
        (2, 3, 24, 8, 29, 3),
        (3, 1, None, 2, 10, 5),
        (4, 2, 6, 4, 21, 5),
    ]


# ---------------------------------------------------------------------------
# cascaded aggs: the inner agg's -U/+U retractions flow through the
# outer distinct aggregates
# ---------------------------------------------------------------------------


def _cascade(inner_aggs, outer_keys, outer_aggs, inner_keys=("a",)):
    inner_fn = build(_t_schema(), list(inner_keys), inner_aggs)
    inner_cols = list(inner_keys) + [a[0] for a in inner_aggs]
    outer_schema = StructType(
        [StructField(RK, StringType())]
        + [StructField(c, LongType()) for c in inner_cols]
    )
    outer_fn = build(
        outer_schema,
        list(outer_keys),
        outer_aggs,
        rowkind_col=RK,
    )
    inner_states: dict = {}
    outer_states: dict = {}
    out = []
    for row in T_DATA:
        emitted = feed(inner_fn, inner_states, [row], ["a", "b", "c"], list(inner_keys))
        if not emitted:
            continue
        mid = [tuple(r[c] for c in [RK] + inner_cols) for r in emitted]
        out += feed(
            outer_fn, outer_states, mid, [RK] + inner_cols, list(outer_keys)
        )
    return retract_fold(out, list(outer_keys) + [a[0] for a in outer_aggs])


def test_min_max_with_retraction():
    # inner: a -> COUNT(DISTINCT b) AS b, MAX(b) AS c;
    # outer: GROUP BY c -> MIN(b), MAX(b), COUNT(DISTINCT a)
    got = _cascade(
        [
            ("b", "count_distinct", "b", LongType()),
            ("c", "max", "b", LongType()),
        ],
        ["c"],
        [
            ("mn", "min", "b", LongType()),
            ("mx", "max", "b", LongType()),
            ("cda", "count_distinct", "a", LongType()),
        ],
    )
    assert got == [(2, 2, 2, 1), (5, 1, 4, 2), (6, 2, 2, 1)]


def test_count_with_single_distinct_and_retraction():
    # FLINK-23434 shape: inner a -> COUNT(b) AS b, MAX(b) AS b1;
    # outer GROUP BY b -> COUNT(DISTINCT b1), COUNT(1)
    got = _cascade(
        [
            ("b", "count", "b", LongType()),
            ("b1", "max", "b", LongType()),
        ],
        ["b"],
        [
            ("cd", "count_distinct", "b1", LongType()),
            ("n", "count_star", None, LongType()),
        ],
    )
    assert got == [(2, 2, 2), (4, 1, 1), (8, 1, 1)]


def test_sum_count_with_single_distinct_and_retraction():
    got = _cascade(
        [
            ("b", "count", "b", LongType()),
            ("b1", "max", "b", LongType()),
        ],
        ["b"],
        [
            ("s", "sum_int", "b1", LongType()),
            ("cd", "count_distinct", "b1", LongType()),
            ("n", "count_star", None, LongType()),
        ],
    )
    assert got == [(2, 7, 2, 2), (4, 6, 1, 1), (8, 5, 1, 1)]


def test_agg_with_join():
    # the two-level cascade of testMinMaxWithRetraction joined back to
    # T on T1.b + 2 = T.a — final-state join of the folded changelog
    t1 = _cascade(
        [
            ("b", "count_distinct", "b", LongType()),
            ("c", "max", "b", LongType()),
        ],
        ["c"],
        [
            ("b", "min", "b", LongType()),
            ("d", "max", "b", LongType()),
            ("a", "count_distinct", "a", LongType()),
        ],
    )
    got = sorted(
        f"{c},{b},{d},{a},{ta},{tb},{'null' if tc is None else tc}"
        for (c, b, d, a) in t1
        for (ta, tb, tc) in T_DATA
        if b + 2 == ta
    )
    assert got == sorted(
        [
            "2,2,2,1,4,5,Hello 2",
            "2,2,2,1,4,5,Hello 3",
            "2,2,2,1,4,5,null",
            "2,2,2,1,4,6,Hello 1",
            "5,1,4,2,3,5,Hello 0",
            "5,1,4,2,3,5,Hello 1",
            "6,2,2,1,4,5,Hello 2",
            "6,2,2,1,4,5,Hello 3",
            "6,2,2,1,4,5,null",
            "6,2,2,1,4,6,Hello 1",
        ]
    )


def test_uv_with_retraction():
    # src = 1000 rows (i%10, i%100, i); inner upsert per (a, b) churns
    # -U/+U while b stays fixed; outer COUNT(DISTINCT b) per a must
    # stay exactly 10
    rows = [(str(i % 10), str(i % 100), str(i)) for i in range(1000)]
    schema = StructType(
        [
            StructField("a", StringType()),
            StructField("b", StringType()),
            StructField("c", StringType()),
        ]
    )
    inner_fn = build(schema, ["a", "b"], [("lv", "max", "c", StringType())])
    outer_schema = StructType(
        [
            StructField(RK, StringType()),
            StructField("a", StringType()),
            StructField("b", StringType()),
            StructField("lv", StringType()),
        ]
    )
    outer_fn = build(
        outer_schema,
        ["a"],
        [("uv", "count_distinct", "b", LongType())],
        rowkind_col=RK,
    )
    inner_states: dict = {}
    outer_states: dict = {}
    out = []
    for i in range(0, len(rows), 50):
        emitted = feed(
            inner_fn, inner_states, rows[i : i + 50], ["a", "b", "c"], ["a", "b"]
        )
        if not emitted:
            continue
        mid = [(r[RK], r["a"], r["b"], r["lv"]) for r in emitted]
        out += feed(outer_fn, outer_states, mid, [RK, "a", "b", "lv"], ["a"])
    got = retract_fold(out, ["a", "uv"])
    assert got == [(str(i), 10) for i in range(10)]


def test_count_distinct_with_union_all_source():
    # testCountDistinctWithBinaryRowSource shape: each row contributes
    # under its own b and under b='ALL' (UNION ALL), COUNT(DISTINCT c)
    # per (a, b)
    base = [("1", "1", str(i % 50), "1") for i in range(100)]
    rows = base + [("1", "ALL", c, d) for (_a, _b, c, d) in base]
    schema = StructType(
        [
            StructField("a", StringType()),
            StructField("b", StringType()),
            StructField("c", StringType()),
            StructField("d", StringType()),
        ]
    )
    got = run_simple(
        ["a", "b"],
        [("uv", "count_distinct", "c", LongType())],
        rows=rows,
        cols=("a", "b", "c", "d"),
        schema=schema,
        batch=10,
    )
    assert got == [("1", "1", 50), ("1", "ALL", 50)]


def test_count_distinct_typed_columns():
    # testCountDistinct: distinct counts over TIMESTAMP / DATE / TIME /
    # DECIMAL / INT / BIGINT / STRING columns keyed by id
    ids = [1, 2, 2, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 5]
    vals = ["1", "2", None, "4", "5", "6", "7", None, None, "10", "11", "11", "13", "14", "15"]
    chars = ["A", "B", None, "D", "E", "F", "H", None, None, "K", "L", "L", "N", "O", "P"]
    rows = []
    for i, v in enumerate(vals):
        if v is None:
            dt = d = tm = dec = iv = lv = None
        else:
            n = int(v)
            dt = pd.Timestamp(1970, 1, 1) + pd.Timedelta(seconds=n)
            d = _dt.date(1970, 1, 1) + _dt.timedelta(days=n - 1)
            tm = _dt.time(0, 0, n % 60)
            dec = Decimal(v)
            iv = n
            lv = n
        rows.append((ids[i], dt, d, tm, dec, iv, lv, chars[i]))
    schema = StructType(
        [
            StructField("id", LongType()),
            *[StructField(c, StringType()) for c in "abcdefg"],  # object cells
        ]
    )
    got = run_simple(
        ["id"],
        [(f"cd_{c}", "count_distinct", c, LongType()) for c in "abcdefg"],
        rows=rows,
        cols=("id", "a", "b", "c", "d", "e", "f", "g"),
        schema=schema,
    )
    assert got == [
        (1, 1, 1, 1, 1, 1, 1, 1),
        (2, 1, 1, 1, 1, 1, 1, 1),
        (3, 3, 3, 3, 3, 3, 3, 3),
        (4, 2, 2, 2, 2, 2, 2, 2),
        (5, 4, 4, 4, 4, 4, 4, 4),
    ]


# ---------------------------------------------------------------------------
# the split plan itself: partial distinct per (key, bucket), final
# sum over the partial changelog — must equal the direct plan
# ---------------------------------------------------------------------------


def _bucket(v) -> int:
    return 0 if v is None else zlib.crc32(str(v).encode()) % 4


def run_split_count_distinct(keys=("a",)):
    """COUNT(DISTINCT c) GROUP BY keys via the split plan: stage 1
    keyed (keys, bucket(c)) emits a partial-count changelog; stage 2
    keyed keys sums the live partials (sum_int nets -U/+U)."""
    schema = _t_schema((StructField("__b", LongType()),))
    s1 = build(
        schema,
        list(keys) + ["__b"],
        [("pcd", "count_distinct", "c", LongType())],
    )
    s2_schema = StructType(
        [StructField(RK, StringType())]
        + [StructField(k, LongType()) for k in keys]
        + [StructField("__b", LongType()), StructField("pcd", LongType())]
    )
    s2 = build(
        s2_schema,
        list(keys),
        [("cd", "sum_int", "pcd", LongType())],
        rowkind_col=RK,
    )
    s1_states: dict = {}
    s2_states: dict = {}
    out = []
    for a, b, c in T_DATA:
        emitted = feed(
            s1,
            s1_states,
            [(a, b, c, _bucket(c))],
            ["a", "b", "c", "__b"],
            list(keys) + ["__b"],
        )
        if not emitted:
            continue
        mid = [
            tuple(r[x] for x in [RK] + list(keys) + ["__b", "pcd"])
            for r in emitted
        ]
        out += feed(
            s2, s2_states, mid, [RK] + list(keys) + ["__b", "pcd"], list(keys)
        )
    return retract_fold(out, list(keys) + ["cd"])


def test_split_plan_equals_direct():
    assert run_split_count_distinct() == [(1, 2), (2, 5), (3, 2), (4, 3)]
