"""AggregateITCase (stream SQL) retraction-semantics conformance,
ported from flink-table-planner/src/test/scala/.../runtime/stream/sql/
AggregateITCase.scala — the cases that exercise the WithRetract
accumulator family and distinct aggregates over changelog input:

- testDistinctWithRetract: COUNT/SUM/MAX/MIN/AVG(DISTINCT) over the
  changelog of an inner group agg — the multiset must net out
  superseded counts (a key's cnt moving 1->2->3 leaves only 3 live);
- testListAggWithRetraction: LISTAGG over a changelog — retraction
  removes the FIRST occurrence and keeps arrival order
  (ListAggWithRetractAggFunction), pinning the exact '[b=1;1;a=2]'
  ordering after a=1 retracts and a=2 appends;
- testListAggWithNullData / WithoutDelimiterTreatNull: an all-NULL
  group still emits (count 3) with a NULL list;
- testDistinctAggWithNullValues: DISTINCT over a nullable column — the
  CountNullNonNull shape 'distinct_nonnull|has_null' derives from the
  count_distinct and count cells.

Operator under test: streaming_retracting_multi_agg
(streaming/retract_agg.py). Expected rows are the ITCase's own
(ported test data, Apache-2.0); the implementation is original.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap
from flink_release_1_16_0_spark.streaming.retract_agg import (
    streaming_retracting_multi_agg,
)

RK = "__rowkind"


def build(schema, keys, aggs, **kw):
    cap = _Cap(schema)
    streaming_retracting_multi_agg(cap, keys, aggs, **kw)
    return cap.fn


def feed(fn, states, rows, cols, key_cols):
    """One micro-batch through a captured closure; returns emissions."""
    out = []
    if not rows:
        return out
    pdf = pd.DataFrame(rows, columns=cols)
    for key, grp in pdf.groupby(list(key_cols), sort=False, dropna=False):
        kt = key if isinstance(key, tuple) else (key,)
        kt = tuple(None if (isinstance(v, float) and v != v) else v for v in kt)
        st = states.setdefault(kt, FakeGroupState())
        for e in fn(kt, iter([grp.reset_index(drop=True)]), st):
            out.extend(e.to_dict("records"))
    return out


def retract_fold(emissions, fields):
    """TestingRetractSink: fold +I/+U adds and -U/-D removes, return
    the live multiset of value tuples."""
    from collections import Counter

    live: Counter = Counter()
    for r in emissions:
        # normalize pandas NaN (a NULL cell in a numeric column) to
        # None — distinct NaN objects are not equal to each other, so
        # un-normalized adds and retracts would never cancel
        t = tuple(
            None if (isinstance(v, float) and v != v) else v
            for v in (r[f] for f in fields)
        )
        if r[RK] in ("+I", "+U"):
            live[t] += 1
        else:
            live[t] -= 1
    return sorted(t for t, n in live.items() for _ in range(n))


def test_distinct_with_retract():
    data = [
        (1, 1, "A"), (1, 1, "A"), (1, 1, "A"),
        (2, 2, "B"), (3, 2, "B"),
        (4, 3, "C"), (5, 3, "C"), (6, 3, "C"),
        (7, 4, "B"), (8, 4, "A"), (9, 4, "D"), (10, 4, "E"),
        (11, 5, "A"), (12, 5, "B"),
    ]
    inner_schema = StructType(
        [StructField("b", LongType()), StructField("a", LongType()),
         StructField("c", StringType())]
    )
    inner = build(
        inner_schema,
        ["b"],
        [("cnt", "count", "a", LongType()), ("max_a", "max", "a", LongType())],
    )
    outer_schema = StructType(
        [StructField("__g", LongType()), StructField(RK, StringType()),
         StructField("cnt", LongType()), StructField("max_a", LongType())]
    )
    outer = build(
        outer_schema,
        ["__g"],
        [
            ("cd", "count_distinct", "cnt", LongType()),
            ("sd", "sum_distinct_int", "cnt", LongType()),
            ("xd", "max_distinct", "cnt", LongType()),
            ("nd", "min_distinct", "cnt", LongType()),
            ("ad", "avg_distinct_int", "cnt", LongType()),
            ("cdm", "count_distinct", "max_a", LongType()),
        ],
        rowkind_col=RK,
    )
    inner_states: dict = {}
    outer_states: dict = {}
    out = []
    for a, b, c in data:  # one row per batch, like the failing source
        changelog = feed(
            inner, inner_states, [(b, a, c)], ["b", "a", "c"], ["b"]
        )
        rows = [(0, r[RK], r["cnt"], r["max_a"]) for r in changelog]
        out.extend(
            feed(outer, outer_states, rows, ["__g", RK, "cnt", "max_a"], ["__g"])
        )
    final = retract_fold(out, ["cd", "sd", "xd", "nd", "ad", "cdm"])
    assert final == [(3, 9, 4, 2, 3, 5)]


def test_listagg_with_retraction():
    data = [("1", "a"), ("1", "b"), ("1", None), ("1", "a")]
    inner_schema = StructType(
        [StructField("x", StringType()), StructField("y", StringType())]
    )
    inner = build(
        inner_schema, ["x", "y"], [("ct", "count_star", None, LongType())]
    )
    outer_schema = StructType(
        [StructField("x", StringType()), StructField(RK, StringType()),
         StructField("z", StringType())]
    )
    outer = build(
        outer_schema,
        ["x"],
        [
            ("list1", "listagg", "z", StringType(), ";"),
            ("list2", "listagg", "z", StringType(), ","),
        ],
        rowkind_col=RK,
    )

    def concat_ws(y, ct):  # CONCAT_WS('=', y, ct): NULL args skipped
        return str(ct) if y is None else f"{y}={ct}"

    inner_states: dict = {}
    outer_states: dict = {}
    out = []
    for x, y in data:
        changelog = feed(inner, inner_states, [(x, y)], ["x", "y"], ["x", "y"])
        rows = [(x, r[RK], concat_ws(r_y, r["ct"]))
                for r, r_y in ((r, y) for r in changelog)]
        out.extend(feed(outer, outer_states, rows, ["x", RK, "z"], ["x"]))
    final = retract_fold(out, ["x", "list1", "list2"])
    assert final == [("1", "b=1;1;a=2", "b=1,1,a=2")]


def test_listagg_with_null_data():
    # both the explicit-'#' and default-delimiter forms emit NULL for
    # an all-NULL group (count 3 rows, list empty)
    schema = StructType(
        [StructField("len", LongType()), StructField("content", StringType())]
    )
    for delim in ("#", ","):
        fn = build(
            schema, ["len"],
            [("lst", "listagg", "content", StringType(), delim)],
        )
        states: dict = {}
        out = []
        for _ in range(3):
            out.extend(feed(fn, states, [(1, None)], ["len", "content"], ["len"]))
        final = retract_fold(out, ["len", "lst"])
        assert final == [(1, None)]


def test_distinct_agg_with_null_values():
    data = [
        (1, 1, "A"), (2, 2, "B"), (3, 2, "B"),
        (4, 3, "C"), (5, 3, "C"), (6, 3, None), (7, 3, "C"),
        (8, 4, "B"), (9, 4, None), (10, 4, None), (11, 4, "A"),
        (12, 4, "D"), (13, 4, None), (14, 4, "E"),
        (15, 5, "A"), (16, 5, None), (17, 5, "B"),
    ]
    schema = StructType(
        [StructField("b", LongType()), StructField("a", LongType()),
         StructField("c", StringType())]
    )
    fn = build(
        schema,
        ["b"],
        [
            ("n", "count_star", None, LongType()),
            ("cd", "count_distinct", "c", LongType()),
            ("cc", "count", "c", LongType()),
        ],
    )
    states: dict = {}
    out = []
    for a, b, c in data:
        out.extend(feed(fn, states, [(b, a, c)], ["b", "a", "c"], ["b"]))
    final = retract_fold(out, ["b", "n", "cd", "cc"])
    # CntNullNonNull(DISTINCT c) = "<distinct non-null>|<has null>"
    got = sorted(f"{b},{n},{cd}|{1 if n - cc > 0 else 0}" for b, n, cd, cc in final)
    assert got == sorted(
        ["1,1,1|0", "2,2,1|0", "3,4,1|1", "4,7,4|1", "5,3,2|1"]
    )
