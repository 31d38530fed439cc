"""Streaming Join + SemiAntiJoin conformance suites, ported from the
reference's stream-SQL ITCase corpus:

- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  JoinITCase.scala (non-window inner join with NULL keys + non-equi
  residual, duplicate-record multiplicity, left/full outer joins with
  the null-pad retraction protocol)
- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  SemiAntiJoinStreamITCase.scala (IN / NOT EXISTS with retracting
  aggregate inputs on one and both sides)

Harness: replay the production applyInPandasWithState closures
(tools/fuzz_changelog capture shim) with ``dropna=False`` grouping so
NULL join keys reach the operator exactly as Spark's groupBy delivers
them. Folds follow TestingRetractSink: Counter += m on +I, -= m on -D.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest

from tools.fuzz_changelog import (
    COUNT_SUM,
    FakeGroupState,
    _Cap,
    _schema,
)
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
)


@pytest.fixture(autouse=True)
def _needs_spark(spark):
    return spark


def replay_nullkeys(fn, batches, key_cols, columns):
    """replay() with dropna=False so NULL-key groups reach fn (the
    production groupBy keeps null keys; pandas drops them by default)."""
    states: dict = {}
    out: list[dict] = []
    for batch in batches:
        if not batch:
            continue
        pdf = pd.DataFrame(batch, columns=columns)
        for key, grp in pdf.groupby(list(key_cols), sort=False, dropna=False):
            kt = key if isinstance(key, tuple) else (key,)
            st = states.setdefault(kt, FakeGroupState())
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))
    return out


def _norm(x):
    if isinstance(x, float):
        if x != x:
            return None
        if x.is_integer():
            return int(x)
    return x


def fold(emissions, cols):
    c: Counter = Counter()
    for r in emissions:
        s = r["__m"] if r[ROWKIND] == INSERT else -r["__m"]
        c[tuple(_norm(r[col]) for col in cols)] += s
    return Counter({t: m for t, m in c.items() if m != 0})


def _join_fn(lddl, rddl, keys, join_type):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_join,
    )

    lcap, rcap = _Cap(_schema(lddl)), _Cap(_schema(rddl))
    streaming_changelog_join(
        lcap, rcap, keys=keys, seq_col="seq", join_type=join_type
    )
    return lcap.fn or rcap.fn


def _semi_fn(lddl, rddl, keys, anti):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_semi_anti_join,
    )

    lcap, rcap = _Cap(_schema(lddl)), _Cap(_schema(rddl))
    streaming_changelog_semi_anti_join(
        lcap, rcap, keys=keys, seq_col="seq", anti=anti
    )
    return lcap.fn or rcap.fn


def merge_sides(left_rows, right_rows, arrival=None):
    """Union layout the join closures consume: (kind, seq, key, __side,
    lpay..., rpay...) with the other side's payload slots None-padded.
    ``arrival`` interleaves; default = left first."""
    n_l = len(left_rows[0][2]) if left_rows else 0
    n_r = len(right_rows[0][2]) if right_rows else 0
    merged = []
    for side, rows in (("L", left_rows), ("R", right_rows)):
        for r in rows:
            merged.append((side, r))
    if arrival:
        merged = [merged[i] for i in arrival]
    out = []
    for i, (side, r) in enumerate(merged):
        kind, key, pay = r
        if side == "L":
            full = (*pay, *([None] * n_r))
        else:
            full = (*([None] * n_l), *pay)
        out.append((kind, i, key, side, *full))
    return out


# ---------------------------------------------------------------------------
# JoinITCase ports
# ---------------------------------------------------------------------------

# TestData.smallTupleData3 / tupleData5 (TestData.scala:161,370)
SMALL3 = [(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")]
TUPLE5 = [
    (1, 1, 0, "Hallo", 1),
    (2, 2, 1, "Hallo Welt", 2),
    (2, 3, 2, "Hallo Welt wie", 1),
    (3, 4, 3, "Hallo Welt wie gehts?", 2),
    (3, 5, 4, "ABC", 2),
    (3, 6, 5, "BCD", 3),
    (4, 7, 6, "CDE", 2),
    (4, 8, 7, "DEF", 1),
    (4, 9, 8, "EFG", 1),
    (4, 10, 9, "FGH", 2),
    (5, 11, 10, "GHI", 1),
    (5, 12, 11, "HIJ", 3),
    (5, 13, 12, "IJK", 3),
    (5, 14, 13, "JKL", 2),
    (5, 15, 14, "KLM", 2),
]
# JoinITCase locals (JoinITCase.scala:41-61)
SMALL5 = TUPLE5[:6]
CANNOT_JOIN = TUPLE5[2:6]
TUPLE3 = SMALL3


def test_non_window_inner_join():
    """JoinITCase.testNonWindowInnerJoin (JoinITCase.scala:184): inner
    join on if(a=3, NULL, a) — NULL keys NEVER join — with the
    non-equi residual t1.b > t2.b applied to the joined stream."""
    d1 = [
        (1, 1, "Hi1"), (1, 2, "Hi2"), (1, 2, "Hi2"), (1, 5, "Hi3"),
        (2, 7, "Hi5"), (1, 9, "Hi6"), (1, 8, "Hi8"), (3, 8, "Hi9"),
    ]
    d2 = [(1, 1, "HiHi"), (2, 2, "HeHe"), (3, 2, "HeHe")]

    def nk(a):
        return None if a == 3 else a

    left = [(INSERT, nk(a), (b, c)) for a, b, c in d1]
    right = [(INSERT, nk(a), (b, c)) for a, b, c in d2]
    fn = _join_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, lb BIGINT, lc STRING",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rb BIGINT, rc STRING",
        ["k"], "inner",
    )
    merged = merge_sides(left, right)
    out = replay_nullkeys(
        fn, [[m] for m in merged], ["k"],
        [ROWKIND, "seq", "k", "__side", "lb", "lc", "rb", "rc"],
    )
    # the residual t1.b > t2.b is a Calc on the joined changelog
    out = [r for r in out if r["lb"] > r["rb"]]
    got = fold(out, ["k", "rc", "lc"])
    assert got == Counter(
        {
            (1, "HiHi", "Hi2"): 2,
            (1, "HiHi", "Hi3"): 1,
            (1, "HiHi", "Hi6"): 1,
            (1, "HiHi", "Hi8"): 1,
            (2, "HeHe", "Hi5"): 1,
        }
    )


def test_stream_join_with_same_record():
    """JoinITCase.testStreamJoinWithSameRecord (JoinITCase.scala:473):
    duplicate records carry MULTIPLICITY — each pk 1..5 appears twice
    on the left, once on the right, so each joined row nets 2."""
    left = [(INSERT, pk, (pk,)) for pk in (1, 1, 2, 2, 3, 3, 4, 4, 5, 5)]
    right = [(INSERT, pk, (pk,)) for pk in range(1, 11)]
    fn = _join_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, la BIGINT",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, ra BIGINT",
        ["k"], "inner",
    )
    merged = merge_sides(left, right)
    out = replay_nullkeys(
        fn, [[m] for m in merged], ["k"],
        [ROWKIND, "seq", "k", "__side", "la", "ra"],
    )
    got = fold(out, ["k", "la", "ra"])
    assert got == Counter({(pk, pk, pk): 2 for pk in range(1, 6)})


def _outer_join_port(right_rows, expected, join_type="left"):
    left = [(INSERT, b, (c,)) for _a, b, c in TUPLE3]
    right = [(INSERT, e, (g,)) for _d, e, _f, g, _h in right_rows]
    fn = _join_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, c STRING",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, g STRING",
        ["k"], join_type,
    )
    merged = merge_sides(left, right)
    out = replay_nullkeys(
        fn, [[m] for m in merged], ["k"],
        [ROWKIND, "seq", "k", "__side", "c", "g"],
    )
    assert fold(out, ["k", "c", "g"]) == Counter(expected)


def test_left_outer_join():
    """JoinITCase.testLeftOuterJoin (JoinITCase.scala:441): no key
    matches at all — every left row survives null-padded, right rows
    vanish."""
    _outer_join_port(
        CANNOT_JOIN,
        {
            (1, "Hi", None): 1,
            (2, "Hello", None): 1,
            (2, "Hello world", None): 1,
        },
    )


def test_left_outer_join_with_retraction():
    """JoinITCase.testLeftOuterJoinWithRetraction (JoinITCase.scala
    :457): each left row pads first (its match arrives later in the
    union order), then the pad RETRACTS when the first right match
    lands — the folded result holds only joined rows."""
    _outer_join_port(
        SMALL5,
        {
            (1, "Hi", "Hallo"): 1,
            (2, "Hello", "Hallo Welt"): 1,
            (2, "Hello world", "Hallo Welt"): 1,
        },
    )


def test_full_outer_join():
    """JoinITCase.testFullOuterJoin (JoinITCase.scala:513): A FULL
    OUTER JOIN B ON a2 = b2 — 3 joined rows + 13 right-only
    null-padded rows."""
    left = [(INSERT, a2, (a3,)) for _a1, a2, a3 in SMALL3]
    right = [(INSERT, b2, (b4,)) for _b1, b2, _b3, b4, _b5 in TUPLE5]
    fn = _join_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, a3 STRING",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, b4 STRING",
        ["k"], "full",
    )
    merged = merge_sides(left, right)
    out = replay_nullkeys(
        fn, [[m] for m in merged], ["k"],
        [ROWKIND, "seq", "k", "__side", "a3", "b4"],
    )
    got = fold(out, ["a3", "b4"])
    right_only = [
        "Hallo Welt wie", "Hallo Welt wie gehts?", "ABC", "BCD", "CDE",
        "DEF", "EFG", "FGH", "GHI", "HIJ", "IJK", "JKL", "KLM",
    ]
    assert got == Counter(
        {
            ("Hi", "Hallo"): 1,
            ("Hello", "Hallo Welt"): 1,
            ("Hello world", "Hallo Welt"): 1,
            **{(None, b4): 1 for b4 in right_only},
        }
    )


# ---------------------------------------------------------------------------
# SemiAntiJoinStreamITCase ports
# ---------------------------------------------------------------------------

SA_DATA = [  # SemiAntiJoinStreamITCase.scala:48
    (1, 1, 0, "Hallo", 1),
    (2, 2, 1, "Hallo Welt", 2),
    (2, 3, 2, "Hallo Welt wie", 1),
    (3, 4, 3, "Hallo Welt wie gehts?", 2),
    (3, 5, 4, "ABC", 2),
    (3, 6, 5, "BCD", 3),
]
SA_DATA2 = [(1, 1, "Hi"), (2, 2, "Hello"), (3, 2, "Hello world")]


def _run_semi(left, right, anti, lpay_ddl, fold_cols):
    fn = _semi_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, {lpay_ddl}",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rpad BIGINT",
        ["k"], anti,
    )
    merged = merge_sides(left, right)
    lcols = [c.split()[0] for c in lpay_ddl.split(", ")]
    out = replay_nullkeys(
        fn, [[m] for m in merged], ["k"],
        [ROWKIND, "seq", "k", "__side", *lcols, "rpad"],
    )
    return fold(out, fold_cols)


def test_generic_semi_join():
    """SemiAntiJoinStreamITCase.testGenericSemiJoin (SemiAntiJoinStream
    ITCase.scala:69): a IN (SELECT d FROM ds2 WHERE d < 3)."""
    left = [(INSERT, a, (b, c)) for a, b, c in SA_DATA2]
    right = [(INSERT, d, (None,)) for d, *_ in SA_DATA if d < 3]
    got = _run_semi(left, right, False, "b BIGINT, c STRING", ["k", "b", "c"])
    assert got == Counter({(1, 1, "Hi"): 1, (2, 2, "Hello"): 1})


def test_generic_anti_join():
    """SemiAntiJoinStreamITCase.testGenericAntiJoin (SemiAntiJoinStream
    ITCase.scala:160): NOT EXISTS (b = g) — left keyed on b, right on
    g; survivors are the f-column of rows whose b has no g."""
    left = [(INSERT, b, (f,)) for _a, b, f, _g, _h in SA_DATA]
    right = [(INSERT, g, (None,)) for _f, g, _h in SA_DATA2]
    got = _run_semi(left, right, True, "f BIGINT", ["f"])
    assert got == Counter({(2,): 1, (3,): 1, (4,): 1, (5,): 1})


def _agg_emissions_per_batch(data, keys_cols):
    """Per-source-row batches of a retracting SUM/COUNT changelog —
    the reference's `SELECT SUM(x) FROM t GROUP BY g` subquery."""
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    cap = _Cap(_schema(f"{ROWKIND} STRING, g STRING, v DOUBLE"))
    streaming_retracting_multi_agg(cap, ["g"], COUNT_SUM, rowkind_col=ROWKIND)
    states: dict = {}
    out_batches = []
    for v, g in data:
        pdf = pd.DataFrame(
            [(INSERT, g, float(v))], columns=[ROWKIND, "g", "v"]
        )
        st = states.setdefault((g,), FakeGroupState())
        rows = []
        for emitted in cap.fn((g,), iter([pdf]), st):
            rows.extend(emitted.to_dict("records"))
        out_batches.append(rows)
    return out_batches


SA_RIGHT = [  # SemiAntiJoinStreamITCase.scala:96 rightTable
    (0, "a"), (1, "a"), (1, "b"), (1, "b"), (1, "c"), (2, "c"),
    (3, "c"), (4, "c"), (1, "d"), (2, "d"), (3, "d"), (4, "e"), (4, "e"),
]


def _semi_with_agg_right(left_rows, right_data, anti):
    """LEFT anti/semi joined against `SELECT SUM(c) FROM t GROUP BY d`:
    the agg's -U/+U emissions feed the join's right side keyed on the
    SUM VALUE, reproducing the membership flips as sums pass through
    left values."""
    fn = _semi_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, lb STRING",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rpad BIGINT",
        ["k"], anti,
    )
    states: dict = {}
    cols = [ROWKIND, "seq", "k", "__side", "lb", "rpad"]
    out: list[dict] = []
    seq = 0

    def feed(rows):
        nonlocal seq
        batch = []
        for r in rows:
            batch.append((*r[:1], seq, *r[1:]))
            seq += 1
        pdf = pd.DataFrame(batch, columns=cols)
        for key, grp in pdf.groupby(["k"], sort=False, dropna=False):
            kt = key if isinstance(key, tuple) else (key,)
            st = states.setdefault(kt, FakeGroupState())
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))

    for kind, a, b in left_rows:
        feed([(kind, a, "L", b, None)])
    for rows in _agg_emissions_per_batch(right_data, None):
        feed(
            [
                (r[ROWKIND], int(r["total"]), "R", None, 1)
                for r in rows
            ]
        )
    return fold(out, ["k", "lb"])


def test_semi_join_with_one_side_retraction():
    """SemiAntiJoinStreamITCase.testSemiJoinWithOneSideRetraction
    (SemiAntiJoinStreamITCase.scala:84): a IN (SELECT SUM(c) GROUP BY
    d) — the sums pass THROUGH the left values (c's running sum hits
    1, 4, 10), flipping memberships on and off; everything matches at
    the end."""
    left = [(INSERT, a, b) for a, b in
            [(1, "a"), (2, "b"), (10, "c"), (6, "d"), (8, "e")]]
    got = _semi_with_agg_right(left, SA_RIGHT, anti=False)
    assert got == Counter(
        {
            (1, "a"): 1,
            (2, "b"): 1,
            (10, "c"): 1,
            (6, "d"): 1,
            (8, "e"): 1,
        }
    )


def test_anti_join_with_one_side_retraction():
    """SemiAntiJoinStreamITCase.testAntiJoinWithOneSideRetraction
    (SemiAntiJoinStreamITCase.scala:146): NOT EXISTS over the same
    running sums — only (11, f) never sees its sum."""
    left = [(INSERT, a, b) for a, b in
            [(1, "a"), (2, "b"), (10, "c"), (6, "d"), (8, "e"), (11, "f")]]
    got = _semi_with_agg_right(left, SA_RIGHT, anti=True)
    assert got == Counter({(11, "f"): 1})


def test_semi_join_with_two_sides_retraction():
    """SemiAntiJoinStreamITCase.testSemiJoinWithRetractTwoSidesRetraction
    (SemiAntiJoinStreamITCase.scala:127): BOTH sides are retracting
    SUM changelogs of the same table — the left's own -U/+U updates
    must retract stale semi-join output."""
    table = [
        (0, "a"), (1, "a"), (1, "b"), (1, "b"), (1, "c"), (2, "c"),
        (3, "c"), (4, "c"), (1, "d"), (2, "d"), (3, "d"), (3, "e"),
        (5, "e"),
    ]
    fn = _semi_fn(
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, lpad BIGINT",
        f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rpad BIGINT",
        ["k"], False,
    )
    states: dict = {}
    cols = [ROWKIND, "seq", "k", "__side", "lpad", "rpad"]
    out: list[dict] = []
    seq = 0

    def feed(rows):
        nonlocal seq
        batch = []
        for r in rows:
            batch.append((*r[:1], seq, *r[1:]))
            seq += 1
        pdf = pd.DataFrame(batch, columns=cols)
        for key, grp in pdf.groupby(["k"], sort=False, dropna=False):
            kt = key if isinstance(key, tuple) else (key,)
            st = states.setdefault(kt, FakeGroupState())
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))

    lbatches = _agg_emissions_per_batch(table, None)
    rbatches = _agg_emissions_per_batch(table, None)
    for lb, rb in zip(lbatches, rbatches):
        feed([(r[ROWKIND], int(r["total"]), "L", 1, None) for r in lb])
        feed([(r[ROWKIND], int(r["total"]), "R", None, 1) for r in rb])
    got = fold(out, ["k"])
    assert got == Counter({(1,): 1, (2,): 1, (10,): 1, (6,): 1, (8,): 1})
