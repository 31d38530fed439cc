"""Properties of the shared streaming accumulator
(streaming/accumulators.py): merge equals sequential accumulation,
retracting every row empties it, Java truncating division, and the
scalar and multiset MAX/MIN cells agree on append-only input. Pure
Python: no Spark session."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import DecimalType, DoubleType, LongType, StringType

from flink_release_1_16_0_spark.streaming.accumulators import (
    Accumulator,
    AggSpecs,
    jdiv,
)

COLS = ("i", "f", "s", "w")

SPECS = [
    ("n", "count_star", None, LongType()),
    ("c", "count", "s", LongType()),
    ("s_str", "sum", "f", StringType()),
    ("s_dbl", "sum", "f", DoubleType()),
    ("s_dec", "sum", "f", DecimalType(38, 10)),
    ("si", "sum_int", "i", LongType()),
    ("ai", "avg_int", "i", LongType()),
    ("wa", "weighted_avg", ("i", "w"), LongType()),
    ("mx", "max", "f", DoubleType()),
    ("mn", "min", "s", StringType()),
    ("mxd", "max_distinct", "i", LongType()),
    ("mnd", "min_distinct", "i", LongType()),
    ("cd", "count_distinct", "s", LongType()),
    ("sdi", "sum_distinct_int", "i", LongType()),
    ("adi", "avg_distinct_int", "i", LongType()),
    ("cc", "concat_distinct", "s", StringType()),
    ("la", "listagg", "s", StringType(), ";"),
]

# NaN is pandas' float NULL; eighths are off the cent grid but exact
rows_st = st.lists(
    st.tuples(
        st.none() | st.integers(-5, 5),
        st.none() | st.just(float("nan")) | st.integers(-40, 40).map(lambda k: k / 8),
        st.none() | st.sampled_from("abcde"),
        st.none() | st.integers(0, 3),
    ),
    max_size=25,
)


def _fed(specs: AggSpecs, rows, sign: int = 1, acc: Accumulator | None = None):
    acc = acc or Accumulator(len(specs.specs))
    plan = specs.plan(COLS)
    for r in rows:
        acc.add(plan, r, sign)
    return acc


@settings(max_examples=200, deadline=None)
@given(a=rows_st, b=rows_st, changelog=st.booleans())
def test_merge_equals_sequential(a, b, changelog):
    specs = AggSpecs(SPECS, changelog)
    acc_a, acc_b = _fed(specs, a), _fed(specs, b)
    b_before = acc_b.emit(specs)
    acc_a.merge(specs, acc_b)
    assert acc_a.emit(specs) == _fed(specs, a + b).emit(specs)
    assert acc_b.emit(specs) == b_before  # merge leaves its argument alone


@settings(max_examples=200, deadline=None)
@given(rows=rows_st, data=st.data())
def test_retracting_every_row_empties(rows, data):
    # concat_distinct is append-only (it raises on retraction)
    specs = AggSpecs([s for s in SPECS if s[1] != "concat_distinct"], True)
    acc = _fed(specs, rows)
    _fed(specs, data.draw(st.permutations(rows)), sign=-1, acc=acc)
    zero = ("count_star", "count", "count_distinct")
    assert acc.n == 0
    assert acc.emit(specs) == tuple(0 if s[1] in zero else None for s in specs.specs)


@given(a=st.integers(-10**6, 10**6), b=st.integers(-10**3, 10**3).filter(bool))
def test_jdiv_truncates_toward_zero(a, b):
    q = jdiv(a, b)
    r = a - q * b
    assert abs(r) < abs(b)
    assert r == 0 or (r > 0) == (a > 0)


def test_jdiv_sign_combinations():
    assert [jdiv(7, 2), jdiv(-7, 2), jdiv(7, -2), jdiv(-7, -2)] == [3, -3, -3, 3]


@settings(max_examples=200, deadline=None)
@given(rows=rows_st)
def test_scalar_and_multiset_cells_agree_on_inserts(rows):
    scalar, multiset = AggSpecs(SPECS, False), AggSpecs(SPECS, True)
    assert scalar.cells != multiset.cells
    assert _fed(scalar, rows).emit(scalar) == _fed(multiset, rows).emit(multiset)
