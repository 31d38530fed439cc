"""Properties of the shared streaming accumulator
(streaming/accumulators.py): merge equals sequential accumulation,
retracting every row empties it, Java truncating division, the scalar
and multiset MAX/MIN cells agree on append-only input, and the typed
state codec round-trips every cell kind the way Spark stores state.
Pure Python: no Spark session."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _make_type_verifier,
)

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


# ---------------------------------------------------------------------------
# the typed state codec: AggSpecs.state_fields / store / load
# ---------------------------------------------------------------------------

SCHEMA = StructType(
    [
        StructField("i", LongType()),
        StructField("f", DoubleType()),
        StructField("s", StringType()),
        StructField("w", LongType()),
        StructField("t", TimestampType()),
    ]
)
CODEC_SPECS = [
    *SPECS,
    ("mxt", "max", "t", TimestampType()),
    ("mnt", "min", "t", TimestampType()),
    ("cdt", "count_distinct", "t", LongType()),
]
T0 = datetime.datetime(2024, 1, 1)

# rows in their declared types (what the operators hand over): sums
# off the cent grid, NULLs, timestamps with microseconds
typed_rows_st = st.lists(
    st.tuples(
        st.none() | st.integers(-5, 5),
        st.none()
        | st.integers(-40, 40).map(lambda k: k / 8)
        | st.floats(-1e6, 1e6, allow_nan=False),
        st.none() | st.sampled_from("abcde"),
        st.none() | st.integers(0, 3),
        st.none() | st.integers(0, 5).map(lambda k: T0 + datetime.timedelta(microseconds=k * 1001)),
    ),
    max_size=12,
)


def _round_trip(specs: AggSpecs, accs: list) -> list:
    """Store ``accs``, check the stored tuple as Spark takes state, and
    load them back."""
    schema = StructType(specs.state_fields(SCHEMA))
    names = schema.fieldNames()
    assert len(set(names)) == len(names)
    stored = specs.store(accs)
    _make_type_verifier(schema, nullable=False)(stored)
    return specs.load(tuple(schema.fromInternal(schema.toInternal(stored))))


@settings(max_examples=200, deadline=None)
@given(groups=st.lists(st.tuples(typed_rows_st, typed_rows_st), max_size=4), changelog=st.booleans())
def test_codec_round_trip_keeps_emit_and_merge(groups, changelog):
    # changelog input retracts, some rows before (or without) their
    # accumulation: bag counts go negative; concat_distinct cannot
    # retract, so only append-only input carries it
    specs = AggSpecs(
        [s for s in CODEC_SPECS if not changelog or s[1] != "concat_distinct"], changelog
    )
    plan = specs.plan([f.name for f in SCHEMA.fields])
    accs = []
    for adds, retracts in groups:
        acc = Accumulator(len(specs.specs))
        for r in retracts if changelog else ():
            acc.add(plan, r, -1)
        for r in adds:
            acc.add(plan, r)
        accs.append(acc)
    loaded = _round_trip(specs, accs)
    assert [a.n for a in loaded] == [a.n for a in accs]
    assert [a.emit(specs) for a in loaded] == [a.emit(specs) for a in accs]
    for order in (accs, accs[::-1]):  # merge order shows in concat_distinct
        want, got = Accumulator(len(specs.specs)), Accumulator(len(specs.specs))
        for a in order:
            want.merge(specs, a)
        for a in (loaded if order is accs else loaded[::-1]):
            got.merge(specs, a)
        assert got.emit(specs) == want.emit(specs)


def test_codec_keeps_negative_bag_counts_and_empty_cells():
    specs = AggSpecs([("mx", "max", "i", LongType()), ("cd", "count_distinct", "s", LongType())], True)
    plan = specs.plan([f.name for f in SCHEMA.fields])
    early = Accumulator(2)
    early.add(plan, (3, None, "a", None, None), -1)  # retracted before accumulated
    emptied = Accumulator(2)
    emptied.add(plan, (4, None, None, None, None))
    emptied.add(plan, (4, None, None, None, None), -1)
    null_only = Accumulator(2)
    null_only.add(plan, (None, None, None, None, None))
    loaded = _round_trip(specs, [early, emptied, null_only, Accumulator(2)])
    assert [a.cells for a in loaded] == [
        [{3: -1}, {"a": -1}],
        [{}, None],
        [None, None],
        [None, None],
    ]
    assert [a.n for a in loaded] == [-1, 0, 1, 0]
    assert specs.store([]) == ([],) * specs.width


def test_codec_keeps_concat_distinct_insertion_order():
    specs = AggSpecs([("cc", "concat_distinct", "s", StringType())], False)
    plan = specs.plan([f.name for f in SCHEMA.fields])
    acc = Accumulator(1)
    for s in "cabca":
        acc.add(plan, (None, None, s, None, None))
    (loaded,) = _round_trip(specs, [acc])
    loaded.add(plan, (None, None, "d", None, None))
    assert loaded.emit(specs) == ("c|a|b|d",)
