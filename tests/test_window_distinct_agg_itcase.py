"""WindowDistinctAggregateITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
WindowDistinctAggregateITCase.scala — window TVF aggregates with
DISTINCT aggregates, run both DIRECT and through the SPLIT-DISTINCT
plan (the ITCase's SplitDistinct=true/false parameterization:
TABLE_OPTIMIZER_DISTINCT_AGG_SPLIT_ENABLED shards the distinct key
into hash buckets, partial-aggregates per (key, bucket), then sums
the disjoint partials — results must be identical).

Fixture = TestData.windowDataWithTimestamp (TestData.scala:729, same
11 rows as tests/test_window_agg_itcase.py); agg list here is the
ITCase's: COUNT(*), SUM(bigdec), MAX(double), MIN(float),
COUNT(DISTINCT string).

What these cases pin beyond the WindowAggregateITCase ports:
- tumble/hop/cumulate distinct aggregates keyed and window-only;
- CASCADING tumble windows (5s inner -> 10s outer over window_time),
  incl. the GROUPING SETS variant — the outer ingests the inner's
  emissions as window-attributed input (accumulate-first ordering,
  ``input_attributed=True`` on streaming_window_tvf_agg);
- split-distinct == direct for every window kind (bucketed partial
  COUNT(DISTINCT) sums are exact because buckets partition values).

Expected rows are the ITCase's own (ported test data, Apache-2.0);
implementation under test is original (streaming/window_tvf.py).
"""

from __future__ import annotations

import zlib
from decimal import Decimal

import pandas as pd

from pyspark.sql.types import (
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap
from flink_release_1_16_0_spark.streaming.window_tvf import (
    streaming_window_tvf_agg,
)
from tests.test_window_agg_itcase import (
    COLUMNS,
    IN_SCHEMA,
    ROWS,
    _batches,
    _v,
    jfmt,
)

SEC = 1000

# the ITCase's agg list: COUNT(*), SUM(bigdec), MAX(double),
# MIN(float), COUNT(DISTINCT string)
DAGGS = [
    ("cnt", "count_star", None, LongType()),
    ("sum_dec", "sum", "bigdec", StringType()),
    ("max_d", "max", "double", DoubleType()),
    ("min_f", "min", "float", FloatType()),
    ("cd", "count_distinct", "string", LongType()),
]

NAME_KEY = [StructField("name", StringType())]
G_KEY = [StructField("__g", LongType())]


def _norm_key(key) -> tuple:
    vals = key if isinstance(key, tuple) else (key,)
    return tuple(None if v != v else v for v in vals)


def _drive(fn, key_cols, in_cols, batches, wm_seq):
    """replay with every-known-key invocation on empty batches."""
    states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        if batch is None or len(batch) == 0:
            for kt, st in states.items():
                st._wm = wm
                empty = pd.DataFrame(columns=in_cols)
                for emitted in fn(kt, iter([empty]), st):
                    out.extend(emitted.to_dict("records"))
            continue
        pdf = (
            batch
            if isinstance(batch, pd.DataFrame)
            else pd.DataFrame(batch, columns=in_cols)
        )
        for key, grp in pdf.groupby(list(key_cols), sort=False, dropna=False):
            kt = _norm_key(key)
            st = states.setdefault(kt, FakeGroupState())
            st._wm = wm
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))
    return out


def _build(keys, key_fields, aggs=DAGGS, window_time=False, attributed=False, **win):
    cap = _Cap(StructType(key_fields + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_agg(
        cap,
        keys,
        "rowtime",
        aggs,
        emit_window_time=window_time,
        input_attributed=attributed,
        **win,
    )
    return cap.fn


def run_by_name(**win):
    fn = _build(["name"], NAME_KEY, **win)
    batches, wm_seq = _batches()
    return _drive(fn, ["name"], COLUMNS, batches, wm_seq)


def run_global(**win):
    fn = _build(["__g"], G_KEY, **win)
    batches, wm_seq = _batches()
    gb = [
        None if not b else [{"__g": 0, **r} for r in b] for b in batches
    ]
    gcols = ["__g"] + COLUMNS
    gb = [None if b is None else pd.DataFrame(b, columns=gcols) for b in gb]
    return _drive(fn, ["__g"], gcols, gb, wm_seq)


def fmt(rows, prefix_name=True, prefix_cols=()):
    out = []
    for r in rows:
        parts = [str(r[c]) for c in prefix_cols]
        if prefix_name:
            parts.append("null" if r.get("name") is None else str(r["name"]))
        parts += [jfmt(r["window_start"]), jfmt(r["window_end"])]
        parts += [
            str(r["cnt"]),
            _v(r["sum_dec"]),
            _v(r["max_d"]),
            _v(r["min_f"]),
            str(r["cd"]),
        ]
        out.append(",".join(parts))
    return sorted(out)


# ---------------------------------------------------------------------------
# direct (SplitDistinct=false) cases
# ---------------------------------------------------------------------------


def test_tumble_window():
    # testTumbleWindow: GROUP BY window only
    rows = run_global(kind="tumble", size_ms=5 * SEC)
    assert fmt(rows, prefix_name=False) == sorted(
        [
            "2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2",
            "2020-10-10T00:00:05,2020-10-10T00:00:10,3,9.99,6.0,3.0,3",
            "2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2,11.10,7.0,3.0,1",
        ]
    )


HOP_EXPECTED = [
    "a,2020-10-09T23:59:55,2020-10-10T00:00:05,4,11.10,5.0,1.0,2",
    "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3",
    "a,2020-10-10T00:00:05,2020-10-10T00:00:15,1,3.33,null,3.0,1",
    "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2",
    "b,2020-10-10T00:00:05,2020-10-10T00:00:15,2,6.66,6.0,3.0,2",
    "b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
    "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1",
    "b,2020-10-10T00:00:25,2020-10-10T00:00:35,1,3.33,3.0,3.0,1",
    "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1",
    "null,2020-10-10T00:00:25,2020-10-10T00:00:35,1,7.77,7.0,7.0,0",
    "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0",
]


def test_hop_window():
    rows = run_by_name(kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC)
    assert fmt(rows) == sorted(HOP_EXPECTED)


CUMULATE_EXPECTED = [
    "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2",
    "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3",
    "a,2020-10-10T00:00,2020-10-10T00:00:15,6,19.98,5.0,1.0,3",
    "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2",
    "b,2020-10-10T00:00,2020-10-10T00:00:15,2,6.66,6.0,3.0,2",
    "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
    "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1",
    "b,2020-10-10T00:00:15,2020-10-10T00:00:30,1,4.44,4.0,4.0,1",
    "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1",
    "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1",
    "b,2020-10-10T00:00:30,2020-10-10T00:00:45,1,3.33,3.0,3.0,1",
    "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0",
    "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0",
    "null,2020-10-10T00:00:30,2020-10-10T00:00:45,1,7.77,7.0,7.0,0",
]


def test_cumulate_window():
    rows = run_by_name(kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC)
    assert fmt(rows) == sorted(CUMULATE_EXPECTED)


# ---------------------------------------------------------------------------
# split-distinct (SplitDistinct=true): shard by hash bucket of the
# distinct key, partial-agg per (key, bucket), sum disjoint partials
# ---------------------------------------------------------------------------


def _bucket(s) -> int:
    return 0 if s is None else zlib.crc32(s.encode()) % 3


def run_split_by_name(**win):
    key_fields = NAME_KEY + [StructField("__b", LongType())]
    cap = _Cap(StructType(key_fields + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_agg(cap, ["name", "__b"], "rowtime", DAGGS, **win)
    fn = cap.fn
    batches, wm_seq = _batches()
    bcols = ["__b"] + COLUMNS
    bb = []
    for b in batches:
        if not b:
            bb.append(None)
            continue
        bb.append(
            pd.DataFrame(
                [{"__b": _bucket(r["string"]), **r} for r in b], columns=bcols
            )
        )
    partials = _drive(fn, ["name", "__b"], bcols, bb, wm_seq)
    # final agg: sum the disjoint per-bucket partials per (name, window)
    final: dict[tuple, dict] = {}
    for p in partials:
        k = (p["name"], p["window_start"], p["window_end"])
        f = final.setdefault(
            k,
            {
                "name": p["name"],
                "window_start": p["window_start"],
                "window_end": p["window_end"],
                "cnt": 0,
                "sum_dec": None,
                "max_d": None,
                "min_f": None,
                "cd": 0,
            },
        )
        f["cnt"] += p["cnt"]
        f["cd"] += p["cd"]
        if p["sum_dec"] is not None:
            cur = Decimal(f["sum_dec"]) if f["sum_dec"] is not None else Decimal(0)
            f["sum_dec"] = str(cur + Decimal(p["sum_dec"]))
        for c, red in (("max_d", max), ("min_f", min)):
            v = p[c]
            if v is not None and v == v:
                f[c] = v if f[c] is None else red(f[c], v)
    return list(final.values())


def test_split_distinct_tumble():
    direct = fmt(run_by_name(kind="tumble", size_ms=5 * SEC))
    split = fmt(run_split_by_name(kind="tumble", size_ms=5 * SEC))
    assert split == direct


def test_split_distinct_hop():
    split = fmt(run_split_by_name(kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC))
    assert split == sorted(HOP_EXPECTED)


def test_split_distinct_cumulate():
    split = fmt(
        run_split_by_name(kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC)
    )
    assert split == sorted(CUMULATE_EXPECTED)


# ---------------------------------------------------------------------------
# cascading tumble windows: 5s inner -> 10s outer on window_time
# ---------------------------------------------------------------------------

OUTER_AGGS = [
    ("cnt", "sum", "cnt", StringType()),
    ("sum_dec", "sum", "sum_dec", StringType()),
    ("max_d", "max", "max_d", DoubleType()),
    ("min_f", "min", "min_f", FloatType()),
    ("cd", "sum", "cd", StringType()),  # SUM(uv)
]

INNER_OUT = ["name", "rowtime", "cnt", "sum_dec", "max_d", "min_f", "cd"]


def _outer_schema(extra_key=None):
    fields = [StructField("name", StringType())]
    if extra_key:
        fields = [StructField(extra_key, LongType())] + fields
    fields += [
        StructField("rowtime", TimestampType()),
        StructField("cnt", LongType()),
        StructField("sum_dec", StringType()),
        StructField("max_d", DoubleType()),
        StructField("min_f", FloatType()),
        StructField("cd", LongType()),
    ]
    return StructType(fields)


def _cascade(grouping_sets=False):
    """Inner 5s tumble (keyed name; plus the global set when
    grouping_sets) -> outer 10s tumble over window_time. Inner
    emissions feed the outer IN THE SAME batch at the same watermark —
    the outer runs accumulate-first (input_attributed)."""
    inner_by_name = _build(
        ["name"], NAME_KEY, window_time=True, kind="tumble", size_ms=5 * SEC
    )
    inner_global = (
        _build(["__g"], G_KEY, window_time=True, kind="tumble", size_ms=5 * SEC)
        if grouping_sets
        else None
    )

    outer_key = ["gid", "name"] if grouping_sets else ["name"]
    ocols = (["gid"] if grouping_sets else []) + INNER_OUT
    ocap = _Cap(_outer_schema("gid" if grouping_sets else None))
    streaming_window_tvf_agg(
        ocap,
        outer_key,
        "rowtime",
        OUTER_AGGS,
        kind="tumble",
        size_ms=10 * SEC,
        input_attributed=True,
    )
    outer_fn = ocap.fn

    batches, wm_seq = _batches()
    inner_states: dict[tuple, FakeGroupState] = {}
    g_state = FakeGroupState()
    outer_states: dict[tuple, FakeGroupState] = {}
    final: list[dict] = []

    def feed_outer(rows, wm):
        if not rows:
            return
        pdf = pd.DataFrame(rows, columns=ocols)
        for key, grp in pdf.groupby(outer_key, sort=False, dropna=False):
            kt = _norm_key(key)
            st = outer_states.setdefault(kt, FakeGroupState())
            st._wm = wm
            for emitted in outer_fn(kt, iter([grp.reset_index(drop=True)]), st):
                final.extend(emitted.to_dict("records"))

    def inner_row(r, gid):
        row = {
            "name": r.get("name"),
            "rowtime": r["window_time"],
            "cnt": r["cnt"],
            "sum_dec": r["sum_dec"],
            "max_d": r["max_d"],
            "min_f": r["min_f"],
            "cd": r["cd"],
        }
        if grouping_sets:
            row = {"gid": gid, **row}
            if gid == 1:
                row["name"] = None
        return row

    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        mid: list[dict] = []
        # inner keyed by name
        if batch:
            pdf = pd.DataFrame(batch, columns=COLUMNS)
            for key, grp in pdf.groupby(["name"], sort=False, dropna=False):
                kt = _norm_key(key)
                st = inner_states.setdefault(kt, FakeGroupState())
                st._wm = wm
                for emitted in inner_by_name(
                    kt, iter([grp.reset_index(drop=True)]), st
                ):
                    mid += [inner_row(r, 0) for r in emitted.to_dict("records")]
            if inner_global is not None:
                g_state._wm = wm
                gpdf = pdf.copy()
                for emitted in inner_global((0,), iter([gpdf]), g_state):
                    mid += [inner_row(r, 1) for r in emitted.to_dict("records")]
        else:  # flush
            empty = pd.DataFrame(columns=COLUMNS)
            for kt, st in inner_states.items():
                st._wm = wm
                for emitted in inner_by_name(kt, iter([empty]), st):
                    mid += [inner_row(r, 0) for r in emitted.to_dict("records")]
            if inner_global is not None:
                g_state._wm = wm
                for emitted in inner_global((0,), iter([empty]), g_state):
                    mid += [inner_row(r, 1) for r in emitted.to_dict("records")]
        feed_outer(mid, wm)

    # one more outer pass: the last batch's inner emissions were
    # accumulated at the final watermark — fire them
    for kt, st in outer_states.items():
        st._wm = 10**15
        empty = pd.DataFrame(columns=ocols)
        for emitted in outer_fn(kt, iter([empty]), st):
            final.extend(emitted.to_dict("records"))
    return final


def test_cascading_tumble_window():
    rows = _cascade()
    assert fmt(rows) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:10,5,14.43,5.0,1.0,3",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2",
            "b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0",
        ]
    )


def test_cascading_tumble_window_grouping_sets():
    rows = _cascade(grouping_sets=True)
    assert fmt(rows, prefix_cols=("gid",)) == sorted(
        [
            "0,a,2020-10-10T00:00,2020-10-10T00:00:10,5,14.43,5.0,1.0,3",
            "0,b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2",
            "0,b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
            "0,b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1",
            "0,null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0",
            "1,null,2020-10-10T00:00,2020-10-10T00:00:10,7,21.09,6.0,1.0,5",
            "1,null,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1",
            "1,null,2020-10-10T00:00:30,2020-10-10T00:00:40,2,11.10,7.0,3.0,1",
        ]
    )
