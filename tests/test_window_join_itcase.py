"""WindowJoinITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
WindowJoinITCase.scala (event-time, non-LTZ parameterization).

Fixtures: T1 = TestData.windowDataWithTimestamp, T2 =
TestData.windowData2WithTimestamp (same rows, names a -> a1) — so 'a'
windows never match, 'b' windows match, and NULL-name windows match
only under IS NOT DISTINCT FROM. Both sources replay on the shared
per-row watermark schedule (the reference's two parallel sources carry
identical timestamps, so min-of-sources equals the single schedule).

Operator under test: streaming_window_tvf_join (window_tvf.py) — the
reference's StreamExecWindowJoin buffering both sides per (key,
window) and emitting once at the isWindowFired boundary. Covered
semantics, each pinned by the ITCase's own rows:

- inner/left/right/full/semi(EXISTS)/anti(NOT EXISTS) over two window
  AGGREGATES (attributed input, accumulate-first: the agg's firing
  batch feeds the join in the same micro-batch);
- the same joins directly over windowed TVF rows ("OnWTF"),
  fire-first, incl. tumble offsets;
- NULL-key behavior: equality never matches NULLs (null-name windows
  pad / anti-emit), IS NOT DISTINCT FROM matches them;
- NOT IN = null-aware anti join keyed by the window alone: one right
  NULL suppresses the window, left NULLs never emit;
- per-side window/name projection: unmatched sides render NULL name
  (the join never derives it) while the fired window renders from the
  surviving side — the reference's own expected rows pin both.

Expected rows are the ITCase's own (ported test data, Apache-2.0);
the implementation is original.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap
from flink_release_1_16_0_spark.streaming.window_tvf import (
    streaming_window_tvf_agg,
    streaming_window_tvf_join,
)
from tests.test_window_agg_itcase import (
    COLUMNS,
    IN_SCHEMA,
    SEC,
    _batches,
    jfmt,
    _v,
)

@pytest.fixture(autouse=True)
def _needs_spark(spark):
    # the join builder's union padding creates lit() Columns
    return spark


NAME = StructField("name", StringType())


def _t2_row(r: dict) -> dict:
    r = dict(r)
    if r["name"] == "a":
        r["name"] = "a1"
    return r


def _iv(v) -> str:
    return "null" if v is None or v != v else str(int(v))


# ---------------------------------------------------------------------------
# raw ("OnWTF") harness: windows assigned inside the join operator
# ---------------------------------------------------------------------------

# per-side payload copies so the SELECT can render L.* / R.* after an
# outer pad (the join emits key + window + disjoint payloads)
L_PAY = ["lrt", "lint", "ldouble", "lfloat", "lbigdec", "lstring", "lname"]
R_PAY = ["rint", "rstring", "rname"]

_L_SCHEMA = StructType(
    [
        NAME,
        IN_SCHEMA["rowtime"],
        StructField("lrt", IN_SCHEMA["rowtime"].dataType),
        StructField("lint", LongType()),
        StructField("ldouble", IN_SCHEMA["double"].dataType),
        StructField("lfloat", IN_SCHEMA["float"].dataType),
        StructField("lbigdec", StringType()),
        StructField("lstring", StringType()),
        StructField("lname", StringType()),
    ]
)
_R_SCHEMA = StructType(
    [
        NAME,
        IN_SCHEMA["rowtime"],
        StructField("rint", LongType()),
        StructField("rstring", StringType()),
        StructField("rname", StringType()),
    ]
)

RAW_COLS = ["name", "rowtime", "__side", *L_PAY, *R_PAY]


def _raw_row(r: dict, side: str) -> dict:
    base = {c: None for c in RAW_COLS}
    base["name"] = r["name"]
    base["rowtime"] = r["rowtime"]
    base["__side"] = side
    if side == "L":
        base.update(
            lrt=r["rowtime"],
            lint=r["int"],
            ldouble=r["double"],
            lfloat=r["float"],
            lbigdec=r["bigdec"],
            lstring=r["string"],
            lname=r["name"],
        )
    else:
        base.update(rint=r["int"], rstring=r["string"], rname=r["name"])
    return base


def run_raw_join(join_type, null_safe=False, **win):
    cap = _Cap(_L_SCHEMA)
    # the builder reads left/right schemas; feed matching _Caps
    streaming_window_tvf_join(
        cap,
        _Cap(_R_SCHEMA),
        ["name"],
        "rowtime",
        join_type=join_type,
        null_safe=null_safe,
        emit_window_time=True,
        **win,
    )
    fn = cap.fn
    batches, wm_seq = _batches()
    states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        rows = []
        for r in batch:
            rows.append(_raw_row(r, "L"))
            rows.append(_raw_row(_t2_row(r), "R"))
        if not rows:
            for kt, st in states.items():
                st._wm = wm
                for e in fn(kt, iter([pd.DataFrame(columns=RAW_COLS)]), st):
                    out.extend(e.to_dict("records"))
            continue
        pdf = pd.DataFrame(rows, columns=RAW_COLS)
        for key, grp in pdf.groupby(["name"], sort=False, dropna=False):
            k = key if not isinstance(key, tuple) else key[0]
            kt = (None,) if (k is None or k != k) else (k,)
            st = states.setdefault(kt, FakeGroupState())
            st._wm = wm
            for e in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(e.to_dict("records"))
    return out


def fmt_raw(rows, semi=False):
    """TO_TIMESTAMP(L.ts), L.int, L.double, L.float, L.bigdec,
    L.string, L.name, CAST(L.rowtime AS STRING), ws, we, wt
    [, R.int, R.string, R.name]."""
    got = []
    for r in rows:
        lrt = pd.Timestamp(r["lrt"])
        parts = [
            jfmt(lrt),
            _iv(r["lint"]),
            _v(r["ldouble"]),
            _v(r["lfloat"]),
            _v(r["lbigdec"]),
            _v(r["lstring"]),
            _v(r["lname"]),
            lrt.strftime("%Y-%m-%d %H:%M:%S") + f".{lrt.microsecond // 1000:03d}",
            jfmt(r["window_start"]),
            jfmt(r["window_end"]),
            jfmt(r["window_time"]),
        ]
        if not semi:
            parts += [_iv(r["rint"]), _v(r["rstring"]), _v(r["rname"])]
        got.append(",".join(parts))
    return sorted(got)


# ---------------------------------------------------------------------------
# agg -> join harness (attributed input): COUNT(DISTINCT string) per
# (name, tumble-5s window) on each side, joined per (name, window)
# ---------------------------------------------------------------------------

_UV = [("uv", "count_distinct", "string", LongType())]

_JL_SCHEMA = StructType(
    [NAME, StructField("lname", StringType()), StructField("uv1", LongType())]
)
_JR_SCHEMA = StructType(
    [NAME, StructField("rname", StringType()), StructField("uv2", LongType())]
)
_JOIN_IN_COLS = ["name", "window_start", "window_end", "__side",
                 "lname", "uv1", "rname", "uv2"]


def run_agg_join(join_type, null_safe=False, null_aware=False):
    agg_cap = _Cap(StructType([NAME] + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_agg(
        agg_cap, ["name"], "rowtime", _UV, kind="tumble", size_ms=5 * SEC
    )
    agg_fn = agg_cap.fn

    if null_aware:
        jl = StructType([StructField("__g", LongType()), *_JL_SCHEMA.fields])
        jr = StructType([StructField("__g", LongType()), *_JR_SCHEMA.fields])
        jl = StructType(
            [StructField("__g", LongType()), StructField("lname", StringType()),
             StructField("uv1", LongType())]
        )
        jr = StructType(
            [StructField("__g", LongType()), StructField("lname2", StringType()),
             StructField("uv2", LongType())]
        )
        join_keys = ["__g"]
        jcap = _Cap(jl)
        streaming_window_tvf_join(
            jcap, _Cap(jr), join_keys, "window_end",
            join_type="anti_null_aware", null_aware_col="lname",
            size_ms=0, input_attributed=True,
        )
    else:
        join_keys = ["name"]
        jcap = _Cap(_JL_SCHEMA)
        streaming_window_tvf_join(
            jcap, _Cap(_JR_SCHEMA), join_keys, "window_end",
            join_type=join_type, null_safe=null_safe,
            size_ms=0, input_attributed=True,
        )
    join_fn = jcap.fn

    batches, wm_seq = _batches()
    agg_states: dict[tuple, dict[tuple, FakeGroupState]] = {"L": {}, "R": {}}
    join_states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []

    def run_agg(side, batch, wm):
        emissions = []
        per_key: dict[tuple, pd.DataFrame] = {}
        if batch:
            rows = [r if side == "L" else _t2_row(r) for r in batch]
            pdf = pd.DataFrame(rows, columns=COLUMNS)
            for key, grp in pdf.groupby(["name"], sort=False, dropna=False):
                k = key if not isinstance(key, tuple) else key[0]
                kt = (None,) if (k is None or k != k) else (k,)
                per_key[kt] = grp.reset_index(drop=True)
        for kt in set(agg_states[side]) | set(per_key):
            st = agg_states[side].setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = per_key.get(kt, pd.DataFrame(columns=COLUMNS))
            for e in agg_fn(kt, iter([frame]), st):
                emissions.extend(e.to_dict("records"))
        return emissions

    def to_join_row(r, side):
        base = {c: None for c in _JOIN_IN_COLS}
        base["name"] = r["name"]
        base["window_start"] = r["window_start"]
        base["window_end"] = r["window_end"]
        base["__side"] = side
        if side == "L":
            base["lname"], base["uv1"] = r["name"], r["uv"]
        else:
            base["rname"], base["uv2"] = r["name"], r["uv"]
        if null_aware:
            base["__g"] = 0
            if side == "R":
                base["lname2"] = r["name"]
        return base

    jcols = _JOIN_IN_COLS + (["__g", "lname2"] if null_aware else [])
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        rows = [to_join_row(r, "L") for r in run_agg("L", batch, wm)]
        rows += [to_join_row(r, "R") for r in run_agg("R", batch, wm)]
        pdf = pd.DataFrame(rows, columns=jcols) if rows else None
        keyed: dict[tuple, pd.DataFrame] = {}
        if pdf is not None:
            for key, grp in pdf.groupby(join_keys, sort=False, dropna=False):
                k = key if not isinstance(key, tuple) else key[0]
                kt = (None,) if (k is None or (isinstance(k, float) and k != k)) else (k,)
                keyed[kt] = grp.reset_index(drop=True)
        for kt in set(join_states) | set(keyed):
            st = join_states.setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = keyed.get(kt, pd.DataFrame(columns=jcols))
            for e in join_fn(kt, iter([frame]), st):
                out.extend(e.to_dict("records"))
    return out


def fmt_agg_join(rows, cols):
    """cols is a tuple of selectors over the join output row."""
    got = []
    for r in rows:
        got.append(",".join(sel(r) for sel in cols))
    return sorted(got)


def _lname(r):
    return _v(r.get("lname"))


def _rname(r):
    return _v(r.get("rname"))


def _ws(r):
    return jfmt(r["window_start"])


def _we(r):
    return jfmt(r["window_end"])


def _uv1(r):
    return _iv(r.get("uv1"))


def _uv2(r):
    return _iv(r.get("uv2"))


# ---------------------------------------------------------------------------
# joins over window aggregates
# ---------------------------------------------------------------------------

INNER_COLS = (_lname, _ws, _we, _uv1, _uv2)


def test_inner_join():
    rows = run_agg_join("inner")
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
        ]
    )


def test_inner_join_is_not_distinct_from():
    rows = run_agg_join("inner", null_safe=True)
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,0,0",
        ]
    )


def test_semi_join_exists():
    rows = run_agg_join("semi")
    assert fmt_agg_join(rows, (_lname, _ws, _we, _uv1)) == sorted(
        [
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1",
        ]
    )


def test_anti_join_not_exists():
    rows = run_agg_join("anti")
    assert fmt_agg_join(rows, (_lname, _ws, _we, _uv1)) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,2",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,0",
        ]
    )


def test_anti_join_not_in():
    # NOT IN: null-aware — the right side's NULL name suppresses the
    # [30,35) window entirely and NULL left names never emit
    rows = run_agg_join("anti_null_aware", null_aware=True)
    assert fmt_agg_join(rows, (_lname, _ws, _we, _uv1)) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,2",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1",
        ]
    )


def test_left_join():
    rows = run_agg_join("left")
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,2,null",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,null",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,0,null",
        ]
    )


def test_left_join_is_not_distinct_from():
    rows = run_agg_join("left", null_safe=True)
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,2,null",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,null",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,0,0",
        ]
    )


def test_right_join():
    rows = run_agg_join("right")
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "null,2020-10-10T00:00,2020-10-10T00:00:05,null,2",
            "null,2020-10-10T00:00:05,2020-10-10T00:00:10,null,1",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,null,0",
        ]
    )


def test_right_join_is_not_distinct_from():
    rows = run_agg_join("right", null_safe=True)
    assert fmt_agg_join(rows, INNER_COLS) == sorted(
        [
            "null,2020-10-10T00:00,2020-10-10T00:00:05,null,2",
            "null,2020-10-10T00:00:05,2020-10-10T00:00:10,null,1",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,0,0",
        ]
    )


def _outer_cols():
    # L.name, L.ws, L.we, R.name, R.ws, R.we, uv1, uv2 — each side's
    # window renders only when that side is present (uv non-null)
    def lws(r):
        return _ws(r) if r.get("uv1") is not None and r["uv1"] == r["uv1"] else "null"

    def lwe(r):
        return _we(r) if r.get("uv1") is not None and r["uv1"] == r["uv1"] else "null"

    def rws(r):
        return _ws(r) if r.get("uv2") is not None and r["uv2"] == r["uv2"] else "null"

    def rwe(r):
        return _we(r) if r.get("uv2") is not None and r["uv2"] == r["uv2"] else "null"

    return (_lname, lws, lwe, _rname, rws, rwe, _uv1, _uv2)


def test_outer_join():
    rows = run_agg_join("full")
    assert fmt_agg_join(rows, _outer_cols()) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,null,null,null,2,null",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,null,null,null,1,null",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,null,null,null,0,null",
            "null,null,null,a1,2020-10-10T00:00,2020-10-10T00:00:05,null,2",
            "null,null,null,a1,2020-10-10T00:00:05,2020-10-10T00:00:10,null,1",
            "null,null,null,null,2020-10-10T00:00:30,2020-10-10T00:00:35,null,0",
        ]
    )


def test_outer_join_is_not_distinct_from():
    rows = run_agg_join("full", null_safe=True)
    assert fmt_agg_join(rows, _outer_cols()) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,null,null,null,2,null",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,null,null,null,1,null",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,null,2020-10-10T00:00:30,2020-10-10T00:00:35,0,0",
            "null,null,null,a1,2020-10-10T00:00,2020-10-10T00:00:05,null,2",
            "null,null,null,a1,2020-10-10T00:00:05,2020-10-10T00:00:10,null,1",
        ]
    )


# ---------------------------------------------------------------------------
# joins over raw windowed TVF rows ("OnWTF")
# ---------------------------------------------------------------------------

INNER_WTF_EXPECTED = sorted(
    [
        "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,3,Hello,b",
        "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,6,Hi,b",
        "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,3,Hello,b",
        "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,6,Hi,b",
        "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
        "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999,4,Hi,b",
        "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
        "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999,1,Comment#3,b",
    ]
)


def test_inner_join_on_wtf():
    rows = run_raw_join("inner", kind="tumble", size_ms=5 * SEC)
    assert fmt_raw(rows) == INNER_WTF_EXPECTED


def test_inner_join_on_wtf_with_offset():
    # TUMBLE 5s offset +1s — window [6,11) pairs the same b rows
    rows = run_raw_join("inner", kind="tumble", size_ms=5 * SEC, offset_ms=1 * SEC)
    assert fmt_raw(rows) == sorted(
        [
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999,3,Hello,b",
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999,6,Hi,b",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999,3,Hello,b",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999,6,Hi,b",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:16,2020-10-10T00:00:21,2020-10-10T00:00:20.999,4,Hi,b",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:31,2020-10-10T00:00:36,2020-10-10T00:00:35.999,1,Comment#3,b",
        ]
    )


def test_inner_join_is_not_distinct_from_on_wtf():
    rows = run_raw_join("inner", null_safe=True, kind="tumble", size_ms=5 * SEC)
    assert fmt_raw(rows) == sorted(
        INNER_WTF_EXPECTED
        + [
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999,7,null,null",
        ]
    )


def test_semi_join_exists_wtf():
    rows = run_raw_join("semi", kind="tumble", size_ms=5 * SEC)
    assert fmt_raw(rows, semi=True) == sorted(
        [
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )


def test_anti_join_not_exists_wtf():
    # the late 00:00:04 row is dropped (its tumble window fired), so
    # a's [0,5) anti rows are the four on-time ones
    rows = run_raw_join("anti", kind="tumble", size_ms=5 * SEC)
    assert fmt_raw(rows, semi=True) == sorted(
        [
            "2020-10-10T00:00:01,1,1.0,1.0,1.11,Hi,a,2020-10-10 00:00:01.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:02,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:02.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:03,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:03.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )
