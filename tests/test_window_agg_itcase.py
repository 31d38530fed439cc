"""WindowAggregateITCase conformance, ported from the reference's
flink-table-planner/src/test/scala/.../runtime/stream/sql/
WindowAggregateITCase.scala (event-time, non-LTZ parameterization).

Fixture = TestData.windowDataWithTimestamp (TestData.scala:729): 11
rows incl. one out-of-order row and one late row, watermark = rowtime
- 1s per the table DDL. The harness replays the PRODUCTION
streaming_window_tvf_agg closure one row per micro-batch with the
per-row watermark schedule (wm visible to batch i = max rowtime of
rows 0..i-1, minus 1s — the module's settlement convention), then an
explicit +inf flush standing in for the bounded run's final watermark.

What these cases pin (each was a reference-checked semantic):
- the late 00:00:04 row is DROPPED for TUMBLE 5s (its only window
  fired at wm 00:00:05) but COUNTS for HOP 10s / CUMULATE 15s / DAY
  windows (AbstractWindowAggProcessor.java:142 drops only when the
  row's LAST window fired);
- window offset arithmetic incl. negative offsets
  (TimeWindow.getWindowStartWithOffset);
- concat_distinct merge ORDER: hop merges slices descending
  (SliceAssigners.HoppingSlicesIterable), cumulate ascending into the
  shared first slice (CumulativeSliceAssigner.mergeSlices) — the
  expected strings differ between the two and both are pinned;
- empty windows never emit (nextTriggerWindow's isWindowEmpty skip);
- GROUPING SETS / CUBE / ROLLUP over a window TVF = per-set runs
  unioned with GROUPING_ID (the reference plans the same via Expand;
  CUBE(name) and ROLLUP(name) expand to the same two sets, which is
  why the ITCase's three expected constants are identical);
- window_time = window_end - 1ms (testTumbleWindowOutputWindowTime).

Expected rows are the ITCase's own (ported test data, Apache-2.0);
implementation under test is original (streaming/window_tvf.py).
"""

from __future__ import annotations

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


BASE = pd.Timestamp("2020-10-10 00:00:00")
SEC = 1000

# TestData.windowDataWithTimestamp — (ts_sec, int, double, float,
# bigdec, string, name).
ROWS = [
    (1, 1, 1.0, 1.0, "1.11", "Hi", "a"),
    (2, 2, 2.0, 2.0, "2.22", "Comment#1", "a"),
    (3, 2, 2.0, 2.0, "2.22", "Comment#1", "a"),
    (4, 5, 5.0, 5.0, "5.55", None, "a"),
    (7, 3, 3.0, 3.0, None, "Hello", "b"),
    (6, 6, 6.0, 6.0, "6.66", "Hi", "b"),  # out of order
    (8, 3, None, 3.0, "3.33", "Comment#2", "a"),
    (4, 5, 5.0, None, "5.55", "Hi", "a"),  # late event
    (16, 4, 4.0, 4.0, "4.44", "Hi", "b"),
    (32, 7, 7.0, 7.0, "7.77", None, None),
    (34, 1, 3.0, 3.0, "3.33", "Comment#3", "b"),
]

COLUMNS = ["rowtime", "int", "double", "float", "bigdec", "string", "name"]

IN_SCHEMA = StructType(
    [
        StructField("rowtime", TimestampType()),
        StructField("int", LongType()),
        StructField("double", DoubleType()),
        StructField("float", FloatType()),
        StructField("bigdec", StringType()),  # Decimal carried as object
        StructField("string", StringType()),
        StructField("name", StringType()),
    ]
)

# the ITCase's agg list: COUNT(*), SUM(bigdec), MAX(double),
# MIN(float), COUNT(DISTINCT string), concat_distinct_agg(string)
AGGS = [
    ("cnt", "count_star", None, LongType()),
    ("sum_dec", "sum", "bigdec", StringType()),
    ("max_d", "max", "double", DoubleType()),
    ("min_f", "min", "float", FloatType()),
    ("cd", "count_distinct", "string", LongType()),
    ("concat", "concat_distinct", "string", StringType()),
]


def _batches():
    """One row per micro-batch + final flush; wm_seq per the
    watermark DDL (rowtime - 1s), settled one batch behind."""
    base_ms = BASE.value // 1_000_000
    batches, wm_seq = [], []
    max_ts = None
    for ts_s, iv, d, f, bd, s, name in ROWS:
        wm_seq.append(0 if max_ts is None else base_ms + max_ts * SEC - SEC)
        batches.append(
            [
                {
                    "rowtime": BASE + pd.Timedelta(seconds=ts_s),
                    "int": iv,
                    "double": d,
                    "float": f,
                    "bigdec": None if bd is None else Decimal(bd),
                    "string": s,
                    "name": name,
                }
            ]
        )
        max_ts = ts_s if max_ts is None else max(max_ts, ts_s)
    batches.append([])  # final watermark flush
    wm_seq.append(10**15)
    return batches, wm_seq


def replay(fn, key_cols):
    """Drive the captured closure the way FlatMapGroupsInPandasWithState
    does, one FakeGroupState per key — NULL keys group together like
    Spark's groupBy (pandas needs dropna=False for that)."""
    batches, wm_seq = _batches()
    states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        if not batch:
            for kt, st in states.items():
                st._wm = wm
                empty = pd.DataFrame(columns=COLUMNS)
                for emitted in fn(kt, iter([empty]), st):
                    out.extend(emitted.to_dict("records"))
            continue
        pdf = pd.DataFrame(batch, columns=COLUMNS)
        for key, grp in pdf.groupby(list(key_cols), sort=False, dropna=False):
            kt = tuple(None if v != v else v for v in (key if isinstance(key, tuple) else (key,)))
            st = states.setdefault(kt, FakeGroupState())
            st._wm = wm
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))
    return out


def build(keys, key_fields, window_time=False, **win):
    cap = _Cap(StructType(key_fields + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_agg(
        cap, keys, "rowtime", AGGS, emit_window_time=window_time, **win
    )
    return cap.fn


def jfmt(ts) -> str:
    """java.time.LocalDateTime.toString flavor used by the ITCase."""
    ts = pd.Timestamp(ts)
    s = ts.strftime("%Y-%m-%dT%H:%M")
    if ts.second or ts.microsecond:
        s += f":{ts.second:02d}"
        if ts.microsecond:
            s += f".{ts.microsecond // 1000:03d}"
    return s


def _v(x) -> str:
    if x is None or x != x:
        return "null"
    return str(x)


def fmt_rows(rows, with_time=False, prefix_cols=()):
    out = []
    for r in rows:
        parts = [str(r[c]) for c in prefix_cols]
        parts += ["null" if r.get("name") is None else str(r["name"])] if "name" in r else []
        parts += [jfmt(r["window_start"]), jfmt(r["window_end"])]
        if with_time:
            parts.append(jfmt(r["window_time"]))
        parts += [
            str(r["cnt"]),
            _v(r["sum_dec"]),
            _v(r["max_d"]),
            _v(r["min_f"]),
            str(r["cd"]),
            _v(r["concat"]),
        ]
        out.append(",".join(parts))
    return sorted(out)


NAME_KEY = [StructField("name", StringType())]
G_KEY = [StructField("__g", LongType())]


def run_by_name(**win):
    fn = build(["name"], NAME_KEY, **win)
    return replay(fn, ["name"])


def run_global(**win):
    """GROUP BY window only — constant key (the reference shuffles to a
    single agg key the same way)."""
    fn = build(["__g"], G_KEY, **win)

    def wrapped(key, pdfs, st):
        return fn((0,), pdfs, st)

    batches, wm_seq = _batches()
    st = FakeGroupState()
    out = []
    for bi, batch in enumerate(batches):
        st._wm = wm_seq[bi]
        pdf = pd.DataFrame(batch, columns=COLUMNS)
        for emitted in wrapped((0,), iter([pdf]), st):
            out.extend(emitted.to_dict("records"))
    return out


def grouping_sets_by_name(**win):
    """GROUPING SETS((name),()) = the per-name run (GROUPING_ID 0) plus
    the global run with name rendered NULL (GROUPING_ID 1) — the Expand
    plan the reference compiles."""
    rows = []
    for r in run_by_name(**win):
        rows.append({"gid": 0, **r})
    for r in run_global(**win):
        r = dict(r)
        r.pop("__g", None)
        rows.append({"gid": 1, "name": None, **r})
    return rows


# ---------------------------------------------------------------------------
# TUMBLE
# ---------------------------------------------------------------------------


def test_event_time_tumble_window():
    # testEventTimeTumbleWindow — the late 00:00:04 row is dropped
    rows = run_by_name(kind="tumble", size_ms=5 * SEC)
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,3.33,null,3.0,1,Comment#2",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_tumble_window_with_offset():
    # testEventTimeTumbleWindowWithOffset — day window, +8h offset;
    # the "late" row is on time here and counts (6 rows for a)
    rows = run_by_name(kind="tumble", size_ms=86400 * SEC, offset_ms=8 * 3600 * SEC)
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T08:00,2020-10-10T08:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T08:00,2020-10-10T08:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T08:00,2020-10-10T08:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_tumble_window_with_negative_offset():
    # testEventTimeTumbleWindowWithNegativeOffset
    rows = run_by_name(kind="tumble", size_ms=86400 * SEC, offset_ms=-8 * 3600 * SEC)
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T16:00,2020-10-10T16:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T16:00,2020-10-10T16:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T16:00,2020-10-10T16:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_cascade_tumble_window_with_offset():
    # testCascadeEventTimeTumbleWindowWithOffset — the outer GROUP BY
    # (cnt, window_start, window_end) over the inner window agg; the
    # inner stream is append-only so the cascade is a plain regroup of
    # its emissions (the reference propagates the window attributes)
    rows = run_by_name(kind="tumble", size_ms=86400 * SEC, offset_ms=8 * 3600 * SEC)
    outer: dict[tuple, int] = {}
    for r in rows:
        k = (r["cd"], jfmt(r["window_start"]), jfmt(r["window_end"]))
        outer[k] = outer.get(k, 0) + 1
    got = sorted(f"{cd},{ws},{we},{n}" for (cd, ws, we), n in outer.items())
    assert got == sorted(
        ["0,2020-10-09T08:00,2020-10-10T08:00,1", "3,2020-10-09T08:00,2020-10-10T08:00,2"]
    )


def test_tumble_window_output_window_time():
    # testTumbleWindowOutputWindowTime — window_time = end - 1ms
    rows = run_by_name(kind="tumble", size_ms=5 * SEC, window_time=True)
    got = sorted(
        f"{_v(r['name'])},{jfmt(r['window_start'])},{jfmt(r['window_end'])},"
        f"{jfmt(r['window_time'])},{r['cnt']}"
        for r in rows
    )
    assert got == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999,4",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,1",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999,1",
        ]
    )


def test_tumble_window_group_on_window_only():
    # testTumbleWindowGroupOnWindowOnly — global key; the late row is
    # late for the global [0,5) window too (fired at wm 00:00:05)
    rows = run_global(kind="tumble", size_ms=5 * SEC)
    got = sorted(
        f"{jfmt(r['window_start'])},{jfmt(r['window_end'])},{r['cnt']},"
        f"{_v(r['sum_dec'])},{_v(r['max_d'])},{_v(r['min_f'])},{r['cd']},{_v(r['concat'])}"
        for r in rows
    )
    assert got == sorted(
        [
            "2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "2020-10-10T00:00:05,2020-10-10T00:00:10,3,9.99,6.0,3.0,3,Hello|Hi|Comment#2",
            "2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2,11.10,7.0,3.0,1,Comment#3",
        ]
    )


TUMBLE_GROUP_SET_EXPECTED = sorted(
    [
        "0,a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
        "0,a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,3.33,null,3.0,1,Comment#2",
        "0,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
        "0,b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
        "0,b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
        "0,null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
        "1,null,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
        "1,null,2020-10-10T00:00:05,2020-10-10T00:00:10,3,9.99,6.0,3.0,3,Hello|Hi|Comment#2",
        "1,null,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
        "1,null,2020-10-10T00:00:30,2020-10-10T00:00:35,2,11.10,7.0,3.0,1,Comment#3",
    ]
)


def test_event_time_tumble_window_grouping_sets():
    # testEventTimeTumbleWindow_GroupingSets / _Cube / _Rollup — the
    # ITCase's three expected constants are the same sequence because
    # CUBE(name) and ROLLUP(name) expand to GROUPING SETS((name),())
    rows = grouping_sets_by_name(kind="tumble", size_ms=5 * SEC)
    assert fmt_rows(rows, prefix_cols=("gid",)) == TUMBLE_GROUP_SET_EXPECTED


# ---------------------------------------------------------------------------
# HOP
# ---------------------------------------------------------------------------


def test_event_time_hop_window():
    # testEventTimeHopWindow — the late row counts for [0,10): that
    # window hadn't fired; concat order is slice-DESCENDING
    # ("Comment#2|Hi|Comment#1" for a's [0,10))
    rows = run_by_name(kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC)
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T23:59:55,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Comment#2|Hi|Comment#1",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:15,1,3.33,null,3.0,1,Comment#2",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi",
            "b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:25,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3",
            "null,2020-10-10T00:00:25,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_hop_window_with_offset():
    # testEventTimeHopWindowWithOffset — 12h slide / 1d size / +8h
    rows = run_by_name(
        kind="hop", size_ms=86400 * SEC, slide_ms=12 * 3600 * SEC, offset_ms=8 * 3600 * SEC
    )
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T08:00,2020-10-10T08:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "a,2020-10-09T20:00,2020-10-10T20:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T08:00,2020-10-10T08:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "b,2020-10-09T20:00,2020-10-10T20:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T08:00,2020-10-10T08:00,1,7.77,7.0,7.0,0,null",
            "null,2020-10-09T20:00,2020-10-10T20:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_hop_window_with_negative_offset():
    # testEventTimeHopWindowWithNegativeOffset
    rows = run_by_name(
        kind="hop", size_ms=86400 * SEC, slide_ms=12 * 3600 * SEC, offset_ms=-8 * 3600 * SEC
    )
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T04:00,2020-10-10T04:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "a,2020-10-09T16:00,2020-10-10T16:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T04:00,2020-10-10T04:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "b,2020-10-09T16:00,2020-10-10T16:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T04:00,2020-10-10T04:00,1,7.77,7.0,7.0,0,null",
            "null,2020-10-09T16:00,2020-10-10T16:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_hop_window_grouping_sets():
    # testEventTimeHopWindow_GroupingSets / _Cube / _Rollup
    rows = grouping_sets_by_name(kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC)
    assert fmt_rows(rows, prefix_cols=("gid",)) == sorted(
        [
            "0,a,2020-10-09T23:59:55,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "0,a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Comment#2|Hi|Comment#1",
            "0,a,2020-10-10T00:00:05,2020-10-10T00:00:15,1,3.33,null,3.0,1,Comment#2",
            "0,b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
            "0,b,2020-10-10T00:00:05,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi",
            "0,b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "0,b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "0,b,2020-10-10T00:00:25,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
            "0,b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3",
            "0,null,2020-10-10T00:00:25,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
            "0,null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null",
            "1,null,2020-10-09T23:59:55,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "1,null,2020-10-10T00:00,2020-10-10T00:00:10,8,26.64,6.0,1.0,4,Hello|Hi|Comment#2|Comment#1",
            "1,null,2020-10-10T00:00:05,2020-10-10T00:00:15,3,9.99,6.0,3.0,3,Hello|Hi|Comment#2",
            "1,null,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "1,null,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "1,null,2020-10-10T00:00:25,2020-10-10T00:00:35,2,11.10,7.0,3.0,1,Comment#3",
            "1,null,2020-10-10T00:00:30,2020-10-10T00:00:40,2,11.10,7.0,3.0,1,Comment#3",
        ]
    )


# ---------------------------------------------------------------------------
# CUMULATE
# ---------------------------------------------------------------------------


def test_event_time_cumulate_window():
    # testEventTimeCumulateWindow — step 5s, max 15s; empty step
    # windows (b's [0,5)) never emit; concat order ascending
    rows = run_by_name(kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC)
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "a,2020-10-10T00:00,2020-10-10T00:00:15,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
            "b,2020-10-10T00:00,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:30,1,4.44,4.0,4.0,1,Hi",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:45,1,3.33,3.0,3.0,1,Comment#3",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:45,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_cumulate_window_with_offset():
    # testEventTimeCumulateWindowWithOffset — the first 12h step
    # window holds no data and is skipped
    rows = run_by_name(
        kind="cumulate", size_ms=86400 * SEC, step_ms=12 * 3600 * SEC, offset_ms=8 * 3600 * SEC
    )
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T08:00,2020-10-10T08:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T08:00,2020-10-10T08:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T08:00,2020-10-10T08:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_cumulate_window_with_negative_offset():
    # testEventTimeCumulateWindowWithNegativeOffset — both steps hold
    # the data
    rows = run_by_name(
        kind="cumulate", size_ms=86400 * SEC, step_ms=12 * 3600 * SEC, offset_ms=-8 * 3600 * SEC
    )
    assert fmt_rows(rows) == sorted(
        [
            "a,2020-10-09T16:00,2020-10-10T04:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "a,2020-10-09T16:00,2020-10-10T16:00,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "b,2020-10-09T16:00,2020-10-10T04:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "b,2020-10-09T16:00,2020-10-10T16:00,4,14.43,6.0,3.0,3,Hello|Hi|Comment#3",
            "null,2020-10-09T16:00,2020-10-10T04:00,1,7.77,7.0,7.0,0,null",
            "null,2020-10-09T16:00,2020-10-10T16:00,1,7.77,7.0,7.0,0,null",
        ]
    )


def test_event_time_cumulate_window_grouping_sets():
    # testEventTimeCumulateWindow_GroupingSets / _Cube / _Rollup
    rows = grouping_sets_by_name(kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC)
    assert fmt_rows(rows, prefix_cols=("gid",)) == sorted(
        [
            "0,a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "0,a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "0,a,2020-10-10T00:00,2020-10-10T00:00:15,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2",
            "0,b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi",
            "0,b,2020-10-10T00:00,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi",
            "0,b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "0,b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "0,b,2020-10-10T00:00:15,2020-10-10T00:00:30,1,4.44,4.0,4.0,1,Hi",
            "0,b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
            "0,b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3",
            "0,b,2020-10-10T00:00:30,2020-10-10T00:00:45,1,3.33,3.0,3.0,1,Comment#3",
            "0,null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null",
            "0,null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null",
            "0,null,2020-10-10T00:00:30,2020-10-10T00:00:45,1,7.77,7.0,7.0,0,null",
            "1,null,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1",
            "1,null,2020-10-10T00:00,2020-10-10T00:00:10,8,26.64,6.0,1.0,4,Hi|Comment#1|Hello|Comment#2",
            "1,null,2020-10-10T00:00,2020-10-10T00:00:15,8,26.64,6.0,1.0,4,Hi|Comment#1|Hello|Comment#2",
            "1,null,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi",
            "1,null,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi",
            "1,null,2020-10-10T00:00:15,2020-10-10T00:00:30,1,4.44,4.0,4.0,1,Hi",
            "1,null,2020-10-10T00:00:30,2020-10-10T00:00:35,2,11.10,7.0,3.0,1,Comment#3",
            "1,null,2020-10-10T00:00:30,2020-10-10T00:00:40,2,11.10,7.0,3.0,1,Comment#3",
            "1,null,2020-10-10T00:00:30,2020-10-10T00:00:45,2,11.10,7.0,3.0,1,Comment#3",
        ]
    )
