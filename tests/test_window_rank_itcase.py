"""WindowRankITCase + WindowDeduplicateITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
WindowRankITCase.scala and WindowDeduplicateITCase.scala.

Same fixture + replay convention as tests/test_window_agg_itcase.py
(TestData.windowDataWithTimestamp, per-row watermark schedule, +inf
flush). Two production operators under test:

- ``streaming_window_tvf_topn`` on RAW rows (the window TVF rank /
  dedup plans, StreamExecWindowRank / StreamExecWindowDeduplicate):
  window assignment inside the operator, fire-first; pins that the
  late 00:00:04 row is dropped for its fired tumble window but ranks
  inside un-fired hop/cumulate windows (both int-5 rows appear in the
  top-2 of hop [0,10) and cumulate [0,10)/[0,15) — the ITCase's own
  expectations), and that sort ties keep ARRIVAL order (the 2s
  Comment#1 row beats the 3s one at equal `int`).
- the same operator with ``input_attributed=True`` downstream of
  ``streaming_window_tvf_agg`` (rank over a window aggregate): the
  composition fires in the same micro-batch the upstream emits —
  records precede the watermark that fired them — covering
  testTumbleWindow/testHopWindow/testCumulateWindow + rank offset +
  no-rank-number + top1 variants.

Expected rows are the ITCases' own (ported test data, Apache-2.0);
the implementation is original (streaming/window_tvf.py).
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap
from flink_release_1_16_0_spark.streaming.window_tvf import (
    streaming_window_tvf_agg,
    streaming_window_tvf_topn,
)
from tests.test_window_agg_itcase import (
    AGGS,
    COLUMNS,
    IN_SCHEMA,
    NAME_KEY,
    SEC,
    _batches,
    jfmt,
    replay,
    _v,
)

# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


def build_topn(keys, key_fields, order, rank_end, **kw):
    cap = _Cap(StructType(key_fields + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_topn(cap, keys, "rowtime", order, rank_end, **kw)
    return cap.fn


def run_tvf_rank(order, rank_end, **win):
    """Raw-row window TVF rank keyed by name."""
    fn = build_topn(["name"], NAME_KEY, order, rank_end, **win)
    return replay(fn, ["name"])


# The rank-over-agg pipeline: window agg keyed by name, its emissions
# ranked per window by a global-key attributed rank in the same batch.
# The agg emits `sum_dec` (test_window_agg_itcase.AGGS); the ITCase
# aliases it sum_b — renamed at the operator boundary.
_RANK_COLS = ["cnt", "sum_b", "max_d", "min_f", "cd", "concat"]


def run_rank_over_agg(rank_end, rank_start=1, emit_rownum=True, **win):
    # upstream: window TVF agg keyed by name (fire-first, source-fed)
    agg_cap = _Cap(StructType(NAME_KEY + IN_SCHEMA.fields[:6]))
    streaming_window_tvf_agg(agg_cap, ["name"], "rowtime", AGGS, **win)
    agg_fn = agg_cap.fn
    # downstream: rank over the window-attributed agg rows, global key
    rank_schema = StructType(
        [
            StructField("__g", LongType()),
            StructField("name", StringType()),
            *[
                StructField(n, a[3])
                for n, a in zip(_RANK_COLS, AGGS)
            ],
        ]
    )
    rank_cap = _Cap(rank_schema)
    streaming_window_tvf_topn(
        rank_cap,
        ["__g"],
        "window_end",
        [("sum_b", True)],
        rank_end,
        rank_start=rank_start,
        size_ms=0,
        emit_rownum=emit_rownum,
        input_attributed=True,
    )
    rank_fn = rank_cap.fn

    batches, wm_seq = _batches()
    agg_states: dict[tuple, FakeGroupState] = {}
    rank_state = FakeGroupState()
    out: list[dict] = []

    def feed_rank(rows, wm):
        if not rows:
            return
        rank_state._wm = wm
        pdf = pd.DataFrame(rows)
        pdf = pdf.rename(columns={"sum_dec": "sum_b"})
        # the agg emits the exact decimal SUM as a string; rank orders
        # on the numeric value
        pdf["sum_b"] = pdf["sum_b"].map(
            lambda s: None if s is None else Decimal(s)
        )
        for emitted in rank_fn((0,), iter([pdf]), rank_state):
            out.extend(emitted.to_dict("records"))

    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        emissions: list[dict] = []
        # rows per key this batch; EVERY known key is invoked each
        # batch (empty frame = the event-time timeout call Spark makes
        # when a key's timer passes the watermark — per-key windows
        # fire on watermark progress, not only on new data)
        per_key: dict[tuple, pd.DataFrame] = {}
        if batch:
            pdf = pd.DataFrame(batch, columns=COLUMNS)
            for key, grp in pdf.groupby(["name"], sort=False, dropna=False):
                k = key if not isinstance(key, tuple) else key[0]
                kt = (None,) if k != k else (k,)
                per_key[kt] = grp.reset_index(drop=True)
        for kt in set(agg_states) | set(per_key):
            st = agg_states.setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = per_key.get(kt, pd.DataFrame(columns=COLUMNS))
            for e in agg_fn(kt, iter([frame]), st):
                emissions.extend(e.to_dict("records"))
        feed_rank(emissions, wm)
        # the attributed rank also fires on watermark-only progress
        rank_state._wm = wm
        empty = pd.DataFrame(
            columns=["name", "window_start", "window_end"] + _RANK_COLS
        )
        for emitted in rank_fn((0,), iter([empty]), rank_state):
            out.extend(emitted.to_dict("records"))
    return out


# AGGS names in test_window_agg_itcase: cnt/sum_dec/max_d/min_f/cd/concat.
# The ITCase aliases: cnt/sum_b/max_d/min_f/uv/distinct_str — mapped in
# the formatter below.


def fmt_agg_rank(rows, with_rownum=True):
    got = []
    for r in rows:
        parts = [
            _v(r["name"]),
            jfmt(r["window_start"]),
            jfmt(r["window_end"]),
            str(r["cnt"]),
            _v(r.get("sum_b", r.get("sum_dec"))),
            _v(r["max_d"]),
            _v(r["min_f"]),
            str(r["cd"]),
            _v(r["concat"]),
        ]
        if with_rownum:
            parts.append(str(r["rownum"]))
        got.append(",".join(parts))
    return sorted(got)


def fmt_tvf(rows, calc=False):
    """The TVF tests' row format: TO_TIMESTAMP(ts), int, double, float,
    bigdec, string, name, CAST(rowtime AS STRING), ws, we, wt — or the
    Calc projection (int, string, name, ws, we, wt)."""
    got = []
    for r in rows:
        rt = pd.Timestamp(r["rowtime"])
        if calc:
            parts = [str(r["int"]), _v(r["string"]), _v(r["name"])]
        else:
            parts = [
                jfmt(rt),
                str(r["int"]),
                _v(r["double"]),
                _v(r["float"]),
                _v(r["bigdec"]),
                _v(r["string"]),
                _v(r["name"]),
                rt.strftime("%Y-%m-%d %H:%M:%S") + f".{rt.microsecond // 1000:03d}",
            ]
        parts += [jfmt(r["window_start"]), jfmt(r["window_end"]), jfmt(r["window_time"])]
        got.append(",".join(parts))
    return sorted(got)


# ---------------------------------------------------------------------------
# WindowRankITCase — rank over window aggregate
# ---------------------------------------------------------------------------


def test_tumble_window():
    rows = run_rank_over_agg(2, kind="tumble", size_ms=5 * SEC)
    assert fmt_agg_rank(rows) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1,1",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,3.33,null,3.0,1,Comment#2,2",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi,1",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null,1",
        ]
    )


def test_tumble_window_with_rank_offset():
    rows = run_rank_over_agg(2, rank_start=2, kind="tumble", size_ms=5 * SEC)
    assert fmt_agg_rank(rows) == sorted(
        [
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,3.33,null,3.0,1,Comment#2,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
        ]
    )


def test_tumble_window_without_rank_number():
    rows = run_rank_over_agg(
        2, rank_start=2, emit_rownum=False, kind="tumble", size_ms=5 * SEC
    )
    assert fmt_agg_rank(rows, with_rownum=False) == sorted(
        [
            "a,2020-10-10T00:00:05,2020-10-10T00:00:10,1,3.33,null,3.0,1,Comment#2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3",
        ]
    )


def test_hop_window():
    rows = run_rank_over_agg(2, kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC)
    assert fmt_agg_rank(rows) == sorted(
        [
            "a,2020-10-09T23:59:55,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1,1",
            "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Comment#2|Hi|Comment#1,1",
            "a,2020-10-10T00:00:05,2020-10-10T00:00:15,1,3.33,null,3.0,1,Comment#2,2",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi,1",
            "b,2020-10-10T00:00:10,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:25,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3,2",
            "null,2020-10-10T00:00:25,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null,1",
        ]
    )


def test_hop_window_with_rank_offset():
    rows = run_rank_over_agg(
        2, rank_start=2, kind="hop", size_ms=10 * SEC, slide_ms=5 * SEC
    )
    assert fmt_agg_rank(rows) == sorted(
        [
            "a,2020-10-10T00:00:05,2020-10-10T00:00:15,1,3.33,null,3.0,1,Comment#2,2",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00:25,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3,2",
        ]
    )


def test_cumulate_window():
    rows = run_rank_over_agg(2, kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC)
    assert fmt_agg_rank(rows) == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,5.0,1.0,2,Hi|Comment#1,1",
            "a,2020-10-10T00:00,2020-10-10T00:00:10,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2,1",
            "a,2020-10-10T00:00,2020-10-10T00:00:15,6,19.98,5.0,1.0,3,Hi|Comment#1|Comment#2,1",
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:25,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:30,1,4.44,4.0,4.0,1,Hi,1",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:45,1,3.33,3.0,3.0,1,Comment#3,2",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,7.0,7.0,0,null,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:40,1,7.77,7.0,7.0,0,null,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:45,1,7.77,7.0,7.0,0,null,1",
        ]
    )


def test_cumulate_window_with_rank_offset():
    rows = run_rank_over_agg(
        2, rank_start=2, kind="cumulate", size_ms=15 * SEC, step_ms=5 * SEC
    )
    assert fmt_agg_rank(rows) == sorted(
        [
            "b,2020-10-10T00:00,2020-10-10T00:00:10,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00,2020-10-10T00:00:15,2,6.66,6.0,3.0,2,Hello|Hi,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:35,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:40,1,3.33,3.0,3.0,1,Comment#3,2",
            "b,2020-10-10T00:00:30,2020-10-10T00:00:45,1,3.33,3.0,3.0,1,Comment#3,2",
        ]
    )


def test_top1():
    # testTop1 — name, ws, we, cnt, sum_b, rownum
    rows = run_rank_over_agg(1, kind="tumble", size_ms=5 * SEC)
    got = sorted(
        f"{_v(r['name'])},{jfmt(r['window_start'])},{jfmt(r['window_end'])},"
        f"{r['cnt']},{_v(r['sum_b'])},{r['rownum']}"
        for r in rows
    )
    assert got == sorted(
        [
            "a,2020-10-10T00:00,2020-10-10T00:00:05,4,11.10,1",
            "b,2020-10-10T00:00:05,2020-10-10T00:00:10,2,6.66,1",
            "b,2020-10-10T00:00:15,2020-10-10T00:00:20,1,4.44,1",
            "null,2020-10-10T00:00:30,2020-10-10T00:00:35,1,7.77,1",
        ]
    )


# ---------------------------------------------------------------------------
# WindowRankITCase — window TVF rank over raw rows
# ---------------------------------------------------------------------------

TUMBLE_TVF_EXPECTED = sorted(
    [
        "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
        "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
        "2020-10-10T00:00:02,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:02.000,"
        "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
        "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
        "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
        "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
        "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
        "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
        "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
        "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
        "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
        "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
    ]
)


def test_tumble_window_tvf():
    # tie on `int`=2 keeps the EARLIER-arrived 2s row
    rows = run_tvf_rank(
        [("int", True)], 2, kind="tumble", size_ms=5 * SEC, emit_window_time=True
    )
    assert fmt_tvf(rows) == TUMBLE_TVF_EXPECTED


def test_tumble_window_tvf_with_calc():
    rows = run_tvf_rank(
        [("int", True)], 2, kind="tumble", size_ms=5 * SEC, emit_window_time=True
    )
    assert fmt_tvf(rows, calc=True) == sorted(
        [
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2,Comment#1,a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "3,Comment#2,a,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "6,Hi,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "3,Hello,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )


def test_tumble_window_tvf_with_offset():
    rows = run_tvf_rank(
        [("int", True)],
        2,
        kind="tumble",
        size_ms=5 * SEC,
        offset_ms=1 * SEC,
        emit_window_time=True,
    )
    assert fmt_tvf(rows) == sorted(
        [
            "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00:01,2020-10-10T00:00:06,2020-10-10T00:00:05.999",
            "2020-10-10T00:00:02,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:02.000,"
            "2020-10-10T00:00:01,2020-10-10T00:00:06,2020-10-10T00:00:05.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999",
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:06,2020-10-10T00:00:11,2020-10-10T00:00:10.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:16,2020-10-10T00:00:21,2020-10-10T00:00:20.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:31,2020-10-10T00:00:36,2020-10-10T00:00:35.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:31,2020-10-10T00:00:36,2020-10-10T00:00:35.999",
        ]
    )


def test_tumble_window_tvf_with_negative_offset():
    # the late 4s row lands in [00:00:04, 00:00:09) which hasn't fired
    # — BOTH int-5 rows rank in the top 2
    rows = run_tvf_rank(
        [("int", True)],
        2,
        kind="tumble",
        size_ms=5 * SEC,
        offset_ms=-1 * SEC,
        emit_window_time=True,
    )
    assert fmt_tvf(rows) == sorted(
        [
            "2020-10-10T00:00:02,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:02.000,"
            "2020-10-09T23:59:59,2020-10-10T00:00:04,2020-10-10T00:00:03.999",
            "2020-10-10T00:00:03,2,2.0,2.0,2.22,Comment#1,a,2020-10-10 00:00:03.000,"
            "2020-10-09T23:59:59,2020-10-10T00:00:04,2020-10-10T00:00:03.999",
            "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00:04,2020-10-10T00:00:09,2020-10-10T00:00:08.999",
            "2020-10-10T00:00:04,5,5.0,null,5.55,Hi,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00:04,2020-10-10T00:00:09,2020-10-10T00:00:08.999",
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:04,2020-10-10T00:00:09,2020-10-10T00:00:08.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:04,2020-10-10T00:00:09,2020-10-10T00:00:08.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:14,2020-10-10T00:00:19,2020-10-10T00:00:18.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:29,2020-10-10T00:00:34,2020-10-10T00:00:33.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:34,2020-10-10T00:00:39,2020-10-10T00:00:38.999",
        ]
    )


def test_hop_window_tvf():
    # the late 4s row joins [0,10): two int-5 rows in a's top 2 there
    rows = run_tvf_rank(
        [("int", True)],
        2,
        kind="hop",
        size_ms=10 * SEC,
        slide_ms=5 * SEC,
        emit_window_time=True,
    )
    assert fmt_tvf(rows, calc=True) == sorted(
        [
            "5,null,a,2020-10-09T23:59:55,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2,Comment#1,a,2020-10-09T23:59:55,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "5,Hi,a,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "6,Hi,b,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "6,Hi,b,2020-10-10T00:00:05,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "3,Hello,b,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "3,Comment#2,a,2020-10-10T00:00:05,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "3,Hello,b,2020-10-10T00:00:05,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "4,Hi,b,2020-10-10T00:00:10,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:25,2020-10-10T00:00:24.999",
            "7,null,null,2020-10-10T00:00:25,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
            "1,Comment#3,b,2020-10-10T00:00:25,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
        ]
    )


def test_cumulate_window_tvf():
    rows = run_tvf_rank(
        [("int", True)],
        2,
        kind="cumulate",
        size_ms=15 * SEC,
        step_ms=5 * SEC,
        emit_window_time=True,
    )
    assert fmt_tvf(rows, calc=True) == sorted(
        [
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2,Comment#1,a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "5,Hi,a,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "5,Hi,a,2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "6,Hi,b,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "6,Hi,b,2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "3,Hello,b,2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "3,Hello,b,2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:25,2020-10-10T00:00:24.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:30,2020-10-10T00:00:29.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:45,2020-10-10T00:00:44.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:45,2020-10-10T00:00:44.999",
        ]
    )


# ---------------------------------------------------------------------------
# WindowDeduplicateITCase — rank_end=1 ordered by rowtime
# ---------------------------------------------------------------------------


def test_tumble_window_keep_last_row():
    rows = run_tvf_rank(
        [("rowtime", True)], 1, kind="tumble", size_ms=5 * SEC, emit_window_time=True
    )
    assert fmt_tvf(rows) == sorted(
        [
            "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )


def test_tumble_window_keep_first_row():
    rows = run_tvf_rank(
        [("rowtime", False)], 1, kind="tumble", size_ms=5 * SEC, emit_window_time=True
    )
    assert fmt_tvf(rows) == sorted(
        [
            "2020-10-10T00:00:01,1,1.0,1.0,1.11,Hi,a,2020-10-10 00:00:01.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:06,6,6.0,6.0,6.66,Hi,b,2020-10-10 00:00:06.000,"
            "2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )


def test_tumble_window_keep_last_row_with_calc():
    rows = run_tvf_rank(
        [("rowtime", True)], 1, kind="tumble", size_ms=5 * SEC, emit_window_time=True
    )
    assert fmt_tvf(rows, calc=True) == sorted(
        [
            "5,null,a,2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "3,Comment#2,a,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "3,Hello,b,2020-10-10T00:00:05,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "4,Hi,b,2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "7,null,null,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "1,Comment#3,b,2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
        ]
    )


def test_cumulate_window_keep_last_row():
    rows = run_tvf_rank(
        [("rowtime", True)],
        1,
        kind="cumulate",
        size_ms=15 * SEC,
        step_ms=5 * SEC,
        emit_window_time=True,
    )
    assert fmt_tvf(rows) == sorted(
        [
            "2020-10-10T00:00:04,5,5.0,5.0,5.55,null,a,2020-10-10 00:00:04.000,"
            "2020-10-10T00:00,2020-10-10T00:00:05,2020-10-10T00:00:04.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:08,3,null,3.0,3.33,Comment#2,a,2020-10-10 00:00:08.000,"
            "2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00,2020-10-10T00:00:10,2020-10-10T00:00:09.999",
            "2020-10-10T00:00:07,3,3.0,3.0,null,Hello,b,2020-10-10 00:00:07.000,"
            "2020-10-10T00:00,2020-10-10T00:00:15,2020-10-10T00:00:14.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:20,2020-10-10T00:00:19.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:25,2020-10-10T00:00:24.999",
            "2020-10-10T00:00:16,4,4.0,4.0,4.44,Hi,b,2020-10-10 00:00:16.000,"
            "2020-10-10T00:00:15,2020-10-10T00:00:30,2020-10-10T00:00:29.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
            "2020-10-10T00:00:32,7,7.0,7.0,7.77,null,null,2020-10-10 00:00:32.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:45,2020-10-10T00:00:44.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:35,2020-10-10T00:00:34.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:40,2020-10-10T00:00:39.999",
            "2020-10-10T00:00:34,1,3.0,3.0,3.33,Comment#3,b,2020-10-10 00:00:34.000,"
            "2020-10-10T00:00:30,2020-10-10T00:00:45,2020-10-10T00:00:44.999",
        ]
    )
