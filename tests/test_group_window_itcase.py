"""GroupWindowITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
GroupWindowITCase.scala (event-time, non-LTZ parameterization).

Fixture: TestData.timestampData (TestData.scala:933, ms-scale
rowtimes) with the table's WATERMARK rowtime - 0.01s; the session /
lateness cases use the ITCase's inline fixtures with their own
watermark offsets. Replay = the per-row-watermark settlement harness
(one row per micro-batch, +inf flush).

Operator under test: streaming_group_window_agg (streaming/
group_window.py) — the LEGACY WindowOperator semantics the slicing
TVF path can't express, each pinned by the ITCase's own rows:

- SLIDING with slide 4ms / size 5ms (size NOT a multiple of slide —
  SlidingWindowAssigner, no slicing);
- SESSION windows with merging (the 4ms row bridges [1,7) and [8,13)
  into [1,13)) incl. COUNT DISTINCT merged across sessions;
- cascading window aggs (TUMBLE over the inner window's rowtime,
  operator-fed `input_settled`);
- ALLOWED LATENESS with late -U/+U refires materialized through an
  upsert sink keyed (string, window_start);
- window aggregate over a CHANGELOG: upsert source -> the production
  ChangelogNormalize closure (streaming_upsert_to_retract) -> the
  retract-accumulating window agg — a superseded version's -U lands
  in its ORIGINAL window before that window fires, so the window
  nets it out (testWindowAggregateOnUpsertSource's missing Euro
  row); with 15s lateness the late -U/+U are accepted instead and
  the final upsert state shows the newest version; a late -D empties
  the window (RMB vanishes);
- retract stream from keep-last dedup -> window agg counts only each
  key's live version (testWindowAggregateOnRetractStream);
- MIN/MAX over window-agg output via the production retractable
  minmax multiset op (testMinMaxWithTumblingWindow).

Expected rows are the ITCase's own (ported test data, Apache-2.0);
the implementation is original.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap, one_group, replay
from flink_release_1_16_0_spark.streaming.group_window import (
    streaming_group_window_agg,
)
from flink_release_1_16_0_spark.streaming.retract_agg import (
    streaming_retracting_multi_agg,
)
from flink_release_1_16_0_spark.streaming.stateful import (
    streaming_upsert_to_retract,
)
from tests.test_window_agg_itcase import jfmt, _v

EPOCH = pd.Timestamp("1970-01-01")

# TestData.timestampData — (ts_ms, int, double, float, bigdec, string, name)
TS_DATA = [
    (1, 1, 1.0, 1.0, "1", "Hi", "a"),
    (2, 2, 2.0, 2.0, "2", "Hallo", "a"),
    (3, 2, 2.0, 2.0, "2", "Hello", "a"),
    (4, 5, 5.0, 5.0, "5", "Hello", "a"),
    (7, 3, 3.0, 3.0, "3", "Hello", "b"),
    (6, 5, 5.0, 5.0, "5", "Hello", "a"),
    (8, 3, 3.0, 3.0, "3", "Hello world", "a"),
    (16, 4, 4.0, 4.0, "4", "Hello world", "b"),
    (32, 4, 4.0, 4.0, "4", None, None),
]

TS_COLS = ["rowtime", "int", "double", "float", "bigdec", "string", "name"]

TS_SCHEMA = StructType(
    [
        StructField("rowtime", TimestampType()),
        StructField("int", LongType()),
        StructField("double", DoubleType()),
        StructField("float", DoubleType()),
        StructField("bigdec", StringType()),
        StructField("string", StringType()),
        StructField("name", StringType()),
    ]
)


def ts_batches(rows, ts_idx=0, wm_offset_ms=10, to_row=None):
    """One row per batch; wm visible to batch i = max ts of rows
    0..i-1 minus the watermark offset."""
    batches, wm_seq, max_ts = [], [], None
    for r in rows:
        wm_seq.append(-(2**60) if max_ts is None else max_ts - wm_offset_ms)
        batches.append([to_row(r) if to_row else r])
        t = r[ts_idx]
        max_ts = t if max_ts is None else max(max_ts, t)
    batches.append([])
    wm_seq.append(10**15)
    return batches, wm_seq


def replay_keyed(fn, batches, wm_seq, key_cols, columns):
    """Per-key closure replay; EVERY known key is invoked each batch
    (timer simulation), NULL keys group like Spark's groupBy."""
    states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi]
        per_key: dict[tuple, pd.DataFrame] = {}
        if batch:
            pdf = pd.DataFrame(batch, columns=columns)
            for key, grp in pdf.groupby(list(key_cols), sort=False, dropna=False):
                kt = key if isinstance(key, tuple) else (key,)
                kt = tuple(None if (isinstance(v, float) and v != v) else v for v in kt)
                per_key[kt] = grp.reset_index(drop=True)
        for kt in set(states) | set(per_key):
            st = states.setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = per_key.get(kt, pd.DataFrame(columns=columns))
            for e in fn(kt, iter([frame]), st):
                out.extend(e.to_dict("records"))
    return out


def _mkrow(r):
    return {
        "rowtime": EPOCH + pd.Timedelta(milliseconds=r[0]),
        "int": r[1],
        "double": r[2],
        "float": r[3],
        "bigdec": None if r[4] is None else Decimal(r[4]),
        "string": r[5],
        "name": r[6],
    }


def build_gw(keys, key_fields, in_fields, aggs, **kw):
    cap = _Cap(StructType(key_fields + in_fields))
    streaming_group_window_agg(cap, keys, "rowtime", aggs, **kw)
    return cap.fn


def _iv(x):
    return "null" if x is None or x != x else str(int(x))


# ---------------------------------------------------------------------------
# sliding (slide 4ms, size 5ms) — size not a multiple of slide
# ---------------------------------------------------------------------------


def test_event_time_sliding_window():
    aggs = [
        ("c1", "count_star", None, LongType()),
        ("s1", "count_star", None, LongType()),  # SUM(1) == COUNT(1)
        ("ci", "count", "int", LongType()),
        ("cdf", "count_distinct", "float", LongType()),
        ("concat", "concat_distinct", "name", StringType()),
    ]
    fn = build_gw(
        ["string"],
        [TS_SCHEMA["string"]],
        [f for f in TS_SCHEMA.fields if f.name != "string"],
        aggs,
        kind="sliding",
        size_ms=5,
        slide_ms=4,
    )
    batches, wm_seq = ts_batches(TS_DATA, to_row=_mkrow)
    rows = replay_keyed(fn, batches, wm_seq, ["string"], TS_COLS)
    got = sorted(
        f"{_v(r['string'])},{jfmt(r['window_start'])},"
        f"{jfmt(pd.Timestamp(r['window_end']) - pd.Timedelta(milliseconds=1))},"
        f"{r['c1']},{r['s1']},{r['ci']},{r['cdf']},{_v(r['concat'])}"
        for r in rows
    )
    assert got == sorted(
        [
            "Hallo,1970-01-01T00:00,1970-01-01T00:00:00.004,1,1,1,1,a",
            "Hello world,1970-01-01T00:00:00.004,1970-01-01T00:00:00.008,1,1,1,1,a",
            "Hello world,1970-01-01T00:00:00.008,1970-01-01T00:00:00.012,1,1,1,1,a",
            "Hello world,1970-01-01T00:00:00.012,1970-01-01T00:00:00.016,1,1,1,1,b",
            "Hello world,1970-01-01T00:00:00.016,1970-01-01T00:00:00.020,1,1,1,1,b",
            "Hello,1970-01-01T00:00,1970-01-01T00:00:00.004,2,2,2,2,a",
            "Hello,1970-01-01T00:00:00.004,1970-01-01T00:00:00.008,3,3,3,2,a|b",
            "Hi,1970-01-01T00:00,1970-01-01T00:00:00.004,1,1,1,1,a",
            "null,1970-01-01T00:00:00.028,1970-01-01T00:00:00.032,1,1,1,1,null",
            "null,1970-01-01T00:00:00.032,1970-01-01T00:00:00.036,1,1,1,1,null",
        ]
    )


# ---------------------------------------------------------------------------
# cascading tumble: inner 10s by (int, string), outer 10s over the
# inner rowtime summing the counts
# ---------------------------------------------------------------------------


def test_cascading_tumble_window():
    inner = build_gw(
        ["int", "string"],
        [TS_SCHEMA["int"], TS_SCHEMA["string"]],
        [f for f in TS_SCHEMA.fields if f.name not in ("int", "string")],
        [("cnt", "count_star", None, LongType())],
        kind="tumble",
        size_ms=10_000,
        emit_window_time=True,
    )
    batches, wm_seq = ts_batches(TS_DATA, to_row=_mkrow)
    inner_rows = replay_keyed(fn=inner, batches=batches, wm_seq=wm_seq,
                              key_cols=["int", "string"], columns=TS_COLS)
    # outer: TUMBLE over the inner rowtime (window_time), operator-fed
    outer_schema = StructType(
        [
            StructField("__g", LongType()),
            StructField("rowtime", TimestampType()),
            StructField("cnt", LongType()),
        ]
    )
    cap = _Cap(outer_schema)
    streaming_group_window_agg(
        cap, ["__g"], "rowtime",
        [("total", "sum_int", "cnt", LongType())],
        kind="tumble", size_ms=10_000, input_settled=True,
    )
    outer_fn = cap.fn
    st = FakeGroupState()
    out = []
    # feed all inner emissions at the flush watermark (they all fire
    # there), then the settled fire happens in the same call
    st._wm = 10**15
    pdf = pd.DataFrame(
        [{"rowtime": r["window_time"], "cnt": r["cnt"]} for r in inner_rows]
    )
    for e in outer_fn((0,), iter([pdf]), st):
        out.extend(e.to_dict("records"))
    assert sorted(str(r["total"]) for r in out) == ["9"]


# ---------------------------------------------------------------------------
# MIN/MAX of window-agg rowtimes through the retracting group agg
# ---------------------------------------------------------------------------


def test_min_max_with_tumbling_window():
    inner = build_gw(
        ["string", "int"],
        [TS_SCHEMA["string"], TS_SCHEMA["int"]],
        [f for f in TS_SCHEMA.fields if f.name not in ("string", "int")],
        [
            ("max_ts", "max", "rowtime", TimestampType()),
            ("min_ts", "min", "rowtime", TimestampType()),
        ],
        kind="tumble",
        size_ms=10_000,
    )
    batches, wm_seq = ts_batches(TS_DATA, to_row=_mkrow)
    inner_rows = replay_keyed(fn=inner, batches=batches, wm_seq=wm_seq,
                              key_cols=["string", "int"], columns=TS_COLS)
    # outer: the production retracting MAX/MIN multiset over the inner
    # changelog (epoch-ms values are exact as doubles)
    mm_schema = StructType(
        [StructField("string", StringType()), StructField("max_ts", DoubleType()),
         StructField("min_ts", DoubleType()), StructField("__rowkind", StringType())]
    )
    cap = _Cap(mm_schema)
    streaming_retracting_multi_agg(
        cap,
        ["string"],
        [("max_v", "max", "max_ts", DoubleType()), ("min_v", "min", "min_ts", DoubleType())],
        rowkind_col="__rowkind",
    )
    states: dict[tuple, FakeGroupState] = {}
    finals: dict = {}
    pdf_all = pd.DataFrame(
        [
            {
                "string": r["string"],
                "max_ts": pd.Timestamp(r["max_ts"]).value / 1e6,
                "min_ts": pd.Timestamp(r["min_ts"]).value / 1e6,
                "__rowkind": "+I",
            }
            for r in inner_rows
        ]
    )
    for key, grp in pdf_all.groupby(["string"], sort=False, dropna=False):
        k = key if not isinstance(key, tuple) else key[0]
        kt = (None,) if (isinstance(k, float) and k != k) else (k,)
        st = states.setdefault(kt, FakeGroupState())
        for e in cap.fn(kt, iter([grp.reset_index(drop=True)]), st):
            for r in e.to_dict("records"):
                finals[kt[0]] = r
    got = sorted(
        f"{jfmt(pd.Timestamp(int(v['max_v'] * 1e6)))},"
        f"{jfmt(pd.Timestamp(int(v['min_v'] * 1e6)))},{_v(k)}"
        for k, v in finals.items()
    )
    assert got == sorted(
        [
            "1970-01-01T00:00:00.001,1970-01-01T00:00:00.001,Hi",
            "1970-01-01T00:00:00.002,1970-01-01T00:00:00.002,Hallo",
            "1970-01-01T00:00:00.007,1970-01-01T00:00:00.003,Hello",
            "1970-01-01T00:00:00.016,1970-01-01T00:00:00.008,Hello world",
            "1970-01-01T00:00:00.032,1970-01-01T00:00:00.032,null",
        ]
    )


# ---------------------------------------------------------------------------
# constant group key (FLINK-17553): COUNT(name) with a NULL name
# still emits its window, count 0
# ---------------------------------------------------------------------------


def test_window_aggregate_on_constant_value():
    fn = build_gw(
        ["__g"],
        [StructField("__g", LongType())],
        TS_SCHEMA.fields,
        [("cnt", "count", "name", LongType())],
        kind="tumble",
        size_ms=3,
    )
    batches, wm_seq = ts_batches(TS_DATA, to_row=_mkrow)
    st = FakeGroupState()
    out = []
    for bi, batch in enumerate(batches):
        st._wm = wm_seq[bi]
        pdf = pd.DataFrame(batch, columns=TS_COLS)
        for e in fn((0,), iter([pdf]), st):
            out.extend(e.to_dict("records"))
    got = sorted(f"{jfmt(r['window_end'])},{r['cnt']}" for r in out)
    assert got == sorted(
        [
            "1970-01-01T00:00:00.003,2",
            "1970-01-01T00:00:00.006,2",
            "1970-01-01T00:00:00.009,3",
            "1970-01-01T00:00:00.018,1",
            "1970-01-01T00:00:00.033,0",
        ]
    )


# ---------------------------------------------------------------------------
# session windows (merge)
# ---------------------------------------------------------------------------

SESSION_COLS = ["rowtime", "int", "string", "name"]
SESSION_SCHEMA = StructType(
    [
        StructField("rowtime", TimestampType()),
        StructField("int", LongType()),
        StructField("string", StringType()),
        StructField("name", StringType()),
    ]
)


def test_event_time_session_window():
    data = [
        (1, 1, "Hello", "a"),
        (2, 2, "Hello", "b"),
        (8, 8, "Hello", "a"),
        (9, 9, "Hello World", "b"),
        (4, 4, "Hello", "c"),
        (16, 16, "Hello", "d"),
    ]
    aggs = [
        ("c1", "count_star", None, LongType()),
        ("s1", "count_star", None, LongType()),
        ("ci", "count", "int", LongType()),
        ("si", "sum_int", "int", LongType()),
        ("cdn", "count_distinct", "name", LongType()),
    ]
    fn = build_gw(
        ["string"],
        [SESSION_SCHEMA["string"]],
        [f for f in SESSION_SCHEMA.fields if f.name != "string"],
        aggs,
        kind="session",
        gap_ms=5,
    )

    def to_row(r):
        return {
            "rowtime": EPOCH + pd.Timedelta(milliseconds=r[0]),
            "int": r[1],
            "string": r[2],
            "name": r[3],
        }

    batches, wm_seq = ts_batches(data, to_row=to_row)
    rows = replay_keyed(fn, batches, wm_seq, ["string"], SESSION_COLS)
    got = sorted(
        f"{r['string']},{jfmt(r['window_start'])},"
        f"{jfmt(pd.Timestamp(r['window_end']) - pd.Timedelta(milliseconds=1))},"
        f"{r['c1']},{r['s1']},{r['ci']},{r['si']},{r['cdn']}"
        for r in rows
    )
    assert got == sorted(
        [
            "Hello World,1970-01-01T00:00:00.009,1970-01-01T00:00:00.013,1,1,1,9,1",
            "Hello,1970-01-01T00:00:00.016,1970-01-01T00:00:00.020,1,1,1,16,1",
            "Hello,1970-01-01T00:00:00.001,1970-01-01T00:00:00.012,4,4,4,15,3",
        ]
    )


def test_distinct_agg_with_merge_on_session_window():
    data = [
        (1, 2, "Hello"),
        (2, 2, "Hello"),
        (8, 2, "Hello"),
        (10, 3, "Hello"),
        (9, 9, "Hello World"),
        (4, 1, "Hello"),
        (16, 16, "Hello"),
    ]
    cols = ["rowtime", "b", "c"]
    schema = StructType(
        [
            StructField("rowtime", TimestampType()),
            StructField("b", LongType()),
            StructField("c", StringType()),
        ]
    )
    fn = build_gw(
        ["c"],
        [schema["c"]],
        [schema["rowtime"], schema["b"]],
        [("cdb", "count_distinct", "b", LongType())],
        kind="session",
        gap_ms=5,
    )

    def to_row(r):
        return {"rowtime": EPOCH + pd.Timedelta(milliseconds=r[0]), "b": r[1], "c": r[2]}

    batches, wm_seq = ts_batches(data, to_row=to_row)
    rows = replay_keyed(fn, batches, wm_seq, ["c"], cols)
    # the query selects SESSION_END (the exclusive end, not ROWTIME)
    got = sorted(f"{r['c']},{r['cdb']},{jfmt(r['window_end'])}" for r in rows)
    assert got == sorted(
        [
            "Hello World,1,1970-01-01T00:00:00.014",
            "Hello,1,1970-01-01T00:00:00.021",
            "Hello,3,1970-01-01T00:00:00.015",
        ]
    )


# ---------------------------------------------------------------------------
# allowed lateness: late rows re-fire -U/+U; the upsert sink keyed
# (string, window_start) materializes the final values
# ---------------------------------------------------------------------------


def test_event_time_tumbling_window_with_allow_lateness():
    data = [
        (1, 1, "Hi"),
        (2, 2, "Hello"),
        (4, 2, "Hello"),
        (8, 3, "Hello world"),
        (4, 3, "Hello"),  # out of order (within lateness)
        (16, 3, "Hello world"),
        (9, 4, "Hello world"),  # out of order (within lateness)
        (3, 1, "Hi"),  # too late, dropped
    ]
    cols = ["rowtime", "long", "int", "string"]
    schema = StructType(
        [
            StructField("rowtime", TimestampType()),
            StructField("long", LongType()),
            StructField("int", LongType()),
            StructField("string", StringType()),
        ]
    )
    aggs = [
        ("cdl", "count_distinct", "long", LongType()),
        ("ci", "count", "int", LongType()),
        ("avg_i", "avg_int", "int", LongType()),
        ("wavg", "weighted_avg", ("long", "int"), LongType()),
        ("min_i", "min", "int", LongType()),
        ("max_i", "max", "int", LongType()),
        ("sum_i", "sum_int", "int", LongType()),
    ]
    fn = build_gw(
        ["string"],
        [schema["string"]],
        [schema["rowtime"], schema["long"], schema["int"]],
        aggs,
        kind="tumble",
        size_ms=5,
        allowed_lateness_ms=10,
    )

    def to_row(r):
        return {
            "rowtime": EPOCH + pd.Timedelta(milliseconds=r[0]),
            "long": r[0],
            "int": r[1],
            "string": r[2],
        }

    # watermark offset 0: wm = max rowtime seen
    batches, wm_seq = ts_batches(data, to_row=to_row, wm_offset_ms=0)
    rows = replay_keyed(fn, batches, wm_seq, ["string"], cols)
    # upsert materialization keyed (string, window_start)
    table: dict[tuple, dict] = {}
    for r in rows:
        k = (r["string"], r["window_start"])
        if r["__rowkind"] in ("+I", "+U"):
            table[k] = r
        elif r["__rowkind"] == "-D":
            table.pop(k, None)
    got = sorted(
        f"{r['string']},{jfmt(r['window_start'])},{jfmt(r['window_end'])},"
        f"{r['cdl']},{r['ci']},{_iv(r['avg_i'])},{_iv(r['wavg'])},"
        f"{_iv(r['min_i'])},{_iv(r['max_i'])},{_iv(r['sum_i'])}"
        for r in table.values()
    )
    assert got == sorted(
        [
            "Hi,1970-01-01T00:00,1970-01-01T00:00:00.005,1,1,1,1,1,1,1",
            "Hello,1970-01-01T00:00,1970-01-01T00:00:00.005,2,3,2,3,2,3,7",
            "Hello world,1970-01-01T00:00:00.015,1970-01-01T00:00:00.020,1,1,3,16,3,3,3",
            "Hello world,1970-01-01T00:00:00.005,1970-01-01T00:00:00.010,2,2,3,8,3,4,7",
        ]
    )


# ---------------------------------------------------------------------------
# window aggregate over a changelog (upsert source -> ChangelogNormalize
# -> retract-accumulating window agg)
# ---------------------------------------------------------------------------

# GroupWindowITCase.upsertSourceCurrencyData — (kind, currency, no,
# rate, ts_sec)
UPSERT_DATA = [
    ("+U", "Euro", "no1", 114, 1),
    ("+U", "US Dollar", "no1", 100, 1),
    ("+U", "US Dollar", "no1", 102, 2),
    ("+U", "Yen", "no1", 1, 3),
    ("+U", "RMB", "no1", 702, 4),
    ("+U", "Euro", "no1", 118, 18),
    ("+U", "US Dollar", "no1", 104, 4),
    ("-D", "RMB", "no1", 702, 4),
]

CUR_COLS = ["__rowkind", "seq", "currency", "currency_no", "rate", "currency_time"]
CUR_SCHEMA = StructType(
    [
        StructField("__rowkind", StringType()),
        StructField("seq", LongType()),
        StructField("currency", StringType()),
        StructField("currency_no", StringType()),
        StructField("rate", LongType()),
        StructField("currency_time", TimestampType()),
    ]
)


def _currency_agg_rows(allowed_lateness_ms=0):
    """upsert rows -> production normalize closure -> window agg."""
    norm_cap = _Cap(CUR_SCHEMA)
    streaming_upsert_to_retract(norm_cap, ["currency"])
    norm_fn = norm_cap.fn

    agg_schema = StructType(
        [
            StructField("currency", StringType()),
            StructField("__rowkind", StringType()),
            StructField("currency_no", StringType()),
            StructField("rate", LongType()),
            StructField("currency_time", TimestampType()),
        ]
    )
    agg_cap = _Cap(agg_schema)
    streaming_group_window_agg(
        agg_cap,
        ["currency"],
        "currency_time",
        [("cnt", "count_star", None, LongType()), ("max_rate", "max", "rate", LongType())],
        kind="tumble",
        size_ms=5_000,
        rowkind_col="__rowkind",
        # source-fed: ChangelogNormalize emits on DATA rows, so its
        # output follows the watermark settled at the batch boundary —
        # timers fire first (the late USD -U/+U must find [0,5) fired)
        input_settled=False,
        allowed_lateness_ms=allowed_lateness_ms,
    )
    agg_fn = agg_cap.fn

    norm_states: dict[tuple, FakeGroupState] = {}
    agg_states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    max_ts = None
    rows_iter = list(UPSERT_DATA) + [None]  # None = flush
    for i, r in enumerate(rows_iter):
        wm = 10**15 if r is None else (
            -(2**60) if max_ts is None else max_ts * 1000 - 5000
        )
        changelog: list[dict] = []
        if r is not None:
            kind, cur, no, rate, ts_s = r
            row = {
                "__rowkind": kind,
                "seq": i,
                "currency": cur,
                "currency_no": no,
                "rate": rate,
                "currency_time": EPOCH + pd.Timedelta(seconds=ts_s),
            }
            changelog = replay(
                norm_fn, [[tuple(row[c] for c in CUR_COLS)]], ["currency"], CUR_COLS,
                groups=one_group, states=norm_states,
            )
            max_ts = ts_s if max_ts is None else max(max_ts, ts_s)
        per_key: dict[tuple, pd.DataFrame] = {}
        if changelog:
            pdf = pd.DataFrame(changelog)
            for key, grp in pdf.groupby(["currency"], sort=False, dropna=False):
                k = key if not isinstance(key, tuple) else key[0]
                per_key[(k,)] = grp.reset_index(drop=True)
        for kt in set(agg_states) | set(per_key):
            st = agg_states.setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = per_key.get(
                kt, pd.DataFrame(columns=[f.name for f in agg_schema.fields])
            )
            for e in agg_fn(kt, iter([frame]), st):
                out.extend(e.to_dict("records"))
    return out


def test_window_aggregate_on_upsert_source():
    rows = _currency_agg_rows()
    got = sorted(
        f"{r['currency']},{r['cnt']},{_iv(r['max_rate'])},"
        f"{jfmt(r['window_start'])},{jfmt(r['window_end'])}"
        for r in rows
        if r["__rowkind"] == "+I"
    )
    # Euro's [0,5) version was retracted by its t=18 update BEFORE the
    # window fired — no Euro [0,5) row; US Dollar's late 104 is dropped
    assert got == sorted(
        [
            "US Dollar,1,102,1970-01-01T00:00,1970-01-01T00:00:05",
            "Yen,1,1,1970-01-01T00:00,1970-01-01T00:00:05",
            "Euro,1,118,1970-01-01T00:00:15,1970-01-01T00:00:20",
            "RMB,1,702,1970-01-01T00:00,1970-01-01T00:00:05",
        ]
    )


def test_window_aggregate_on_upsert_source_with_allow_lateness():
    rows = _currency_agg_rows(allowed_lateness_ms=15_000)
    # retract materialization: fold +I/-U/+U/-D, keep final rows
    live: dict[tuple, dict] = {}
    for r in rows:
        k = (r["currency"], r["window_start"], r["cnt"], r["max_rate"])
        if r["__rowkind"] in ("+I", "+U"):
            live[k] = r
        else:
            live.pop(k, None)
    got = sorted(
        f"{r['currency']},{r['cnt']},{_iv(r['max_rate'])},"
        f"{jfmt(r['window_start'])},{jfmt(r['window_end'])}"
        for r in live.values()
    )
    # the late USD 104 now lands (-U 102/+U 104); RMB's late -D empties
    # its window entirely
    assert got == sorted(
        [
            "US Dollar,1,104,1970-01-01T00:00,1970-01-01T00:00:05",
            "Yen,1,1,1970-01-01T00:00,1970-01-01T00:00:05",
            "Euro,1,118,1970-01-01T00:00:15,1970-01-01T00:00:20",
        ]
    )


def test_window_aggregate_on_upsert_source_pushdown_watermark():
    rows = _currency_agg_rows()
    # global (window-only) rollup of the per-currency results — MAX of
    # the per-key maxima per window (the reference plans one global
    # agg; the per-key emissions here carry the same information)
    by_win: dict[tuple, int] = {}
    for r in rows:
        if r["__rowkind"] != "+I":
            continue
        k = (r["window_start"], r["window_end"])
        m = int(r["max_rate"])
        by_win[k] = max(by_win.get(k, m), m)
    got = sorted(f"{jfmt(ws)},{jfmt(we)},{m}" for (ws, we), m in by_win.items())
    assert got == sorted(
        [
            "1970-01-01T00:00,1970-01-01T00:00:05,702",
            "1970-01-01T00:00:15,1970-01-01T00:00:20,118",
        ]
    )


def test_window_aggregate_on_retract_stream():
    """Keep-last dedup changelog (-U/+U per string) -> window agg: only
    each key's LIVE version counts in its window."""
    dedup_schema = StructType(
        [
            StructField("__rowkind", StringType()),
            StructField("seq", LongType()),
            StructField("string", StringType()),
            StructField("rowtime", TimestampType()),
        ]
    )
    norm_cap = _Cap(dedup_schema)
    streaming_upsert_to_retract(norm_cap, ["string"])
    norm_fn = norm_cap.fn

    agg_schema = StructType(
        [
            StructField("string", StringType()),
            StructField("__rowkind", StringType()),
            StructField("rowtime", TimestampType()),
        ]
    )
    agg_cap = _Cap(agg_schema)
    streaming_group_window_agg(
        agg_cap,
        ["string"],
        "rowtime",
        [("cnt", "count_star", None, LongType())],
        kind="tumble",
        size_ms=5,
        rowkind_col="__rowkind",
        input_settled=True,
    )
    agg_fn = agg_cap.fn

    norm_states: dict[tuple, FakeGroupState] = {}
    agg_states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    max_ts = None
    for i, r in enumerate(list(TS_DATA) + [None]):
        wm = 10**15 if r is None else (
            -(2**60) if max_ts is None else max_ts - 10
        )
        changelog: list[dict] = []
        if r is not None:
            srow = {
                "__rowkind": "+U",
                "seq": i,
                "string": r[5],
                "rowtime": EPOCH + pd.Timedelta(milliseconds=r[0]),
            }
            cols = [f.name for f in dedup_schema.fields]
            changelog = replay(
                norm_fn, [[tuple(srow[c] for c in cols)]], ["string"], cols,
                groups=one_group, states=norm_states,
            )
            max_ts = r[0] if max_ts is None else max(max_ts, r[0])
        per_key: dict[tuple, pd.DataFrame] = {}
        if changelog:
            pdf = pd.DataFrame(changelog)
            for key, grp in pdf.groupby(["string"], sort=False, dropna=False):
                k = key if not isinstance(key, tuple) else key[0]
                kt = (None,) if (isinstance(k, float) and k != k) else (k,)
                per_key[kt] = grp.reset_index(drop=True)
        for kt in set(agg_states) | set(per_key):
            st = agg_states.setdefault(kt, FakeGroupState())
            st._wm = wm
            frame = per_key.get(kt, pd.DataFrame(columns=[f.name for f in agg_schema.fields]))
            for e in agg_fn(kt, iter([frame]), st):
                out.extend(e.to_dict("records"))

    got = sorted(
        f"{_v(r['string'])},{jfmt(r['window_start'])},{jfmt(r['window_end'])},{r['cnt']}"
        for r in out
        if r["__rowkind"] == "+I"
    )
    assert got == sorted(
        [
            "Hi,1970-01-01T00:00,1970-01-01T00:00:00.005,1",
            "Hallo,1970-01-01T00:00,1970-01-01T00:00:00.005,1",
            "Hello,1970-01-01T00:00:00.005,1970-01-01T00:00:00.010,1",
            "Hello world,1970-01-01T00:00:00.015,1970-01-01T00:00:00.020,1",
            "null,1970-01-01T00:00:00.030,1970-01-01T00:00:00.035,1",
        ]
    )
