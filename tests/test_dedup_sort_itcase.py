"""Deduplicate + TemporalSort conformance suites, ported from the
reference's stream-SQL ITCase corpus:

- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  DeduplicateITCase.scala (first/last row on proctime and rowtime,
  raw-changelog expectations, minibatch compaction, downstream
  unbounded agg)
- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  TemporalSortITCase.scala (event-time sort incl. tie handling and
  secondary sort field, proctime passthrough order)

The harness replays the PRODUCTION applyInPandasWithState closures
batch-by-batch with a faked GroupState (tools/fuzz_changelog.py's
capture shim) — the same per-key layout FlatMapGroupsInPandasWithState
provides — so emission SEQUENCES are checkable, which is exactly what
the reference's raw-result assertions pin.

Adaptations, each deliberate:
- proctime becomes an explicit arrival-order bigint (`seq`) — the
  cases use proctime only as a total order.
- The reference's bounded run ends with a +inf watermark that flushes
  event-time state; the replay appends an explicit flush batch with a
  huge watermark.
- Raw changelog strings (+I/-U/+U) are reconstructed from the
  operator's upsert emissions per key (first emission = +I, each
  later = -U(prev)/+U(new)) — the contract ChangelogNormalize /
  SinkUpsertMaterializer applies downstream, and exactly the
  'changelog-mode'='I,UA,D' view the reference sink records.
- Identical-value re-emissions are compacted (emit-on-rank-change);
  the ported expectations contain no identical-value updates, so the
  sequences compare equal.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tools.fuzz_changelog import (
    COUNT_SUM,
    FakeGroupState,
    _Cap,
    _schema,
    one_group,
    replay,
)


@pytest.fixture(autouse=True)
def _needs_spark(spark):
    # StructType.fromDDL parses through the active SparkContext
    return spark

# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


def replay_wm(fn, batches, key_cols, columns, wm_seq=None, flush_keys=None):
    """Like tools.fuzz_changelog.replay, but an EMPTY batch triggers a
    watermark-only call of ``fn`` for every key seen so far (the
    event-time flush Structured Streaming performs via timeouts)."""
    states: dict[tuple, FakeGroupState] = {}
    out: list[dict] = []
    for bi, batch in enumerate(batches):
        wm = wm_seq[bi] if wm_seq else 0
        if not batch:
            keys = list(states) if flush_keys is None else flush_keys
            for kt in keys:
                st = states.setdefault(kt, FakeGroupState())
                st._wm = wm
                empty = pd.DataFrame(columns=columns)
                for emitted in fn(kt, iter([empty]), st):
                    out.extend(emitted.to_dict("records"))
            continue
        pdf = pd.DataFrame(batch, columns=columns)
        for key, grp in pdf.groupby(list(key_cols), sort=False):
            kt = key if isinstance(key, tuple) else (key,)
            st = states.setdefault(kt, FakeGroupState())
            st._wm = wm
            for emitted in fn(kt, iter([grp.reset_index(drop=True)]), st):
                out.extend(emitted.to_dict("records"))
    return out


def one_per_batch(rows):
    return [[r] for r in rows]


def upsert_to_raw_changelog(emissions, key_col, fmt):
    """Reconstruct the reference sink's raw +I/-U/+U strings from an
    upsert emission stream (first emission per key = +I, later ones =
    -U of the previous + +U of the new)."""
    prev: dict = {}
    raw = []
    for r in emissions:
        k = r[key_col]
        if k in prev:
            raw.append("-U(" + fmt(prev[k]) + ")")
            raw.append("+U(" + fmt(r) + ")")
        else:
            raw.append("+I(" + fmt(r) + ")")
        prev[k] = r
    return raw


# TestData.tupleData3 (flink-table-planner .../utils/TestData.scala:258)
TUPLE_DATA3 = [
    (1, 1, "Hi"),
    (2, 2, "Hello"),
    (3, 2, "Hello world"),
    (4, 3, "Hello world, how are you?"),
    (5, 3, "I am fine."),
    (6, 3, "Luke Skywalker"),
    (7, 4, "Comment#1"),
    (8, 4, "Comment#2"),
    (9, 4, "Comment#3"),
    (10, 4, "Comment#4"),
    (11, 5, "Comment#5"),
    (12, 5, "Comment#6"),
    (13, 5, "Comment#7"),
    (14, 5, "Comment#8"),
    (15, 5, "Comment#9"),
    (16, 6, "Comment#10"),
    (17, 6, "Comment#11"),
    (18, 6, "Comment#12"),
    (19, 6, "Comment#13"),
    (20, 6, "Comment#14"),
    (21, 6, "Comment#15"),
]

# DeduplicateITCase.rowtimeTestData (DeduplicateITCase.scala:48)
ROWTIME_DATA = [
    (1, 1, "Hi"),
    (1, 3, "Hello"),
    (1, 2, "Hello world"),
    (2, 3, "I am fine."),
    (2, 6, "Comment#1"),
    (3, 5, "Comment#2"),
    (3, 4, "Comment#2"),
    (4, 4, "Comment#3"),
]


def _dedup_fn(keys, order_col, keep):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_dedup_keep_last,
    )

    cap = _Cap(_schema("a BIGINT, b BIGINT, c STRING, seq BIGINT"))
    streaming_dedup_keep_last(cap, keys=keys, order_col=order_col, keep=keep)
    return cap.fn


def _fold_last_per_key(emissions, key_col):
    cur = {}
    for r in emissions:
        cur[r[key_col]] = r
    return sorted(
        f"{r['a']},{r['b']},{r['c']}" for r in cur.values()
    )


# ---------------------------------------------------------------------------
# DeduplicateITCase ports
# ---------------------------------------------------------------------------


def test_first_row_on_proctime():
    """DeduplicateITCase.testFirstRowOnProctime (DeduplicateITCase.scala:60):
    ROW_NUMBER() OVER (PARTITION BY b ORDER BY proctime) = 1 keeps the
    FIRST ARRIVAL per b."""
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(TUPLE_DATA3)]
    fn = _dedup_fn(["b"], ["seq"], "first")
    for batches in (one_per_batch(rows), [rows], [rows[:7], rows[7:]]):
        got = _fold_last_per_key(
            replay(fn, batches, ["b"], ["a", "b", "c", "seq"], groups=one_group), "b"
        )
        assert got == sorted(
            [
                "1,1,Hi",
                "2,2,Hello",
                "4,3,Hello world, how are you?",
                "7,4,Comment#1",
                "11,5,Comment#5",
                "16,6,Comment#10",
            ]
        )


def test_last_row_on_proctime():
    """DeduplicateITCase.testLastRowOnProctime (DeduplicateITCase.scala:120):
    ORDER BY proctime DESC keeps the LAST ARRIVAL per b."""
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(TUPLE_DATA3)]
    fn = _dedup_fn(["b"], ["seq"], "last")
    for batches in (one_per_batch(rows), [rows], [rows[:11], rows[11:]]):
        got = _fold_last_per_key(
            replay(fn, batches, ["b"], ["a", "b", "c", "seq"], groups=one_group), "b"
        )
        assert got == sorted(
            [
                "1,1,Hi",
                "3,2,Hello world",
                "6,3,Luke Skywalker",
                "10,4,Comment#4",
                "15,5,Comment#9",
                "21,6,Comment#15",
            ]
        )


def _fmt_rowtime(r):
    return f"{r['a']},{r['b']},{r['c']}"


def test_first_row_on_rowtime_raw_changelog():
    """DeduplicateITCase.testFirstRowOnRowtime (DeduplicateITCase.scala:183):
    rowtime dedup keeps the SMALLEST-rowtime row per a, refining
    eagerly — the raw changelog pins the -U/+U pair when a=3's
    out-of-order (3,4) beats the held (3,5)."""
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(ROWTIME_DATA)]
    # order by (rowtime b, arrival seq): first-arrival wins rowtime ties
    fn = _dedup_fn(["a"], ["b", "seq"], "first")
    emissions = replay(
        fn, one_per_batch(rows), ["a"], ["a", "b", "c", "seq"], groups=one_group
    )
    raw = upsert_to_raw_changelog(emissions, "a", _fmt_rowtime)
    assert sorted(raw) == sorted(
        [
            "+I(1,1,Hi)",
            "+I(2,3,I am fine.)",
            "+I(3,5,Comment#2)",
            "-U(3,5,Comment#2)",
            "+U(3,4,Comment#2)",
            "+I(4,4,Comment#3)",
        ]
    )


def test_last_row_on_rowtime_raw_changelog():
    """DeduplicateITCase.testLastRowOnRowtime (DeduplicateITCase.scala:289):
    PARTITION BY b ORDER BY rowtime DESC — on EQUAL rowtime the later
    arrival replaces (the -U(1,3,Hello)/+U(2,3,I am fine.) pair at
    rowtime 3, and -U(3,4)/+U(4,4) at rowtime 4)."""
    # here the partition key is b (the rowtime value itself)
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(ROWTIME_DATA)]
    fn = _dedup_fn(["b"], ["b", "seq"], "last")
    emissions = replay(
        fn, one_per_batch(rows), ["b"], ["a", "b", "c", "seq"], groups=one_group
    )
    raw = upsert_to_raw_changelog(emissions, "b", _fmt_rowtime)
    assert sorted(raw) == sorted(
        [
            "+I(1,1,Hi)",
            "+I(1,3,Hello)",
            "+I(1,2,Hello world)",
            "-U(1,3,Hello)",
            "+U(2,3,I am fine.)",
            "+I(2,6,Comment#1)",
            "+I(3,5,Comment#2)",
            "+I(3,4,Comment#2)",
            "-U(3,4,Comment#2)",
            "+U(4,4,Comment#3)",
        ]
    )


def test_first_row_minibatch_compaction():
    """DeduplicateITCase.testFirstRowWithoutAllChangelogOnRowtime
    (DeduplicateITCase.scala:215): with minibatch compaction the a=3
    intermediate winner (3,5) never surfaces — one batch = one
    compacted emission per key, which the micro-batch model gives for
    free."""
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(ROWTIME_DATA)]
    fn = _dedup_fn(["a"], ["b", "seq"], "first")
    emissions = replay(fn, [rows], ["a"], ["a", "b", "c", "seq"], groups=one_group)
    raw = upsert_to_raw_changelog(emissions, "a", _fmt_rowtime)
    assert sorted(raw) == sorted(
        [
            "+I(1,1,Hi)",
            "+I(2,3,I am fine.)",
            "+I(3,4,Comment#2)",
            "+I(4,4,Comment#3)",
        ]
    )


def test_last_row_minibatch_compaction():
    """DeduplicateITCase.testLastRowWithoutAllChangelogOnRowtime
    (DeduplicateITCase.scala:330): the compacted last-row changelog —
    six +I rows, no updates."""
    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(ROWTIME_DATA)]
    fn = _dedup_fn(["b"], ["b", "seq"], "last")
    emissions = replay(fn, [rows], ["b"], ["a", "b", "c", "seq"], groups=one_group)
    raw = upsert_to_raw_changelog(emissions, "b", _fmt_rowtime)
    assert sorted(raw) == sorted(
        [
            "+I(1,1,Hi)",
            "+I(1,2,Hello world)",
            "+I(2,3,I am fine.)",
            "+I(2,6,Comment#1)",
            "+I(3,5,Comment#2)",
            "+I(4,4,Comment#3)",
        ]
    )


@pytest.mark.parametrize("keep,part", [("first", "b"), ("last", "b")])
def test_dedup_followed_by_unbounded_agg(keep, part):
    """DeduplicateITCase.testFirstRowOnRowTimeFollowedByUnboundedAgg /
    testLastRowOnRowTimeFollowedByUnboundedAgg (DeduplicateITCase.scala
    :252,:364): the dedup changelog feeds a COUNT that must honor the
    -U retractions — final count 6 (one live row per distinct b)."""
    from flink_release_1_16_0_spark.streaming.changelog import (
        DELETE,
        INSERT,
        ROWKIND,
        UPDATE_AFTER,
        UPDATE_BEFORE,
    )
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    rows = [(a, b, c, i) for i, (a, b, c) in enumerate(ROWTIME_DATA)]
    order = ["b", "seq"]
    fn = _dedup_fn([part], order, keep)
    emissions = replay(
        fn, one_per_batch(rows), [part], ["a", "b", "c", "seq"], groups=one_group
    )
    # dedup upserts -> retract changelog (the planner's implicit
    # upsert-to-retract conversion in front of the downstream agg)
    prev: dict = {}
    changelog = []
    for r in emissions:
        k = r[part]
        if k in prev:
            changelog.append((UPDATE_BEFORE, 0, float(prev[k]["b"])))
            changelog.append((UPDATE_AFTER, 0, float(r["b"])))
        else:
            changelog.append((INSERT, 0, float(r["b"])))
        prev[k] = r

    cap = _Cap(_schema(f"{ROWKIND} STRING, g BIGINT, v DOUBLE"))
    streaming_retracting_multi_agg(cap, ["g"], COUNT_SUM, rowkind_col=ROWKIND)
    agg_out = replay_wm(
        cap.fn, one_per_batch(changelog), ["g"], [ROWKIND, "g", "v"]
    )
    live = None
    for r in agg_out:
        if r[ROWKIND] in (INSERT, UPDATE_AFTER):
            live = r
        elif r[ROWKIND] == DELETE:
            live = None
    assert live is not None and live["n"] == 6


# ---------------------------------------------------------------------------
# TemporalSortITCase ports
# ---------------------------------------------------------------------------

TSORT_DATA = [
    # (rowtime_ms(sec graduated), key, str, int) — TemporalSortITCase:44
    (3000, 2, "Hello world", 3),
    (2000, 2, "Hello", 2),
    (6000, 3, "Luke Skywalker", 6),
    (5000, 3, "I am fine.", 5),
    (7000, 4, "Comment#1", 7),
    (9000, 4, "Comment#3", 9),
    (10000, 4, "Comment#4", 10),
    (8000, 4, "Comment#2", 8),
    (1000, 1, "Hi", 2),
    (1000, 1, "Hi", 1),
    (4000, 3, "Helloworld, how are you?", 4),
]


def _tsort_fn(order_cols):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_temporal_sort,
    )

    cap = _Cap(
        _schema("g BIGINT, rowtime TIMESTAMP, key BIGINT, str STRING, i BIGINT")
    )
    streaming_temporal_sort(cap, order_cols=order_cols, keys=["g"])
    return cap.fn


def _tsort_rows(data):
    return [
        (0, pd.Timestamp(ms, unit="ms"), k, s, i) for ms, k, s, i in data
    ]


COLS = ["g", "rowtime", "key", "str", "i"]


def test_only_event_time_order_by():
    """TemporalSortITCase.testOnlyEventTimeOrderBy (TemporalSortITCase
    .scala:43): ORDER BY rowtime only — EXACT emitted order, with the
    two rowtime-tied '1,Hi' rows kept in ARRIVAL order (2 before 1),
    the reference's stable sort contract."""
    rows = _tsort_rows(TSORT_DATA)
    # watermark offset 10s: stays at 0 through the data, then the
    # bounded run's final +inf watermark flushes everything
    batches = [*one_per_batch(rows), []]
    wm_seq = [0] * len(rows) + [10**15]
    out = replay_wm(_tsort_fn(["rowtime"]), batches, ["g"], COLS, wm_seq)
    got = [f"{r['key']},{r['str']},{r['i']}" for r in out]
    assert got == [
        "1,Hi,2",
        "1,Hi,1",
        "2,Hello,2",
        "2,Hello world,3",
        "3,Helloworld, how are you?,4",
        "3,I am fine.,5",
        "3,Luke Skywalker,6",
        "4,Comment#1,7",
        "4,Comment#2,8",
        "4,Comment#3,9",
        "4,Comment#4,10",
    ]
    # the emit_seq column is itself the emitted order
    assert [r["emit_seq"] for r in out] == list(range(1, len(out) + 1))


def test_event_time_and_other_field_order_by():
    """TemporalSortITCase.testTimestampEventTimeAndOtherFieldOrderBy
    (TemporalSortITCase.scala:135): ORDER BY rowtime, int — the tie at
    rowtime 1s now resolves by the secondary field (1 before 2)."""
    rows = _tsort_rows(TSORT_DATA)
    batches = [*one_per_batch(rows), []]
    wm_seq = [0] * len(rows) + [10**15]
    out = replay_wm(_tsort_fn(["rowtime", "i"]), batches, ["g"], COLS, wm_seq)
    got = [f"{r['key']},{r['str']},{r['i']}" for r in out]
    assert got == [
        "1,Hi,1",
        "1,Hi,2",
        "2,Hello,2",
        "2,Hello world,3",
        "3,Helloworld, how are you?,4",
        "3,I am fine.,5",
        "3,Luke Skywalker,6",
        "4,Comment#1,7",
        "4,Comment#2,8",
        "4,Comment#3,9",
        "4,Comment#4,10",
    ]


def test_event_time_order_by_incremental_watermark():
    """TemporalSortITCase.testEventTimeOrderByWithParallelInput
    (TemporalSortITCase.scala:90) adapted: the watermark advances
    mid-stream, so emission happens in watermark-driven waves — the
    concatenated waves must still be the exact global order."""
    data = [r for r in TSORT_DATA if not (r[1] == 1 and r[3] == 2)]
    rows = _tsort_rows(data)
    # all rows arrive while the watermark is still 0 (the 10s delay
    # exceeds every timestamp), then two watermark advances flush in
    # waves: <=5s first, the rest at the final +inf flush — the
    # concatenation must be the exact global event-time order
    batches = [rows[:6], rows[6:], [], []]
    wm_seq = [0, 0, 5000, 10**15]
    out = replay_wm(_tsort_fn(["rowtime"]), batches, ["g"], COLS, wm_seq)
    got = [f"{r['key']},{r['str']},{r['i']}" for r in out]
    assert got == [
        "1,Hi,1",
        "2,Hello,2",
        "2,Hello world,3",
        "3,Helloworld, how are you?,4",
        "3,I am fine.,5",
        "3,Luke Skywalker,6",
        "4,Comment#1,7",
        "4,Comment#2,8",
        "4,Comment#3,9",
        "4,Comment#4,10",
    ]
    # first wave ended exactly at the 5s watermark: five rows
    assert [r["emit_seq"] for r in out] == list(range(1, 11))


def test_proctime_order_by():
    """TemporalSortITCase.testProcTimeOrderBy (TemporalSortITCase
    .scala:243): ORDER BY proctime = arrival order, all 21 rows of
    tupleData3 in exact input order."""
    rows = [
        (0, pd.Timestamp(i + 1, unit="ms"), b, c, a)
        for i, (a, b, c) in enumerate(TUPLE_DATA3)
    ]
    batches = [*one_per_batch(rows), []]
    wm_seq = [0] * len(rows) + [10**15]
    out = replay_wm(_tsort_fn(["rowtime"]), batches, ["g"], COLS, wm_seq)
    got = [f"{r['i']},{r['key']},{r['str']}" for r in out]
    assert got == [f"{a},{b},{c}" for a, b, c in TUPLE_DATA3]
