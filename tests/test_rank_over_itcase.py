"""Rank (TopN) + OverAggregate conformance suites, ported from the
reference's stream-SQL ITCase corpus:

- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  RankITCase.scala (append TopN, Nth-rank selection, ascending upsert
  TopN, retracting-agg -> retractable TopN compositions)
- flink-table-planner/src/test/scala/.../runtime/stream/sql/
  OverAggregateITCase.scala (rowtime ROWS/RANGE bounded + unbounded,
  partitioned + non-partitioned, with the reference's EXPLICIT
  watermark schedules Right(wm) driving emission waves)

Harness: replay the production applyInPandasWithState closures with
tools/fuzz_changelog's capture shim (see test_dedup_sort_itcase.py).

Adaptations, each deliberate:
- The LTCNT UDAF column (count of values > 4) is dropped; SUM and
  COUNT columns are asserted exactly. AVG/MAX/MIN columns are likewise
  derived aggregates the port omits (the builders emit n/sum — the
  reference's expected avg is sum/count of the SAME frame, so frame
  identity is what the kept columns pin).
- The reference's bounded-run final MAX_WATERMARK is an explicit
  flush batch with a huge watermark.
- Each Right(wm) punctuation becomes an empty flush batch at the new
  watermark (Flink fires timers the moment the watermark arrives; the
  replay fires them at the next fn call for the key).
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
from tests.test_dedup_sort_itcase import replay_wm


@pytest.fixture(autouse=True)
def _needs_spark(spark):
    return spark


# ---------------------------------------------------------------------------
# RankITCase ports
# ---------------------------------------------------------------------------

RANK_DATA = [  # RankITCase.scala:44 (category, shopId, num)
    ("book", 1, 12),
    ("book", 2, 19),
    ("book", 4, 11),
    ("fruit", 4, 33),
    ("fruit", 3, 44),
    ("fruit", 5, 22),
]


def _topn_fn(order_cols, n, ascending):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_retractable_topn,
    )

    cap = _Cap(
        _schema(
            "__rowkind STRING, category STRING, shopId BIGINT, "
            "num BIGINT, cnt BIGINT"
        )
    )
    streaming_retractable_topn(
        cap, keys=["category"], order_cols=order_cols, n=n,
        ascending=ascending,
    )
    return cap.fn


TOPN_COLS = ["__rowkind", "category", "shopId", "num", "cnt"]


def _fold_topn(emissions):
    """Latest-epoch top-N per key — the upsert view a sink keyed on
    (key, rn) materializes."""
    per_key: dict = {}
    for r in emissions:
        k = r["category"]
        cur = per_key.get(k)
        if cur is None or r["__epoch"] > cur[0]:
            per_key[k] = (r["__epoch"], [r])
        elif r["__epoch"] == cur[0]:
            cur[1].append(r)
    return sorted(
        (r["category"], int(r["shopId"]), int(r["num"]), int(r["rn"]))
        for _, rows in per_key.values()
        for r in rows
        if r["rn"] >= 1  # rn=0 tombstone = frame now empty
    )


def test_topn():
    """RankITCase.testTopN (RankITCase.scala:43): top-2 per category by
    num DESC over an append stream — folded retract result."""
    rows = [("+I", c, s, n, 1) for c, s, n in RANK_DATA]
    fn = _topn_fn(["num"], 2, False)
    got = _fold_topn(
        replay(fn, [[r] for r in rows], ["category"], TOPN_COLS, groups=one_group)
    )
    assert got == sorted(
        [
            ("book", 2, 19, 1),
            ("book", 1, 12, 2),
            ("fruit", 3, 44, 1),
            ("fruit", 4, 33, 2),
        ]
    )


@pytest.mark.parametrize(
    "rank_no,expected",
    [
        (1, [("book", 2, 19, 1), ("fruit", 3, 44, 1)]),
        (2, [("book", 1, 12, 2), ("fruit", 4, 33, 2)]),
    ],
)
def test_topnth(rank_no, expected):
    """RankITCase.testTop1/testTop2 (RankITCase.scala:73,79): rank_num
    = N selects exactly the Nth row per category."""
    rows = [("+I", c, s, n, 1) for c, s, n in RANK_DATA]
    fn = _topn_fn(["num"], rank_no, False)
    got = [t for t in _fold_topn(
        replay(fn, [[r] for r in rows], ["category"], TOPN_COLS, groups=one_group)
    ) if t[3] == rank_no]
    assert got == sorted(expected)


def test_topn_with_upsert_sink():
    """RankITCase.testTopNWithUpsertSink (RankITCase.scala:114): num
    ASC — the bottom-2 per category."""
    rows = [("+I", c, s, n, 1) for c, s, n in RANK_DATA]
    fn = _topn_fn(["num"], 2, True)
    got = _fold_topn(
        replay(fn, [[r] for r in rows], ["category"], TOPN_COLS, groups=one_group)
    )
    assert got == sorted(
        [
            ("book", 4, 11, 1),
            ("book", 1, 12, 2),
            ("fruit", 5, 22, 1),
            ("fruit", 4, 33, 2),
        ]
    )


RETRACT_DATA = [  # RankITCase.scala:403 (category, shopId, num)
    ("book", 1, 11),
    ("book", 2, 19),
    ("book", 4, 13),
    ("book", 1, 11),
    ("fruit", 4, 33),
    ("fruit", 5, 12),
    ("fruit", 3, 44),
    ("fruit", 5, 22),
]


def _agg_then_topn(data, n, order_cols, ascending):
    """SUM/COUNT GROUP BY (category, shopId) feeding a retractable
    TopN — the reference plan for testTopNWithGroupByAndRetract. Each
    source row is its own micro-batch; the agg's -U/+U emissions for
    that batch become the TopN's input batch, preserving the
    changelog interleaving of the fused pipeline."""
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    agg_cap = _Cap(
        _schema("__rowkind STRING, category STRING, shopId BIGINT, v DOUBLE")
    )
    streaming_retracting_multi_agg(
        agg_cap, ["category", "shopId"], COUNT_SUM, rowkind_col="__rowkind"
    )
    agg_states: dict = {}
    topn_fn = _topn_fn(order_cols, n, ascending)
    topn_states: dict = {}
    out = []
    for c, s, num in data:
        pdf = pd.DataFrame(
            [("+I", c, s, float(num))],
            columns=["__rowkind", "category", "shopId", "v"],
        )
        kt = (c, s)
        st = agg_states.setdefault(kt, FakeGroupState())
        agg_rows = []
        for emitted in agg_cap.fn(kt, iter([pdf]), st):
            agg_rows.extend(emitted.to_dict("records"))
        if not agg_rows:
            continue
        changelog = [
            (r["__rowkind"], r["category"], r["shopId"], int(r["total"]), int(r["n"]))
            for r in agg_rows
        ]
        out += replay(
            topn_fn, [changelog], ["category"], TOPN_COLS,
            groups=one_group, states=topn_states,
        )
    return out


def test_topn_with_group_by_and_retract():
    """RankITCase.testTopNWithGroupByAndRetract (RankITCase.scala:402):
    ORDER BY sum(num) DESC, count(num) ASC over an UPDATING input —
    book shop 1's second 11 lifts its sum to 22, promoting it to
    rank 1 past shop 2's 19."""
    out = _agg_then_topn(RETRACT_DATA, 2, ["num", "cnt"], [False, True])
    got = sorted(
        (r["category"], int(r["shopId"]), int(r["num"]), int(r["cnt"]),
         int(r["rn"]))
        for r in _latest_epoch_rows(out)
    )
    assert got == sorted(
        [
            ("book", 1, 22, 2, 1),
            ("book", 2, 19, 1, 2),
            ("fruit", 3, 44, 1, 1),
            ("fruit", 5, 34, 2, 2),
        ]
    )


def test_topnth_with_group_by_and_retract():
    """RankITCase.testTopNthWithGroupByAndRetract (RankITCase.scala:439):
    the rank_num = 2 slice of the same updating TopN."""
    out = _agg_then_topn(RETRACT_DATA, 2, ["num", "cnt"], [False, True])
    got = sorted(
        (r["category"], int(r["shopId"]), int(r["num"]), int(r["cnt"]),
         int(r["rn"]))
        for r in _latest_epoch_rows(out)
        if int(r["rn"]) == 2
    )
    assert got == sorted(
        [("book", 2, 19, 1, 2), ("fruit", 5, 34, 2, 2)]
    )


def _latest_epoch_rows(emissions):
    per_key: dict = {}
    for r in emissions:
        k = r["category"]
        cur = per_key.get(k)
        if cur is None or r["__epoch"] > cur[0]:
            per_key[k] = (r["__epoch"], [r])
        elif r["__epoch"] == cur[0]:
            cur[1].append(r)
    return [
        r for _, rows in per_key.values() for r in rows if r["rn"] >= 1
    ]


COUNT_DATA = [  # RankITCase.scala:477 (category, shopId, sellId)
    ("book", 1, 1001),
    ("book", 2, 1002),
    ("book", 4, 1003),
    ("book", 1, 1004),
    ("book", 1, 1005),
    ("book", 3, 1006),
    ("book", 2, 1007),
    ("book", 4, 1008),
    ("book", 1, 1009),
    ("book", 4, 1010),
    ("book", 4, 1012),
    ("book", 4, 1012),
    ("fruit", 4, 1013),
    ("fruit", 5, 1014),
    ("fruit", 3, 1015),
    ("fruit", 4, 1017),
    ("fruit", 5, 1018),
    ("fruit", 5, 1016),
]


def test_topn_with_group_by_count():
    """RankITCase.testTopNWithGroupByCount (RankITCase.scala:476):
    count(sellId) GROUP BY shopId feeding top-4 by sells DESC — the
    upsert sink keyed on (category, rank_num)."""
    # count agg == the n column; order by (cnt DESC, shopId implicit
    # stability — the reference output has no count ties at the end)
    out = _agg_then_topn(
        [(c, s, 1) for c, s, _ in COUNT_DATA], 4, ["cnt"], False
    )
    got = sorted(
        (r["category"], int(r["rn"]), int(r["cnt"]), int(r["shopId"]))
        for r in _latest_epoch_rows(out)
    )
    assert got == sorted(
        [
            ("book", 1, 5, 4),
            ("book", 2, 4, 1),
            ("book", 3, 2, 2),
            ("book", 4, 1, 3),
            ("fruit", 1, 3, 5),
            ("fruit", 2, 2, 4),
            ("fruit", 3, 1, 3),
        ]
    )


# ---------------------------------------------------------------------------
# OverAggregateITCase ports
# ---------------------------------------------------------------------------


def _schedule(events):
    """(('L', row) | ('R', wm)) sequence -> (batches, wm_seq): rows
    process under the watermark in effect when they arrive; each
    Right(wm) fires timers via an empty flush batch; a final huge
    watermark is the bounded run's MAX_WATERMARK flush."""
    batches, wm_seq = [], []
    cur_wm, buf = 0, []
    for kind, val in events:
        if kind == "L":
            buf.append(val)
        else:
            if buf:
                batches.append(buf)
                wm_seq.append(cur_wm)
                buf = []
            cur_wm = val
            batches.append([])
            wm_seq.append(cur_wm)
    if buf:
        batches.append(buf)
        wm_seq.append(cur_wm)
    batches.append([])
    wm_seq.append(10**15)
    return batches, wm_seq


def _over_fn(builder_name, **kw):
    import flink_release_1_16_0_spark.streaming.stateful as S

    cap = _Cap(
        _schema("c STRING, ts TIMESTAMP, id BIGINT, v DOUBLE")
    )
    getattr(S, builder_name)(
        cap, keys=["c"], value_col="v", id_col="id", ts_col="ts", **kw
    )
    return cap.fn


OVER_COLS = ["c", "ts", "id", "v"]


def _run_over(builder_name, events, **kw):
    """events: ('L', (ts_ms, a, c)) | ('R', wm). Returns {(c, id):
    (n, sum)} plus id->(a, ts) so assertions can name rows by payload."""
    rows = []
    payload = {}
    seq = []
    for kind, val in events:
        if kind == "L":
            ts_ms, a, c = val
            i = len(rows)
            rows.append((c, pd.Timestamp(ts_ms, unit="ms"), i, float(a)))
            payload[i] = (a, ts_ms, c)
            seq.append(("L", rows[-1]))
        else:
            seq.append(("R", val))
    batches, wm_seq = _schedule(seq)
    fn = _over_fn(builder_name, **kw)
    out = replay_wm(fn, batches, ["c"], OVER_COLS, wm_seq)
    ncol = "win_n" if builder_name != "streaming_over_rows_event_time" else "running_n"
    scol = "win_sum" if builder_name != "streaming_over_rows_event_time" else "running_sum"
    emitted = {}
    for r in out:
        emitted[(r["c"], int(r["id"]))] = (int(r[ncol]), int(r[scol]))
    return emitted, payload


def _expect(emitted, payload, expected_rows):
    """expected_rows: list of (c, a, count, sum) multiset — the
    reference's TestingAppendSink content with the UDAF/derived
    columns dropped."""
    got = sorted(
        (c, payload[i][0], n, s) for (c, i), (n, s) in emitted.items()
    )
    assert got == sorted(expected_rows)


def test_rowtime_bounded_partitioned_range_over():
    """OverAggregateITCase.testRowTimeBoundedPartitionedRangeOver
    (OverAggregateITCase.scala:446): RANGE 1s PRECEDING — peers share
    frames, late rows vs the per-key fired boundary, the ts-10000 row
    arriving at watermark 10000 is ON TIME (this case forced the
    strict-less-than late boundary)."""
    E = [
        ("L", (1500, 1, "Hello")),
        ("L", (1600, 1, "Hello")),
        ("L", (1000, 1, "Hello")),
        ("L", (2000, 2, "Hello")),
        ("R", 1000),
        ("L", (2000, 2, "Hello")),
        ("L", (2000, 2, "Hello")),  # reference (2L,3): a=2, b=3
        ("L", (3000, 3, "Hello")),
        ("R", 2000),
        ("L", (4000, 4, "Hello")),
        ("R", 3000),
        ("L", (5000, 5, "Hello")),
        ("R", 5000),
        ("L", (6000, 6, "Hello")),
        ("L", (6500, 6, "Hello")),
        ("R", 7000),
        ("L", (9000, 6, "Hello")),
        ("L", (9500, 6, "Hello")),
        ("L", (9000, 6, "Hello")),
        ("R", 10000),
        ("L", (10000, 7, "Hello World")),
        ("L", (11000, 7, "Hello World")),
        ("L", (11000, 7, "Hello World")),
        ("R", 12000),
        ("L", (14000, 7, "Hello World")),
        ("R", 14000),
        ("L", (15000, 8, "Hello World")),
        ("R", 17000),
        ("L", (20000, 20, "Hello World")),
        ("R", 19000),
    ]
    emitted, payload = _run_over(
        "streaming_over_range_event_time", E, bound_ms=1000
    )
    # (c, a, count, sum) — b-column identity dropped (two payload-equal
    # (2000, a=2) peers are indistinguishable without b; counts/sums
    # pin the frames)
    _expect(
        emitted,
        payload,
        [
            ("Hello", 1, 1, 1),
            ("Hello", 1, 2, 2),
            ("Hello", 1, 3, 3),
            ("Hello", 2, 6, 9),
            ("Hello", 2, 6, 9),
            ("Hello", 2, 6, 9),
            ("Hello", 3, 4, 9),
            ("Hello", 4, 2, 7),
            ("Hello", 5, 2, 9),
            ("Hello", 6, 2, 11),
            ("Hello", 6, 2, 12),
            ("Hello", 6, 2, 12),
            ("Hello", 6, 2, 12),
            ("Hello", 6, 3, 18),
            ("Hello World", 7, 1, 7),
            ("Hello World", 7, 3, 21),
            ("Hello World", 7, 3, 21),
            ("Hello World", 7, 1, 7),
            ("Hello World", 8, 2, 15),
            ("Hello World", 20, 1, 20),
        ],
    )


def test_rowtime_bounded_partitioned_rows_over():
    """OverAggregateITCase.testRowTimeBoundedPartitionedRowsOver
    (OverAggregateITCase.scala:529): ROWS 2 PRECEDING — per-row frames
    in (ts, arrival) order, duplicate payloads kept distinct."""
    E = [
        ("L", (1, 1, "Hello")),
        ("L", (2, 2, "Hello")),
        ("L", (1, 1, "Hello")),
        ("L", (2, 2, "Hello")),
        ("L", (2, 2, "Hello")),
        ("L", (1, 1, "Hello")),
        ("L", (3, 7, "Hello World")),
        ("L", (1, 7, "Hello World")),
        ("L", (1, 7, "Hello World")),
        ("R", 2),
        ("L", (3, 3, "Hello")),
        ("L", (4, 4, "Hello")),
        ("L", (5, 5, "Hello")),
        ("L", (6, 6, "Hello")),
        ("L", (20, 20, "Hello World")),
        ("R", 6),
        ("L", (8, 8, "Hello World")),
        ("L", (7, 7, "Hello World")),
        ("R", 20),
    ]
    emitted, payload = _run_over(
        "streaming_over_rows_bounded_event_time", E, n_rows=3
    )
    _expect(
        emitted,
        payload,
        [
            ("Hello", 1, 1, 1),
            ("Hello", 1, 2, 2),
            ("Hello", 1, 3, 3),
            ("Hello", 2, 3, 4),
            ("Hello", 2, 3, 5),
            ("Hello", 2, 3, 6),
            ("Hello", 3, 3, 7),
            ("Hello", 4, 3, 9),
            ("Hello", 5, 3, 12),
            ("Hello", 6, 3, 15),
            ("Hello World", 7, 1, 7),
            ("Hello World", 7, 2, 14),
            ("Hello World", 7, 3, 21),
            ("Hello World", 7, 3, 21),
            ("Hello World", 8, 3, 22),
            ("Hello World", 20, 3, 35),
        ],
    )


UNBOUNDED_DATA = [  # OverAggregateITCase.scala:755 — (ts, b, partition a)
    ("L", (14000005, 1, "1")),
    ("L", (14000000, 1, "2")),
    ("L", (14000002, 1, "1")),
    ("L", (14000002, 2, "1")),
    ("L", (14000002, 3, "1")),
    ("L", (14000003, 2, "2")),
    ("L", (14000003, 3, "2")),
    ("R", 14000020),
    ("L", (14000021, 4, "1")),
    ("L", (14000022, 5, "1")),
    ("L", (14000022, 6, "1")),
    ("L", (14000022, 7, "1")),
    ("L", (14000023, 4, "2")),
    ("L", (14000023, 5, "2")),
    ("R", 14000030),
]


def test_rowtime_unbounded_partitioned_range_over():
    """OverAggregateITCase.testRowTimeUnBoundedPartitionedRangeOver
    (OverAggregateITCase.scala:739): RANGE UNBOUNDED PRECEDING — peers
    (equal ts) share the frame including all peers."""
    emitted, payload = _run_over(
        "streaming_over_range_event_time", UNBOUNDED_DATA,
        bound_ms=10**12,
    )
    _expect(
        emitted,
        payload,
        [
            ("1", 1, 3, 6),
            ("1", 2, 3, 6),
            ("1", 3, 3, 6),
            ("1", 1, 4, 7),
            ("2", 1, 1, 1),
            ("2", 2, 3, 6),
            ("2", 3, 3, 6),
            ("1", 4, 5, 11),
            ("1", 5, 8, 29),
            ("1", 6, 8, 29),
            ("1", 7, 8, 29),
            ("2", 4, 5, 15),
            ("2", 5, 5, 15),
        ],
    )


def test_rowtime_unbounded_nonpartitioned_range_over():
    """OverAggregateITCase.testRowTimeUnBoundedNonPartitionedRangeOver
    (OverAggregateITCase.scala:874): same data, ONE global partition."""
    events = [
        (k, (v[0], v[1], "all") if k == "L" else v)
        for k, v in UNBOUNDED_DATA
    ]
    emitted, payload = _run_over(
        "streaming_over_range_event_time", events, bound_ms=10**12
    )
    got = sorted(n_s for n_s in emitted.values())
    assert got == sorted(
        [
            (1, 1),       # 2,1,Hello @14000000
            (4, 7),       # the three @14000002 peers + ...
            (4, 7),
            (4, 7),
            (6, 12),      # the two @14000003 peers
            (6, 12),
            (7, 13),      # @14000005
            (8, 17),      # @14000021
            (11, 35),     # three @14000022 peers
            (11, 35),
            (11, 35),
            (13, 44),     # two @14000023 peers
            (13, 44),
        ]
    )


def test_rowtime_unbounded_partitioned_rows_over():
    """OverAggregateITCase.testRowTimeUnBoundedPartitionedRowsOver
    (OverAggregateITCase.scala:805): ROWS UNBOUNDED — strict per-row
    frames in event-time order; the out-of-order tail (26,25,22 after
    21) finalizes sorted."""
    E = [
        ("L", (14000005, 1, "1")),
        ("L", (14000000, 1, "2")),
        ("L", (14000002, 1, "3")),
        ("L", (14000003, 2, "1")),
        ("L", (14000004, 3, "1")),
        ("L", (14000007, 2, "3")),
        ("L", (14000008, 2, "2")),
        ("R", 14000010),
        ("L", (14000012, 5, "1")),
        ("L", (14000021, 6, "1")),
        ("L", (14000023, 5, "2")),
        ("R", 14000020),
        ("L", (14000024, 5, "3")),
        ("L", (14000026, 7, "1")),
        ("L", (14000025, 8, "1")),
        ("L", (14000022, 9, "1")),
        ("R", 14000030),
    ]
    emitted, payload = _run_over("streaming_over_rows_event_time", E)
    _expect(
        emitted,
        payload,
        [
            ("1", 2, 1, 2),
            ("1", 3, 2, 5),
            ("1", 1, 3, 6),
            ("2", 1, 1, 1),
            ("2", 2, 2, 3),
            ("3", 1, 1, 1),
            ("3", 2, 2, 3),
            ("1", 5, 4, 11),
            ("1", 6, 5, 17),
            ("1", 9, 6, 26),
            ("1", 8, 7, 34),
            ("1", 7, 8, 41),
            ("2", 5, 3, 8),
            ("3", 5, 3, 8),
        ],
    )
