"""SortLimitITCase conformance, ported from
flink-table-planner/src/test/scala/.../runtime/stream/sql/
SortLimitITCase.scala — retractable global ORDER BY ... LIMIT
(RetractableTopNFunction with a constant partition):

- append input top-2 by num DESC;
- LIMIT over a retracting upstream (GROUP BY a + MAX(b): each key's
  superseded max retracts out of the rank state, so the final top-2
  holds only live maxima);
- the same with OFFSET 1 (rankRange [2,3] — rank_start on the
  production operator).

The final TestingRetractSink state is the LAST epoch's emission per
constant key. Expected rows are the ITCase's own (ported test data,
Apache-2.0); the implementation is original
(streaming/stateful.py:streaming_retractable_topn +
streaming/retract_agg.py for the inner MAX)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from tools.fuzz_changelog import FakeGroupState, _Cap, one_group, replay
from flink_release_1_16_0_spark.streaming.retract_agg import (
    streaming_retracting_multi_agg,
)
from flink_release_1_16_0_spark.streaming.stateful import (
    streaming_retractable_topn,
)

RK = "__rowkind"


def run_topn(in_schema, cols, batches, order_cols, n, ascending, rank_start=1):
    cap = _Cap(in_schema)
    streaming_retractable_topn(
        cap, ["__g"], order_cols, n, ascending=ascending, rank_start=rank_start
    )
    states: dict = {}
    last_epoch_rows: list = []
    for batch in batches:
        emitted = replay(cap.fn, [batch], ["__g"], cols, groups=one_group, states=states)
        if emitted:
            # rn=0 tombstone = "frame now empty" -> replace with nothing
            last_epoch_rows = [r for r in emitted if r["rn"] >= 1]
    return last_epoch_rows


def test_sort_limit_append():
    data = [
        ("book", 1, 12), ("book", 2, 19), ("book", 4, 11),
        ("fruit", 4, 33), ("fruit", 3, 44), ("fruit", 5, 22),
    ]
    schema = StructType(
        [
            StructField("__g", LongType()),
            StructField(RK, StringType()),
            StructField("category", StringType()),
            StructField("shopId", LongType()),
            StructField("num", LongType()),
        ]
    )
    rows = run_topn(
        schema,
        ["__g", RK, "category", "shopId", "num"],
        [[(0, "+I", c, s, v)] for c, s, v in data],
        ["num"],
        2,
        ascending=False,
    )
    got = sorted(f"{r['category']},{r['shopId']},{r['num']}" for r in rows)
    assert got == sorted(["fruit,3,44", "fruit,4,33"])


def _retract_rank(rank_start):
    data = [(1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (2, 4), (3, 3), (3, 4), (3, 5)]
    agg_schema = StructType(
        [StructField("a", LongType()), StructField("b", LongType())]
    )
    agg_cap = _Cap(agg_schema)
    streaming_retracting_multi_agg(
        agg_cap, ["a"], [("mx", "max", "b", LongType())]
    )
    agg_fn = agg_cap.fn

    rank_schema = StructType(
        [
            StructField("__g", LongType()),
            StructField(RK, StringType()),
            StructField("a", LongType()),
            StructField("mx", LongType()),
        ]
    )
    rank_cap = _Cap(rank_schema)
    streaming_retractable_topn(
        rank_cap, ["__g"], ["a"], 3 if rank_start > 1 else 2,
        ascending=True, rank_start=rank_start,
    )
    rank_fn = rank_cap.fn

    agg_states: dict = {}
    rank_states: dict = {}
    last: list = []
    for a, b in data:
        st = agg_states.setdefault((a,), FakeGroupState())
        changelog = []
        for e in agg_fn((a,), iter([pd.DataFrame([(a, b)], columns=["a", "b"])]), st):
            changelog.extend(e.to_dict("records"))
        if not changelog:
            continue
        emitted = replay(
            rank_fn, [[(0, r[RK], r["a"], r["mx"]) for r in changelog]], ["__g"],
            ["__g", RK, "a", "mx"], groups=one_group, states=rank_states,
        )
        if emitted:
            last = [r for r in emitted if r["rn"] >= 1]
    return sorted(f"{r['a']},{r['mx']}" for r in last)


def test_retract_sort_limit():
    # GROUP BY a, MAX(b) ORDER BY a LIMIT 2
    assert _retract_rank(1) == sorted(["1,3", "2,4"])


def test_retract_sort_limit_with_offset():
    # ... LIMIT 2 OFFSET 1 -> rankRange [2,3]
    assert _retract_rank(2) == sorted(["2,4", "3,5"])


def test_offset_emits_tombstone_when_frame_empties():
    """ADVICE r12 (stateful.py rank_start OFFSET): retractions that
    shrink a key's live set below rank_start must produce a "now
    empty" emission (rn=0 tombstone) — the reference
    RetractableTopNFunction emits deletes for rows leaving the rank
    range, so a latest-epoch fold must NOT keep the prior epoch's
    now-retracted rows."""
    schema = StructType(
        [
            StructField("__g", LongType()),
            StructField(RK, StringType()),
            StructField("k", LongType()),
            StructField("v", LongType()),
        ]
    )
    cols = ["__g", RK, "k", "v"]
    batches = [
        [(0, "+I", 1, 10), (0, "+I", 2, 20), (0, "+I", 3, 30)],
        # retract ranks 2-3 (asc by v: 20, 30) -> live = {10} -> the
        # rankRange [2, 3] frame is now empty
        [(0, "-D", 2, 20), (0, "-D", 3, 30)],
    ]
    rows = run_topn(
        schema, cols, batches, ["v"], 3, ascending=True, rank_start=2
    )
    assert rows == []
