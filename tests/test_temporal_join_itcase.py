"""Event-time temporal (versioned-table) join conformance, ported from
the reference's TemporalJoinITCase
(flink-table-planner/src/test/scala/.../runtime/stream/sql/
TemporalJoinITCase.scala, event-time suite) — the versioned right side
is a CHANGELOG (updates + delete tombstones), and the order stream
itself retracts.

Semantics pinned (TemporalRowTimeJoinOperator.java):
- the version at left time T is the latest right EVENT with ts <= T;
  if that event is a -D the key is deleted at that point
  (latestRightRowToJoin joins only isAccumulateMsg rows),
- right -U rows never reach the operator (DropUpdateBefore in front of
  a PK'd versioned source),
- left rows pass their rowkind through, so order retractions retract
  the joined rows; the PK'd sink folds to last-accumulate-per-order,
- delete timing differs between metadata-time CDC (-D stamped when the
  delete HAPPENED) and before-time CDC (-D stamped with the OLD row's
  time): the same orders join 702 in the first case and null in the
  second (testEventTimeTemporalJoinChangelogUsingBeforeTime's note).

Harness: replay of the production closure (tools/fuzz_changelog shim);
each event is its own micro-batch, watermark = previous batches' max
event time (delay 0), final +inf flush.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tools.fuzz_changelog import _Cap, _schema
from tests.test_dedup_sort_itcase import replay_wm
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)


@pytest.fixture(autouse=True)
def _needs_spark(spark):
    return spark


TS = pd.Timestamp

# rowTimeOrderData (TemporalJoinITCase.scala:74): the ORDER stream is
# itself a changelog — order 2 is re-stamped, order 6 insert+delete
ORDERS = [
    (INSERT, 1, "Euro", 12, TS("2020-08-15T00:01:00")),
    (INSERT, 2, "US Dollar", 1, TS("2020-08-15T00:02:00")),
    (INSERT, 3, "RMB", 40, TS("2020-08-15T00:03:00")),
    (INSERT, 4, "Euro", 14, TS("2020-08-16T00:04:00")),
    (UPDATE_BEFORE, 2, "US Dollar", 1, TS("2020-08-16T00:03:00")),
    (UPDATE_AFTER, 2, "US Dollar", 18, TS("2020-08-16T00:03:00")),
    (INSERT, 5, "RMB", 40, TS("2020-08-16T00:03:00")),
    (INSERT, 6, "RMB", 40, TS("2020-08-16T00:04:00")),
    (DELETE, 6, "RMB", 40, TS("2020-08-16T00:04:00")),
]

# rowTimeCurrencyDataUsingMetaTime (TemporalJoinITCase.scala:86):
# -D stamped when the delete happened
CURRENCY_META = [
    (INSERT, "Euro", 114, TS("2020-08-15T00:00:01")),
    (INSERT, "US Dollar", 102, TS("2020-08-15T00:00:02")),
    (INSERT, "Yen", 1, TS("2020-08-15T00:00:03")),
    (INSERT, "RMB", 702, TS("2020-08-15T00:00:04")),
    (UPDATE_BEFORE, "Euro", 114, TS("2020-08-16T00:01:00")),
    (UPDATE_AFTER, "Euro", 118, TS("2020-08-16T00:01:00")),
    (UPDATE_BEFORE, "US Dollar", 102, TS("2020-08-16T00:02:00")),
    (UPDATE_AFTER, "US Dollar", 106, TS("2020-08-16T00:02:00")),
    (DELETE, "RMB", 708, TS("2020-08-16T00:02:00")),
]

# rowTimeCurrencyDataUsingBeforeTime (TemporalJoinITCase.scala:99):
# -U/-D stamped with the OLD row's time
CURRENCY_BEFORE = [
    (INSERT, "Euro", 114, TS("2020-08-15T00:00:01")),
    (INSERT, "US Dollar", 102, TS("2020-08-15T00:00:02")),
    (INSERT, "Yen", 1, TS("2020-08-15T00:00:03")),
    (INSERT, "RMB", 702, TS("2020-08-15T00:00:04")),
    (UPDATE_BEFORE, "Euro", 114, TS("2020-08-15T00:00:01")),
    (UPDATE_AFTER, "Euro", 118, TS("2020-08-16T00:01:00")),
    (UPDATE_BEFORE, "US Dollar", 102, TS("2020-08-15T00:00:02")),
    (UPDATE_AFTER, "US Dollar", 106, TS("2020-08-16T00:02:00")),
    (DELETE, "RMB", 702, TS("2020-08-15T00:00:04")),
]

COLS = [
    "currency", "__t", "__side", "__kind", "order_id", "amount", "rate"
]


def _run(currency_rows, orders=ORDERS):
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_temporal_join_event_time,
    )

    lcap = _Cap(
        _schema(
            f"{ROWKIND} STRING, order_id BIGINT, currency STRING, "
            "amount BIGINT, order_time TIMESTAMP"
        )
    )
    rcap = _Cap(
        _schema(
            f"{ROWKIND} STRING, currency STRING, rate BIGINT, "
            "currency_time TIMESTAMP"
        )
    )

    # the builder reads unioned.schema["__t"] for the asof dtype; the
    # capture shim returns rcap as the union, so graft the field on
    # AFTER payload-column computation snapshotted rcap.columns
    from pyspark.sql.types import StructField, StructType, TimestampType

    rcap.schema = StructType(
        [*rcap.schema.fields, StructField("__t", TimestampType())]
    )
    streaming_temporal_join_event_time(
        lcap, rcap, keys=["currency"], left_ts="order_time",
        right_ts="currency_time", changelog=True,
    )
    fn = lcap.fn or rcap.fn
    # merged layout: (currency, __t, __side, __kind, order_id, amount,
    # rate) — side 0 = version rows; right -U dropped as the builder's
    # Spark-side DropUpdateBefore filter would
    merged = []
    for kind, cur, rate, t in currency_rows:
        if kind == UPDATE_BEFORE:
            continue
        merged.append((cur, t, 0, kind, None, None, rate))
    for kind, oid, cur, amount, t in orders:
        merged.append((cur, t, 1, kind, oid, amount, None))
    # bounded replay: the watermark stays behind every event (the
    # reference's bounded sources), all rows buffer in arrival order,
    # the final MAX_WATERMARK flush applies them in (ts, side) order —
    # versions before orders at equal ts, the inclusive contract
    batches = [[row] for row in merged]
    wm_seq = [0] * len(batches)
    batches.append([])
    wm_seq.append(10**15)
    out = replay_wm(fn, batches, ["currency"], COLS, wm_seq)
    # the PK'd changelog sink: fold by order_id, last accumulate wins,
    # delete removes
    final: dict = {}
    for r in out:
        oid = int(r["order_id"])
        if r[ROWKIND] in (INSERT, UPDATE_AFTER):
            final[oid] = r
        elif r[ROWKIND] == DELETE:
            final.pop(oid, None)
    return final


def _rows(final, inner):
    got = []
    for oid, r in sorted(final.items()):
        rate = r["rate"]
        rate = None if pd.isna(rate) else int(rate)
        if inner and rate is None:
            continue
        got.append((oid, r["currency"], int(r["amount"]), rate))
    return got


def test_event_time_temporal_join():
    """TemporalJoinITCase.testEventTimeTemporalJoin (TemporalJoinITCase
    .scala:466): order 2's update re-joins at its new time (106), order
    3 joins RMB 702 (deleted only LATER at meta time), order 5 finds
    the tombstone (no match, inner drops it), order 6 nets out."""
    final = _run(CURRENCY_META)
    assert _rows(final, inner=True) == [
        (1, "Euro", 12, 114),
        (2, "US Dollar", 18, 106),
        (3, "RMB", 40, 702),
        (4, "Euro", 14, 118),
    ]


def test_event_time_left_temporal_join():
    """TemporalJoinITCase.testEventTimeLeftTemporalJoin (TemporalJoin
    ITCase.scala:519): LEFT keeps order 5 null-padded after the RMB
    tombstone."""
    final = _run(CURRENCY_META)
    assert _rows(final, inner=False) == [
        (1, "Euro", 12, 114),
        (2, "US Dollar", 18, 106),
        (3, "RMB", 40, 702),
        (4, "Euro", 14, 118),
        (5, "RMB", 40, None),
    ]


def test_event_time_temporal_join_changelog_using_before_time():
    """TemporalJoinITCase.testEventTimeTemporalJoinChangelogUsingBeforeTime
    (TemporalJoinITCase.scala:538): the -D carries the OLD row's time,
    so order 3 (RMB @ 00:03) already sees the tombstone and pads null —
    the delete-timing semantics difference the reference's comment
    calls out."""
    final = _run(CURRENCY_BEFORE)
    assert _rows(final, inner=False) == [
        (1, "Euro", 12, 114),
        (2, "US Dollar", 18, 106),
        (3, "RMB", 40, None),
        (4, "Euro", 14, 118),
        (5, "RMB", 40, None),
    ]


def test_event_time_temporal_join_upsert_source():
    """TemporalJoinITCase.testEventTimeLeftTemporalJoinUpsertSource
    (TemporalJoinITCase.scala:560-ish): an upsert source (+U only plus
    -D) behaves identically — +U sets versions, -D tombstones."""
    upsert = [
        (UPDATE_AFTER, "Euro", 114, TS("2020-08-15T00:00:01")),
        (UPDATE_AFTER, "US Dollar", 102, TS("2020-08-15T00:00:02")),
        (UPDATE_AFTER, "Yen", 1, TS("2020-08-15T00:00:03")),
        (UPDATE_AFTER, "RMB", 702, TS("2020-08-15T00:00:04")),
        (UPDATE_AFTER, "Euro", 118, TS("2020-08-16T00:01:00")),
        (UPDATE_AFTER, "US Dollar", 104, TS("2020-08-16T00:02:00")),
        (DELETE, "RMB", 702, TS("2020-08-15T00:00:04")),
    ]
    final = _run(upsert)
    assert _rows(final, inner=False) == [
        (1, "Euro", 12, 114),
        (2, "US Dollar", 18, 104),
        (3, "RMB", 40, None),
        (4, "Euro", 14, 118),
        (5, "RMB", 40, None),
    ]
