"""Custom stateful streaming operators via applyInPandasWithState.

These rebuild the reference's keyed-state operators that Structured
Streaming lacks natively (SURVEY.md section 7.0 "custom (real work)"):

- `streaming_dedup_keep_last` — keep the latest row per key across
  micro-batches (ProcTimeDeduplicateKeepLastRowFunction, reused by
  StreamExecChangelogNormalize.java:156). State: the current winner row.
- `streaming_topn` — per-key top-N by a sort column, maintained across
  batches (AbstractTopNFunction.java / AppendOnlyTopNFunction). State:
  the current top-N rows, re-emitted per batch.

The unbounded group aggregates (SUM/COUNT, COUNT DISTINCT, retractable
MIN/MAX) are one operator, streaming.retract_agg; windows with allowed
lateness are streaming.group_window.

The event-time operators — the OVER aggregates, the temporal join and
sort, and the anti join's left side — share one watermark buffer
(streaming.event_buffer): rows wait in typed, column-wise state until
the watermark passes them, late rows are dropped and counted in one
place, and released rows come out in (ts, tie-break) order. All four
OVER operators fold their frames through one function over the
retractable COUNT and exact-Decimal SUM of streaming.accumulators.

The OVER operators, the dedup operators, both top-N operators and
upsert-to-retract group by key group, not by key (streaming.key_groups):
one ``applyInPandasWithState`` call serves every key of its group,
whose state row holds a typed key table with each key's carry. The
dedup, top-N and upsert-to-retract operators are each a pure per-key
step over typed rows (``key_groups.keyed_state``); the OVER operators
keep a group-level step, vectorized across keys, with the group's
buffer. Event-time timeouts are set one ms below the watermark that
must fire them, as Spark fires a timeout only when
``timeout < watermark``.

Design notes for scale: state lives in Spark's checkpointed state store
partitioned by the grouping key (same layout as Flink's keyed RocksDB
state), so state size is bounded by key cardinality x state-per-key,
not input size. A per-key event-time timer in the key's carry, which
``keyed_state`` turns into the group's timeout, gives the state-TTL
semantics of `table.exec.state.ttl`
(KeyedProcessFunctionWithCleanupState.java).

The emitted changelog uses the `__rowkind` encoding from
streaming.changelog (RowKind.java:31-52).
"""

from __future__ import annotations

import heapq
from collections import Counter, deque
from collections.abc import Iterator, Sequence
from datetime import datetime
from itertools import compress
from operator import itemgetter, not_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_release_1_16_0_spark.streaming.accumulators import Accumulator, AggSpecs
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)
from flink_release_1_16_0_spark.streaming.event_buffer import (
    BufferLayout,
    py_rows,
    py_values,
    sort_key,
    us_to_ts,
)
from flink_release_1_16_0_spark.streaming.key_groups import (
    KeyTable,
    apply_in_key_groups,
    key_runs,
    keyed_state,
)


def _sort(rows: list[tuple], order: Sequence[tuple[int, bool]]) -> list[tuple]:
    """``rows`` stably sorted by the columns of ``order`` (position,
    descending), NULLs last in either direction, as pandas sorts."""
    for j, desc in reversed(order):
        rows = [
            *sorted((r for r in rows if r[j] is not None), key=itemgetter(j), reverse=desc),
            *(r for r in rows if r[j] is None),
        ]
    return rows


def _top(rows: list[tuple], order: Sequence[tuple[int, bool]], n: int) -> list[tuple]:
    """``_sort(rows, order)[:n]``, sorting only the rows that can place
    in the first n by the first order column: those at or ahead of its
    n-th best non-NULL value."""
    j, desc = order[0]
    vals = [r[j] for r in rows if r[j] is not None]
    if len(vals) > n:
        cut = (heapq.nlargest if desc else heapq.nsmallest)(n, vals)[-1]
        rows = [r for r in rows if r[j] is not None and (r[j] >= cut if desc else r[j] <= cut)]
    return _sort(rows, order)[:n]


def _winner(names: list[str], order_col: str | Sequence[str], keep: str):
    """The dedup winner of a list of rows: the head (``keep="first"``)
    or the tail (``"last"``) of their stable sort by the ``order_col``
    columns ascending, NULL last."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be first|last, got {keep!r}")
    cols = [order_col] if isinstance(order_col, str) else order_col
    order = [(names.index(c), False) for c in cols]
    at = 0 if keep == "first" else -1
    return lambda rows: _sort(rows, order)[at]


def _ms(ts: datetime) -> int:
    """A naive timestamp (UTC, as everywhere in the engine) in epoch ms."""
    return pd.Timestamp(ts).value // 1_000_000


def _columns(rows: list[tuple], width: int) -> tuple[list, ...]:
    """``rows`` as ``width`` column lists, a carry of array fields."""
    return tuple([r[j] for r in rows] for j in range(width))


def _arrays(fields, prefix: str) -> list[StructField]:
    """Carry fields holding a list of rows over ``fields``, column-wise."""
    return [StructField(f"{prefix}{f.name}", ArrayType(f.dataType)) for f in fields]


def streaming_dedup_keep_last(
    stream: DataFrame,
    keys: Sequence[str],
    order_col: str | Sequence[str],
    keep: str = "last",
    state_ttl_ms: int | None = None,
    ttl_time_col: str | None = None,
) -> DataFrame:
    """Winning row per key, maintained across micro-batches.

    ``keep="last"`` keeps the max-``order_col`` row per key
    (ProcTimeDeduplicateKeepLastRowFunction); ``keep="first"`` keeps
    the min — ordered by the event-time columns this is the reference's
    rowtime dedup (RT/deduplicate/RowTimeDeduplicateFunction.java:31,
    which likewise refines eagerly as out-of-order rows arrive rather
    than waiting for the watermark). ``order_col`` may be a list for
    composite (ts, tiebreak) ordering; a NULL ranks last.

    ``state_ttl_ms`` is the reference's ``table.exec.state.ttl``
    (ExecutionConfigOptions.java:52 / KeyedProcessFunctionWithCleanupState):
    state idle longer than the TTL is discarded, after which a
    re-arriving key looks NEW — exactly Flink's documented TTL
    trade-off (bounded state at the cost of re-emitting long-idle
    keys). The idle clock here is event time over ``ttl_time_col``
    (must be watermarked), mirroring the cleanup-timer pattern; Flink's
    own TTL is proc-time, noted as the deliberate divergence that keeps
    bounded-replay tests deterministic.

    Emits, per batch and changed key, the current winner. Downstream
    sinks overwrite by key (upsert materialization — the
    SinkUpsertMaterializer.java:62 pattern is the sink's MERGE).
    """
    fields = stream.schema.fields
    pick = _winner(stream.columns, order_col, keep)
    if state_ttl_ms is not None and ttl_time_col is None:
        raise ValueError("state_ttl_ms needs ttl_time_col (a watermarked column)")
    carry_fields = [StructField(f"row_{f.name}", f.dataType) for f in fields]
    if state_ttl_ms is not None:
        ttl_at = stream.columns.index(ttl_time_col)
        carry_fields.append(StructField("expire_ms", LongType()))

    def step(key, rows, carry, wm):
        best = pick(rows)
        prev = None if carry is None else carry[: len(fields)]
        # the held winner goes first: it keeps its place on a tie
        win = best if prev is None else pick([prev, best])
        # the cleanup timer refreshes on every access, changed or not
        # (KeyedProcessFunctionWithCleanupState.registerProcessingCleanupTimer)
        expire = () if state_ttl_ms is None else (_ms(best[ttl_at]) + state_ttl_ms,)
        # rank unchanged: the reference's DeduplicateFunctionHelper
        # emits nothing when the incoming row does not beat the held
        # winner (isDuplicate false path) — conformance pinned by the
        # DeduplicateITCase raw-changelog ports
        return ([] if win == prev else [win]), (*win, *expire)

    timer = None if state_ttl_ms is None else "expire_ms"
    return keyed_state(stream, keys, step, carry_fields, stream.schema, timeout=timer)


def streaming_window_dedup(
    stream: DataFrame,
    window_col: str,
    keys: Sequence[str],
    order_col: str | Sequence[str],
    keep: str = "first",
    window_size_ms: int | None = None,
) -> DataFrame:
    """Windowed dedup (StreamExecWindowDeduplicate /
    RowTimeWindowDeduplicateOperatorBuilder): the winning row per
    (window, key), refined eagerly as out-of-order rows arrive.

    Scale shape: state keys on the USER key only, not on (key, window):
    the key's carry holds every window's winner, one ``ARRAY`` field
    per output column; a winner's rank is its ``order_col`` values.

    State bound: with ``window_size_ms`` set (and a watermark on the
    input), rows for windows whose END is behind the current watermark
    are DROPPED (the reference's zero-allowed-lateness window
    semantics) and those windows' winners are evicted — so per-key
    state is bounded by the number of OPEN windows (the reference's
    cleanup timer in RowTimeWindowDeduplicateOperatorBuilder) and a
    passed window can never re-emit; an input without a watermark is
    refused. Without it every window's winner is retained and late
    refinements keep applying — fine for bounded replays, unbounded on
    a long-running stream."""
    fields = stream.schema.fields
    w_at = stream.columns.index(window_col)
    pick = _winner(stream.columns, order_col, keep)

    def fired(w, wm: int) -> bool:
        # the reference fires when watermark >= windowEnd - 1
        # (TimeWindowUtil.isWindowFired): "passed" is end - 1 <= wm
        start = _ms(w) if isinstance(w, datetime) else w
        return start + window_size_ms - 1 <= wm

    def step(key, rows, carry, wm):
        if window_size_ms is None:
            wm = 0
        elif wm is None:
            raise ValueError("window_size_ms needs a watermark on the input")
        # window value -> its winning row, in output column order
        winners = {row[w_at]: row for row in zip(*carry)} if carry else {}
        arrived: dict = {}
        for row in rows:
            # zero allowed lateness: a row of a fired window is dropped
            if wm <= 0 or not fired(row[w_at], wm):
                arrived.setdefault(row[w_at], []).append(row)
        changed = set()
        for w, batch in arrived.items():
            held = winners.get(w)
            if held is not None:
                # the held winner keeps its place on a tie: it loses
                # only to a strictly better row
                batch = [held, *batch] if keep == "first" else [*batch, held]
            win = pick(batch)
            if win != held:
                winners[w] = win
                changed.add(w)
        if wm > 0:
            winners = {w: row for w, row in winners.items() if not fired(w, wm)}
        out = [winners[w] for w in sorted(changed & winners.keys())]
        return out, (_columns(list(winners.values()), len(fields)) if winners else None)

    return keyed_state(stream, keys, step, _arrays(fields, "win_"), stream.schema)


def streaming_topn(
    stream: DataFrame,
    keys: Sequence[str],
    order_col: str,
    n: int,
    ascending: bool = False,
) -> DataFrame:
    """Per-key top-N maintained across batches (AppendOnlyTopNFunction).

    Re-emits the key's full current top-N whenever it changes; the sink
    replaces the key's previous top-N (update semantics, the batch dual
    of the reference's retract stream). Ties keep arrival order and a
    NULL ranks last.
    """
    fields = stream.schema.fields
    order = [(stream.columns.index(order_col), not ascending)]

    def step(key, rows, carry, _wm):
        held = list(zip(*carry)) if carry else []
        top = _top(held + rows, order, n)
        return top, _columns(top, len(fields))

    return keyed_state(stream, keys, step, _arrays(fields, "top_"), stream.schema)


def streaming_retractable_topn(
    stream: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    n: int,
    ascending: Sequence[bool] | bool = False,
    rank_start: int = 1,
) -> DataFrame:
    """Per-key top-N over a CHANGELOG input
    (RT/rank/RetractableTopNFunction.java:478): -U/-D rows retract
    prior inserts, which can promote lower-ranked rows back into the
    top-N — so state holds the key's full live multiset (the
    reference's data-state TreeMap), not just the current top-N.

    Emits the key's complete current top-N (with 1-based ``rn``) after
    every batch that touches it, tagged with a per-key ``__epoch``
    counter so a consumer can select the latest emission.
    ``rank_start`` > 1 is the SQL OFFSET form (rankRange [start, n] —
    LIMIT n-start+1 OFFSET start-1). State is O(live rows per key),
    sharded by key across the state store — the same bound as the
    reference.
    """
    names = stream.columns
    kind_at = names.index(ROWKIND)
    cols = [c for c in names if c != ROWKIND]
    data_fields = [stream.schema[c] for c in cols]
    out_schema = StructType(
        [*data_fields, StructField("rn", LongType()), StructField("__epoch", LongType())]
    )
    asc = ascending if isinstance(ascending, (list, tuple)) else [ascending] * len(order_cols)
    order = [(cols.index(c), not a) for c, a in zip(order_cols, asc)]
    carry_fields = [
        *_arrays(data_fields, "live_"),
        StructField("live_m", ArrayType(LongType())),
        StructField("epoch", LongType()),
    ]

    def step(key, rows, carry, _wm):
        *live, ms, epoch = carry or ([],) * (len(cols) + 1) + (0,)
        counter = Counter(dict(zip(zip(*live), ms)))
        data = [row[:kind_at] + row[kind_at + 1 :] for row in rows]
        adds = [row[kind_at] in (INSERT, UPDATE_AFTER) for row in rows]
        counter.update(compress(data, adds))
        counter.subtract(Counter(compress(data, map(not_, adds))))
        live = {t: m for t, m in counter.items() if m > 0}
        epoch += 1
        carry = (*_columns(list(live), len(cols)), list(live.values()), epoch)
        # copies of a row sort together: the top n distinct rows hold
        # the top n copies
        top = [t for t in _top(list(live), order, n) for _ in range(live[t])][:n]
        out = [(*t, rn, epoch) for rn, t in enumerate(top, 1) if rn >= rank_start]
        if not out:
            # RetractableTopNFunction emits deletes for rows leaving the
            # rank range; with epoch-replace semantics the equivalent is
            # an explicit "now empty" marker (rn=0, data NULL except the
            # key columns) so a latest-epoch fold distinguishes an
            # emptied frame from an untouched key. Consumers filter
            # rn >= 1 after the fold.
            kv = dict(zip(keys, key))
            out = [(*[kv.get(c) for c in cols], 0, epoch)]
        return out, carry

    return keyed_state(stream, keys, step, carry_fields, out_schema)


def _counted(fields) -> ArrayType:
    """A join side's state: its live rows, each with multiplicity m."""
    return ArrayType(StructType([*fields, StructField("m", LongType())]))


# a changelog join row's row kind and side, ahead of its typed payload
# (a padded union upcasts NULL-bearing integers to float64, and NaN
# payloads would never match as multiset keys)
_TAGS = [StructField(ROWKIND, StringType()), StructField("__side", StringType())]


def streaming_changelog_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    join_type: str = "inner",
) -> DataFrame:
    """Two-input changelog equi-join with keyed join state
    (flink-table-runtime .../join/stream/StreamingJoinOperator.java:60,
    state layout per JoinRecordStateViews). ``join_type`` covers the
    full matrix: ``inner`` | ``left`` | ``right`` | ``full``.

    OUTER semantics follow the reference's OuterJoinRecordStateView
    null-padding protocol: a row on an outer side with NO current
    matches emits null-padded; when the key's FIRST opposite-side row
    later arrives, the null-padded emissions RETRACT (-D) and the
    joined rows emit — and when the opposite side drains back to zero,
    the null-padded rows re-emit. Because the join is a pure equi-join,
    the association count is per KEY (every left row of a key matches
    every right row of that key), so the flip costs one pass over the
    side's live rows, exactly the reference's numAssociations
    bookkeeping collapsed to the key level.

    Spark's stream-stream join only accepts append inputs, so the
    two-input operator is rebuilt the Spark-idiomatic way: tag each
    side, UNION the changelogs (null-padding the other side's payload
    columns), group by the join key, and run one applyInPandasWithState
    over the merged stream. State per key mirrors Flink's
    JoinRecordStateView: each side's live rows with net multiplicity.

    Per arriving row with sign s (+1 for +I/+U, -1 for -U/-D), the
    operator emits the joined delta against the other side's current
    state — (+I, s*m) per live match when s*m > 0, (-D, |s*m|) when
    negative — then folds the row into its own side's state. The
    emission stream telescopes: net emissions per joined row equal
    mL * mR, so any downstream multiset materialization converges to
    the batch `changelog.changelog_join`, independent of batch
    boundaries or arrival interleaving.

    Scale: state and work are both per-key (cost of a batch =
    arrivals x live rows on the other side of that key, Flink's exact
    cost model); the union adds no shuffle beyond the single group-by
    exchange. Payload columns must be null-free (null-safe tuple
    equality is not defined for the state dictionary).

    Both inputs must carry ``__rowkind``, ``seq_col`` (intra-batch
    replay order), the key columns (same names on both sides), and
    otherwise-disjoint payload columns. Output: keys + left payloads +
    right payloads + ``__rowkind`` + ``__m`` (positive multiplicity).
    """
    if join_type not in ("inner", "left", "right", "full"):
        raise ValueError(
            f"join_type must be inner|left|right|full, got {join_type!r}"
        )
    outer_left = join_type in ("left", "full")
    outer_right = join_type in ("right", "full")
    meta = (ROWKIND, seq_col, *keys)
    lpay = [c for c in left.columns if c not in meta]
    rpay = [c for c in right.columns if c not in meta]
    if set(lpay) & set(rpay):
        raise ValueError(f"payload columns must be disjoint: {set(lpay) & set(rpay)}")

    def pad(df: DataFrame, side: str, own, other, other_schema) -> DataFrame:
        return df.select(
            *keys,
            F.col(seq_col).cast("long").alias(seq_col),
            ROWKIND,
            F.lit(side).alias("__side"),
            *own,
            *[
                F.lit(None).cast(other_schema[c].dataType).alias(c)
                for c in other
            ],
        )

    unioned = pad(left, "L", lpay, rpay, right.schema).unionByName(
        pad(right, "R", rpay, lpay, left.schema)
    )

    key_fields = [left.schema[k] for k in keys]
    l_fields = [left.schema[c] for c in lpay]
    r_fields = [right.schema[c] for c in rpay]
    out_schema = StructType(
        [
            *key_fields,
            *l_fields,
            *r_fields,
            StructField(ROWKIND, StringType()),
            StructField("__m", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("l", _counted(l_fields)),
            StructField("r", _counted(r_fields)),
        ]
    )
    out_cols = [*keys, *lpay, *rpay, ROWKIND, "__m"]
    pay_fields = [*l_fields, *r_fields]

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True).sort_values(
            seq_col, kind="mergesort"
        )
        if state.exists:
            l_rows, r_rows = state.get
            lmap = {tuple(r)[:-1]: tuple(r)[-1] for r in (l_rows or [])}
            rmap = {tuple(r)[:-1]: tuple(r)[-1] for r in (r_rows or [])}
        else:
            lmap, rmap = {}, {}
        tl, tr = sum(lmap.values()), sum(rmap.values())
        rows = list(py_rows(pdf, [*_TAGS, *pay_fields]))
        out: list[tuple] = []
        nl = len(lpay)
        l_nulls = (None,) * len(lpay)
        r_nulls = (None,) * len(rpay)

        def emit(lvals, rvals, delta):
            if delta:
                out.append(
                    (
                        *key,
                        *lvals,
                        *rvals,
                        INSERT if delta > 0 else DELETE,
                        abs(delta),
                    )
                )

        if any(k is None or k != k for k in key):
            # SQL equi-join: a NULL key never matches anything
            # (JoinITCase.testNonWindowInnerJoin's if(a=3,null,a) rows).
            # Outer-side null-key rows emit null-padded directly and
            # need no state; inner/sided rows produce nothing.
            for tup in rows:
                s = 1 if tup[0] in (INSERT, UPDATE_AFTER) else -1
                if tup[1] == "L" and outer_left:
                    emit(tup[2 : 2 + nl], r_nulls, s)
                elif tup[1] == "R" and outer_right:
                    emit(l_nulls, tup[2 + nl :], s)
            if out:
                yield pd.DataFrame(out, columns=out_cols)
            return

        for tup in rows:
            kind, side = tup[0], tup[1]
            s = 1 if kind in (INSERT, UPDATE_AFTER) else -1
            is_left = side == "L"
            if is_left:
                own, other = lmap, rmap
                pay = tup[2 : 2 + nl]
                other_total = tr
            else:
                own, other = rmap, lmap
                pay = tup[2 + nl :]
                other_total = tl
            if other_total > 0:
                for opay, m in other.items():
                    if m == 0:
                        continue
                    lvals, rvals = (pay, opay) if is_left else (opay, pay)
                    emit(lvals, rvals, s * m)
            elif (outer_left if is_left else outer_right):
                # no matches on the other side: this outer-side row
                # emits null-padded (OuterJoinRecordStateView's
                # numAssociations == 0 branch)
                lvals, rvals = (pay, r_nulls) if is_left else (l_nulls, pay)
                emit(lvals, rvals, s)
            # association flip: this arrival moves the key's total on
            # ITS side across zero, so the OPPOSITE side's null-padded
            # emissions retract (0 -> >0) or come back (>0 -> 0)
            own_total_old = tl if is_left else tr
            own_total_new = own_total_old + s
            flip_outer = outer_right if is_left else outer_left
            if flip_outer:
                if own_total_old == 0 and own_total_new > 0:
                    for opay, m in other.items():
                        if m == 0:
                            continue
                        lvals, rvals = (
                            (l_nulls, opay) if is_left else (opay, r_nulls)
                        )
                        emit(lvals, rvals, -m)
                elif own_total_old > 0 and own_total_new == 0:
                    for opay, m in other.items():
                        if m == 0:
                            continue
                        lvals, rvals = (
                            (l_nulls, opay) if is_left else (opay, r_nulls)
                        )
                        emit(lvals, rvals, m)
            own[pay] = own.get(pay, 0) + s
            if is_left:
                tl += s
            else:
                tr += s
        llive = [(*p, m) for p, m in lmap.items() if m != 0]
        rlive = [(*p, m) for p, m in rmap.items() if m != 0]
        if llive or rlive:
            state.update((llive, rlive))
        elif state.exists:
            # both sides fully retracted: drop the key's state so keyed
            # state does not grow unboundedly with key churn (mirrors
            # the retracting-agg's empty-state cleanup)
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return unioned.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_changelog_semi_anti_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    anti: bool = False,
) -> DataFrame:
    """Two-input changelog SEMI / ANTI equi-join
    (flink-table-runtime .../join/stream/
    StreamingSemiAntiJoinOperator.java — the non-windowed changelog
    form, distinct from the time-bounded :func:`streaming_anti_join`).

    A left row is live in the SEMI output while its key has AT LEAST
    ONE live right row, and in the ANTI output while it has NONE. Right
    arrivals never produce joined payloads — they only FLIP the left
    side's membership when the key's live right total crosses zero
    (the reference's associatedRecords emptiness test), so the emission
    stream is exactly the membership changelog: +I/-D of left rows with
    their multiplicity. Folding the emissions converges to the netted
    EXISTS / NOT EXISTS semi-join, independent of batch boundaries
    (pinned by the fuzzer's semi/anti arm).

    State per key mirrors :func:`streaming_changelog_join`: each side's
    live payload multiset — for the right side only the TOTAL matters,
    but the multiset is kept so valid retractions stay O(1) and state
    equals the reference's right-state view. One shuffle on the key.
    """
    meta = (ROWKIND, seq_col, *keys)
    lpay = [c for c in left.columns if c not in meta]
    rpay = [c for c in right.columns if c not in meta]

    def pad(df: DataFrame, side: str, own, other, other_schema) -> DataFrame:
        return df.select(
            *keys,
            F.col(seq_col).cast("long").alias(seq_col),
            ROWKIND,
            F.lit(side).alias("__side"),
            *own,
            *[
                F.lit(None).cast(other_schema[c].dataType).alias(c)
                for c in other
            ],
        )

    unioned = pad(left, "L", lpay, rpay, right.schema).unionByName(
        pad(right, "R", rpay, lpay, left.schema)
    )
    key_fields = [left.schema[k] for k in keys]
    l_fields = [left.schema[c] for c in lpay]
    out_schema = StructType(
        [
            *key_fields,
            *l_fields,
            StructField(ROWKIND, StringType()),
            StructField("__m", LongType()),
        ]
    )
    r_fields = [right.schema[c] for c in rpay]
    state_schema = StructType(
        [
            StructField("l", _counted(l_fields)),
            StructField("r", _counted(r_fields)),
        ]
    )
    out_cols = [*keys, *lpay, ROWKIND, "__m"]
    pay_fields = [*l_fields, *r_fields]
    nl = len(lpay)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True).sort_values(
            seq_col, kind="mergesort"
        )
        if state.exists:
            l_rows, r_rows = state.get
            lmap = {tuple(r)[:-1]: tuple(r)[-1] for r in (l_rows or [])}
            rmap = {tuple(r)[:-1]: tuple(r)[-1] for r in (r_rows or [])}
        else:
            lmap, rmap = {}, {}
        tr = sum(rmap.values())
        rows = list(py_rows(pdf, [*_TAGS, *pay_fields]))
        out: list[tuple] = []

        def member(has_match: bool) -> bool:
            return has_match != anti

        if any(k is None or k != k for k in key):
            # NULL keys never match: SEMI membership is always false
            # (emit nothing), ANTI membership is always true (emit the
            # left rows with their sign); stateless either way
            if anti:
                for tup in rows:
                    if tup[1] != "L":
                        continue
                    s = 1 if tup[0] in (INSERT, UPDATE_AFTER) else -1
                    out.append(
                        (*key, *tup[2 : 2 + nl], INSERT if s > 0 else DELETE, 1)
                    )
            if out:
                yield pd.DataFrame(out, columns=out_cols)
            return

        for tup in rows:
            kind, side = tup[0], tup[1]
            s = 1 if kind in (INSERT, UPDATE_AFTER) else -1
            if side == "L":
                pay = tup[2 : 2 + nl]
                if member(tr > 0):
                    out.append(
                        (*key, *pay, INSERT if s > 0 else DELETE, abs(s))
                    )
                lmap[pay] = lmap.get(pay, 0) + s
            else:
                pay = tup[2 + nl :]
                old_member, new_member = member(tr > 0), member(tr + s > 0)
                if old_member != new_member:
                    # membership flip for every live left row
                    flip = INSERT if new_member else DELETE
                    for lp, ml in lmap.items():
                        if ml > 0:
                            out.append((*key, *lp, flip, ml))
                rmap[pay] = rmap.get(pay, 0) + s
                tr += s
        llive = [(*p, m) for p, m in lmap.items() if m != 0]
        rlive = [(*p, m) for p, m in rmap.items() if m != 0]
        if llive or rlive:
            state.update((llive, rlive))
        elif state.exists:
            # both sides fully retracted: drop the key's state so keyed
            # state does not grow unboundedly with key churn (mirrors
            # the retracting-agg's empty-state cleanup)
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return unioned.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_temporal_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    asof_ts: str = "__asof_ts",
) -> DataFrame:
    """Streaming event-time temporal (versioned) join: each left row
    joins the latest right-side version with ts <= left ts per key
    (RT/join/temporal/TemporalRowTimeJoinOperator.java:78 semantics;
    batch dual = operators.asof.asof_join).

    Same union-the-inputs design as streaming_changelog_join: both
    sides merge into one keyed stream; state per key holds only the
    current (latest) version — the version history collapses because
    rows are processed in event-time order. Within a micro-batch rows
    are sorted by (ts, side) with versions first at equal ts (a version
    effective AT the left row's timestamp is visible, Flink's inclusive
    contract); across micro-batches arrival must be time-ordered, the
    same proc-time replay contract as streaming_over_rows_unbounded —
    streaming_temporal_join_event_time is the watermark-buffered
    reordering variant; both run through `_temporal_join`.

    Left rows with no version yet emit NULL right columns (left join,
    matching asof_join). Output: keys + left payloads + right payloads
    + ``asof_ts`` (matched version's ts, NULL when unmatched).
    """
    return _temporal_join(left, right, keys, left_ts, right_ts, asof_ts, None, False)


def streaming_temporal_join_event_time(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    delay: str = "10 minutes",
    asof_ts: str = "__asof_ts",
    changelog: bool = False,
) -> DataFrame:
    """Watermark-buffered event-time temporal join — the out-of-order
    variant of streaming_temporal_join
    (TemporalRowTimeJoinOperator.java:78: buffer both sides in keyed
    state, emit on watermark advance in exact event-time order).

    Arrival order across micro-batches is free: rows from both sides
    buffer per key until the watermark passes their timestamp, then
    finalize in (ts, side) order — versions first at equal ts, Flink's
    inclusive contract. A right-side version row updates the key's
    current version; a left row emits joined with the version in effect
    at its timestamp (NULL right columns when none yet — left join).
    Rows strictly before the watermark on arrival are dropped (allowed
    lateness 0); rows the final watermark never passes stay buffered,
    mirrored by the oracle's max(ts)-delay cutoff.

    ``changelog=True`` accepts ``__rowkind`` on BOTH inputs, the
    reference's versioned-table semantics (TemporalJoinITCase event-time
    suite): a right +I/+U sets the key's version at its event time, a
    right -D is a TOMBSTONE — the key has no version from that time on
    (TemporalRowTimeJoinOperator.latestRightRowToJoin joins only when
    the latest event <= leftTime isAccumulateMsg); right -U rows are
    dropped here, the planner's DropUpdateBefore in front of a PK'd
    versioned source. Left rows pass their rowkind through to the
    output, so a retracting left stream yields a retracting join.

    The watermark is assigned here on the unioned internal stream
    (``withWatermark`` on the merged event-time column), so both sides
    share one watermark — the two-input operator's
    min-across-inputs watermark, which a union reproduces exactly.
    """
    return _temporal_join(
        left, right, keys, left_ts, right_ts, asof_ts, delay, changelog
    )


def _temporal_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    asof_ts: str,
    delay: str | None,
    changelog: bool,
) -> DataFrame:
    """Both temporal joins: one keyed walk over the unioned inputs in
    (ts, side) order. With a watermark ``delay`` rows wait in an
    :class:`EventBuffer` until the watermark passes them; without one
    (proc time) each micro-batch is released whole as it arrives."""
    lpay = [c for c in left.columns if c not in (*keys, left_ts, ROWKIND)]
    rpay = [c for c in right.columns if c not in (*keys, right_ts, ROWKIND)]
    if set(lpay) & set(rpay):
        raise ValueError(f"payload columns must be disjoint: {set(lpay) & set(rpay)}")
    if changelog:
        # DropUpdateBefore: -U is redundant in front of the keyed
        # version timeline (StreamExecDropUpdateBefore.java)
        right = right.filter(F.col(ROWKIND) != UPDATE_BEFORE)

    def pad(df, side, ts_col, own, other, other_schema):
        kind = (
            F.col(ROWKIND) if ROWKIND in df.columns else F.lit(INSERT)
        ).alias("__kind")
        return df.select(
            *keys,
            F.col(ts_col).cast("timestamp").alias("__t"),
            F.lit(side).alias("__side"),
            kind,
            *own,
            *[
                F.lit(None).cast(other_schema[c].dataType).alias(c)
                for c in other
            ],
        )

    # side 0 = right/version rows sort first at equal ts
    unioned = pad(right, 0, right_ts, rpay, lpay, left.schema).unionByName(
        pad(left, 1, left_ts, lpay, rpay, right.schema)
    )
    if delay:
        unioned = unioned.withWatermark("__t", delay)

    key_fields = [left.schema[k] for k in keys]
    l_fields = [left.schema[c] for c in lpay]
    r_fields = [right.schema[c] for c in rpay]
    ts_field = StructField(asof_ts, unioned.schema["__t"].dataType)
    out_schema = StructType(
        [
            *key_fields,
            *l_fields,
            *r_fields,
            ts_field,
            *([StructField(ROWKIND, StringType())] if changelog else []),
        ]
    )
    buf = BufferLayout(
        "__t",
        [
            StructField("__side", IntegerType()),
            StructField("__kind", StringType()),
            *l_fields,
            *r_fields,
        ],
        tie=["__side"],
        prefix="pending_",
    )
    # the version in effect: its right columns and event time (µs);
    # no version (none yet, or a tombstone) while the time is NULL
    state_schema = StructType(
        [*buf.state_fields(), *r_fields, StructField("__vts_us", LongType())]
    )
    out_cols = [*keys, *lpay, *rpay, asof_ts, *([ROWKIND] if changelog else [])]
    nl, nr, w = len(lpay), len(rpay), buf.width
    no_version = (None,) * nr

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if delay:
            wm = upto = state.getCurrentWatermarkMs()
        else:  # proc time: nothing is late, the batch is released whole
            wm, upto = -(2**62), 2**62
        raw = state.get if state.exists else None
        pending = buf.load(raw)
        vts = raw[w + nr] if raw else None
        version = tuple(raw[w : w + nr]) if vts is not None else no_version
        for pdf in pdfs:
            pending.admit(pdf, wm)
        ts, cols = pending.release(upto)
        out: list[tuple] = []
        for t, side, kind, *vals in zip(ts.tolist(), *cols):
            if side == 0:
                if kind == DELETE:
                    # tombstone: the key has no version from t on
                    # (latestRightRowToJoin's !isAccumulateMsg branch)
                    version, vts = no_version, None
                else:
                    version, vts = tuple(vals[nl:]), t
            else:
                out.append(
                    (*key, *vals[:nl], *version, vts, *([kind] if changelog else []))
                )
        state.update((*pending.state(), *version, vts))
        timeout = pending.next_timeout()
        if timeout is not None:
            state.setTimeoutTimestamp(timeout)
        if out:
            res = pd.DataFrame(out, columns=out_cols)
            res[asof_ts] = pd.to_datetime(res[asof_ts], unit="us")
            yield res

    return unioned.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if delay
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_temporal_sort(
    stream: DataFrame,
    order_cols: Sequence[str],
    keys: Sequence[str] | None = None,
    seq_col: str = "emit_seq",
) -> DataFrame:
    """Watermark-driven event-time sort (StreamExecTemporalSort.java /
    RT/sort/RowTimeSortOperator.java): buffer rows in state, emit them
    in exact event-time order once the watermark passes, tagged with a
    monotone ``seq_col`` so the emitted ORDER is itself checkable.

    ``order_cols[0]`` must be the watermarked event-time column; the
    rest break ties deterministically. ``keys=None`` reproduces the
    reference's global temporal sort via a single synthetic key — like
    the reference, a global event-time order is inherently a
    single-channel operator; the scale path is per-``keys`` ordering
    (each key sorts independently, state sharded by key). Rows strictly
    before the watermark on arrival are dropped; rows the final
    watermark never passes stay buffered (oracle: max(ts)-delay cut).
    """
    ts_col = order_cols[0]
    group_keys = list(keys) if keys else []
    out_schema = StructType([*stream.schema.fields, StructField(seq_col, LongType())])
    out_cols = [*stream.columns, seq_col]
    held = [
        f for f in stream.schema.fields if f.name not in (ts_col, *group_keys)
    ]
    names = [f.name for f in held]
    buf = BufferLayout(
        ts_col, held, tie=[c for c in order_cols[1:] if c in names]
    )
    state_schema = StructType([*buf.state_fields(), StructField("seq", LongType())])

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        raw = state.get if state.exists else None
        pending = buf.load(raw)
        seq = raw[buf.width] if raw else 0
        for pdf in pdfs:
            pending.admit(pdf, wm)
        ts, cols = pending.release(wm)
        state.update((*pending.state(), seq + len(ts)))
        timeout = pending.next_timeout()
        if timeout is not None:
            state.setTimeoutTimestamp(timeout)
        if len(ts):
            out = {
                **dict(zip(group_keys, key)),
                ts_col: us_to_ts(ts),
                **dict(zip(names, cols)),
                seq_col: np.arange(seq + 1, seq + len(ts) + 1, dtype="int64"),
            }
            yield pd.DataFrame(out, columns=out_cols)

    if group_keys:
        grouped = stream.groupBy(*group_keys)
    else:
        grouped = stream.withColumn("__g", F.lit(0)).groupBy("__g")
    res = grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return res


# the frame of all four OVER operators: the exact-Decimal SUM over the
# value column, whose count of non-NULL values is the frame's COUNT
_OVER = AggSpecs([("sum", "sum", "v", DoubleType())], changelog=False)
_OVER_PLAN = _OVER.plan(["v"])
# the unbounded operators' carry: the running accumulator
_RUNNING_STATE = _OVER.fields(StructType([StructField("v", DoubleType())]))
# the bounded operators' frame: the rows a future row can still see
_FRAME = [
    StructField("frame_ms", ArrayType(LongType())),
    StructField("frame_v", ArrayType(DoubleType())),
]
# a buffered row's key, as its position in the group's key table
_KEY_POS = StructField("__key_pos", LongType())


def _fold_running(carry: list[list], runs, vals: list) -> list[tuple]:
    """Fold each key's run of ``vals`` into its running accumulator,
    held in the key table's ``carry``; one (count, sum) per row."""
    accs = _OVER.load(carry)
    res = [out for k, lo, hi in runs for out in _over_fold(accs[k], None, vals[lo:hi])]
    for c, stored in zip(carry, _OVER.store(accs)):
        c[:] = stored
    return res


def _over_fold(
    acc: Accumulator,
    ts: list | None,
    vals: list,
    frame: deque | None = None,
    rows: int | None = None,
    range_ms: int | None = None,
) -> list[tuple]:
    """Fold rows sorted by event time (``ts`` in µs) through ``acc`` and
    return one (count, sum) per row. Each row is added; with a
    ``frame`` deque of (ms, v), rows that leave a ROWS-``rows`` or
    RANGE-``range_ms`` frame are retracted with sign -1, as the
    reference's bounded functions do, and RANGE peers (equal ts) share
    one frame."""
    out: list[tuple] = []
    i, n = 0, len(vals)
    while i < n:
        j = i + 1
        if range_ms is not None:
            while j < n and ts[j] == ts[i]:
                j += 1
        for k in range(i, j):
            acc.add(_OVER_PLAN, (vals[k],))
            if frame is not None:
                frame.append((ts[k] // 1000, vals[k]))
        if rows is not None:
            while len(frame) > rows:
                acc.add(_OVER_PLAN, (frame.popleft()[1],), -1)
        elif range_ms is not None:
            lo = ts[i] // 1000 - range_ms
            while frame[0][0] < lo:
                acc.add(_OVER_PLAN, (frame.popleft()[1],), -1)
        c = acc.cells[0]
        out.extend([(c[1] if c else 0, *acc.emit(_OVER))] * (j - i))
        i = j
    return out


def _over_event_time(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
    ts_col: str,
    names: tuple[str, str],
    rows: int | None = None,
    range_ms: int | None = None,
) -> DataFrame:
    """The event-time OVER operators, one call per key group: (key,
    id, value) rows wait in the group's :class:`EventBuffer`, are
    released in (ts, id) order, split into per-key runs and folded by
    :func:`_over_fold`. Unbounded, a key's carry is its running
    accumulator; bounded (``rows`` or ``range_ms``), it is the frame rows
    a future row can still see, and the accumulator is refolded from
    them. A key with no carry and no pending row leaves the table."""
    bounded = rows is not None or range_ms is not None
    key_fields = [stream.schema[k] for k in keys]
    id_field = stream.schema[id_col]
    out_schema = StructType(
        [
            *key_fields,
            id_field,
            stream.schema[ts_col],
            StructField(names[0], LongType()),
            StructField(names[1], DoubleType()),
        ]
    )
    table = KeyTable(key_fields, _FRAME if bounded else _RUNNING_STATE)
    buf = BufferLayout(
        ts_col,
        [_KEY_POS, id_field, StructField(value_col, DoubleType())],
        tie=[id_col],
    )
    state_schema = StructType([*table.state_fields(), *buf.state_fields()])
    out_cols = [*keys, id_col, ts_col, *names]

    def fn(
        _group: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        raw = state.get if state.exists else None
        group = table.load(raw)
        pending = buf.load(raw, table.width)
        for pdf in pdfs:
            if len(pdf):
                pending.admit(pdf.assign(**{_KEY_POS.name: group.codes(pdf)}), wm)
        ts, (pos, ids, vals) = pending.release(wm)
        order, runs = key_runs(np.asarray(pos, dtype=np.int64))
        pick = order.tolist()
        ts, ids, vals = ts[order], [ids[i] for i in pick], [vals[i] for i in pick]
        first, second = group.carry[:2]
        if not bounded:
            res = _fold_running(group.carry, runs, vals)
        else:
            res = []
            for k, lo, hi in runs:
                frame = deque(zip(first[k] or (), second[k] or ()))
                acc = Accumulator(2)
                for _ms, v in frame:
                    acc.add(_OVER_PLAN, (v,))
                res += _over_fold(acc, ts[lo:hi].tolist(), vals[lo:hi], frame, rows, range_ms)
                # keep only rows a future row's frame can still hold: the
                # last rows - 1, or those inside the bound of the watermark
                # (future rows have ts > wm)
                while frame and (
                    len(frame) >= rows if rows is not None
                    else frame[0][0] < wm - range_ms
                ):
                    frame.popleft()
                first[k], second[k] = [m for m, _v in frame], [v for _m, v in frame]
        out = None
        if res:
            n, total = zip(*res)
            out = pd.DataFrame(
                {
                    **group.columns([pos[i] for i in pick]),
                    id_col: ids,
                    ts_col: us_to_ts(ts),
                    names[0]: n,
                    names[1]: total,
                },
                columns=out_cols,
            )
        live = np.fromiter((bool(c) for c in first), dtype=bool, count=len(group))
        waiting = np.asarray(pending.cols[0], dtype=np.int64)
        live[waiting] = True
        if not live.all():
            pending.cols[0] = group.keep(live)[waiting].tolist()
        if len(group):
            state.update((*group.state(), *pending.state()))
            timeout = pending.next_timeout()
            if timeout is not None:
                state.setTimeoutTimestamp(timeout)
        elif state.exists:
            state.remove()
        if out is not None:
            yield out

    return apply_in_key_groups(
        stream,
        table,
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_over_rows_event_time(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermark-buffered rowtime OVER aggregation — the event-time
    variant of streaming_over_rows_unbounded
    (RowTimeRowsUnboundedPrecedingFunction.java: buffer rows per key,
    sort by event time, fire on watermark advance, drop late rows).

    Unlike the proc-time variant, arrival order across micro-batches is
    free: rows buffer in keyed state until the watermark passes their
    timestamp, then finalize in exact (ts, id) order with the running
    aggregate carried over the finalized prefix. Rows strictly before
    the watermark on arrival are late and dropped (allowed lateness 0,
    the reference's default). Rows the final watermark never passes (the
    last delay-window of a bounded replay) stay buffered — faithful
    watermark semantics, mirrored by the oracle's max(ts)-delay cutoff.

    The input MUST carry ``withWatermark(ts_col, delay)``; event-time
    timeouts schedule the flush batches that drain the buffer after the
    last data batch. State per key = pending buffer + the running
    (count, exact sum), the layout of the reference's per-key
    MapState<ts, rows> + accumulator.
    """
    return _over_event_time(
        stream, keys, value_col, id_col, ts_col, ("running_n", "running_sum")
    )


def streaming_over_rows_unbounded(
    stream: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Streaming OVER aggregation: per-row running count/sum per key
    across micro-batches (StreamExecOverAggregate /
    RowTimeRowsUnboundedPrecedingFunction — SURVEY.md section 2.5).

    Spark has no streaming window functions; this is the keyed-state
    rebuild: state carries the running accumulator forward, each batch
    is sorted by the event-time order columns and folded through
    :func:`_over_fold`. Sums are exact Decimal, so results are
    batch-split-invariant for any double.
    """
    key_fields = [stream.schema[k] for k in keys]
    id_field = stream.schema[id_col]
    out_schema = StructType(
        [
            *key_fields,
            id_field,
            StructField("running_n", LongType()),
            StructField("running_sum", DoubleType()),
        ]
    )
    table = KeyTable(key_fields, _RUNNING_STATE)
    out_cols = [*keys, id_col, "running_n", "running_sum"]

    def fn(
        _group: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]
        group = table.load(state.get if state.exists else None)
        pos = group.codes(pdf)
        by_time = np.lexsort([sort_key(pdf[c]) for c in reversed(order_cols)])
        by_key, runs = key_runs(pos[by_time])
        order = by_time[by_key]
        vals = py_values(pdf[value_col], DoubleType())
        vals = [vals[i] for i in order.tolist()]
        res = _fold_running(group.carry, runs, vals)
        state.update(group.state())
        n, total = zip(*res)
        yield pd.DataFrame(
            {
                **group.columns(pos[order].tolist()),
                id_col: pdf[id_col].to_numpy()[order],
                "running_n": n,
                "running_sum": total,
            },
            columns=out_cols,
        )

    return apply_in_key_groups(
        stream,
        table,
        fn,
        out_schema,
        StructType(table.state_fields()),
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_over_range_event_time(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
    ts_col: str = "ts",
    bound_ms: int = 600_000,
) -> DataFrame:
    """Rowtime RANGE-bounded-preceding OVER aggregation
    (RowTimeRangeBoundedPrecedingFunction.java): for each row, SUM/COUNT
    over the key's rows with event time in [ts - bound, ts]. RANGE
    semantics: peer rows (equal ts) share one frame, so every peer sees
    the aggregate including all peers.

    Same watermark discipline as streaming_over_rows_event_time: rows
    buffer until the watermark passes them, finalize in (ts, id) order,
    late rows drop. Rows leaving a frame are retracted, not re-summed.
    State additionally retains the finalized rows still inside the
    bound window of the watermark (the reference's cleanup: a retired
    row can never re-enter a future frame because future rows only have
    later timestamps); everything older is evicted — state is O(rows
    per bound window), not O(stream).
    """
    return _over_event_time(
        stream, keys, value_col, id_col, ts_col, ("win_n", "win_sum"),
        range_ms=bound_ms,
    )


def streaming_over_rows_bounded_event_time(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
    id_col: str,
    ts_col: str = "ts",
    n_rows: int = 20,
) -> DataFrame:
    """Rowtime ROWS-bounded-preceding OVER aggregation
    (RowTimeRowsBoundedPrecedingFunction.java): for each row, SUM/COUNT
    over the key's previous ``n_rows - 1`` rows plus itself, in strict
    (ts, id) event-time order. Unlike the RANGE variant, every row has
    its OWN frame (no peer sharing).

    Watermark discipline as the sibling operators: rows buffer until
    the watermark passes, finalize in order, late rows drop; the row
    leaving the frame is retracted. Retained state is exactly the last
    ``n_rows - 1`` finalized rows per key
    plus the unsettled buffer — the reference's retract-list bound,
    O(n_rows + out-of-orderness window), never O(stream).
    """
    return _over_event_time(
        stream, keys, value_col, id_col, ts_col, ("win_n", "win_sum"),
        rows=n_rows,
    )


def streaming_anti_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    l_ts_col: str,
    r_ts_col: str,
    lower_ms: int,
    upper_ms: int,
) -> DataFrame:
    """Time-bounded stream-stream LEFT ANTI equi-join
    (flink-table-runtime .../join/stream/
    StreamingSemiAntiJoinOperator.java:217 — the anti branch that emits
    a left row when its match-window closes with no right match;
    interval bound semantics of IntervalJoinFunction).

    Structured Streaming rejects stream-stream left_anti natively, so
    the operator is rebuilt on the repo's keyed-horizon pattern
    (streaming_cep_within's watermark-finalized buffer): tag and UNION
    the two sides, group by the join key, buffer in keyed state, and
    finalize from the watermark. A left row l matches a right row r
    when ``l.ts + lower_ms <= r.ts < l.ts + upper_ms`` (µs-exact
    comparison; bounds on the ms grid). l is emitted — and the emission
    is final — once the watermark passes ``floor_ms(l.ts) + upper_ms``:
    any later-arriving right row has ``ms(r.ts) > wm`` so it sits at or
    beyond the exclusive upper bound, and rows below the watermark are
    late and dropped (the reference's interval join drops late rows the
    same way).

    State per key is O(rows inside the join horizon): finalized lefts
    leave immediately, and a right row is discarded once it can match
    neither a buffered left nor any future (non-late) left — i.e. when
    ``r.ts < min(min_pending_left_ts, wm + 1ms) + lower_ms``.

    Scale shape: one shuffle on the join key (the
    applyInPandasWithState exchange), per-key work linear in buffered
    rows per trigger — the same cost model as the reference's keyed
    join state. Output: keys + left timestamp + left payload columns.
    """
    lpay = [c for c in left.columns if c not in (*keys, l_ts_col)]

    unioned = left.select(
        *keys,
        F.col(l_ts_col).alias("__t"),
        F.lit(0).alias("__side"),
        *lpay,
    ).unionByName(
        right.select(
            *keys,
            F.col(r_ts_col).alias("__t"),
            F.lit(1).alias("__side"),
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in lpay
            ],
        )
    )

    key_fields = [left.schema[k] for k in keys]
    pay_fields = [left.schema[c] for c in lpay]
    out_schema = StructType(
        [
            *key_fields,
            StructField(l_ts_col, left.schema[l_ts_col].dataType),
            *pay_fields,
        ]
    )
    out_cols = [*keys, l_ts_col, *lpay]
    lefts = BufferLayout("__t", pay_fields, prefix="left_")
    rights = BufferLayout("__t", [], prefix="right_")
    state_schema = StructType([*lefts.state_fields(), *rights.state_fields()])
    lower_us, upper_us = lower_ms * 1000, upper_ms * 1000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        raw = state.get if state.exists else None
        pending = lefts.load(raw)
        rts = rights.load(raw, lefts.width)
        for pdf in pdfs:
            is_left = pdf["__side"].to_numpy() == 0
            pending.admit(pdf, wm, is_left)
            rts.admit(pdf, wm, ~is_left)
        # windows closed: final verdict
        ts, cols = pending.release(wm - upper_ms)
        r = np.sort(rts.ts)
        hit = np.searchsorted(r, ts + upper_us) > np.searchsorted(r, ts + lower_us)
        # a right row below the horizon can match neither a buffered nor
        # a future (non-late) left: discard it
        horizon = (wm + 1) * 1000
        if len(pending):
            horizon = min(horizon, int(pending.ts.min()))
        rts.release((horizon + lower_us) // 1000 - 1)
        state.update((*pending.state(), *rts.state()))
        timeout = pending.next_timeout()
        if timeout is not None:
            state.setTimeoutTimestamp(max(timeout + upper_ms, 1))
        if not hit.all():
            sel = np.flatnonzero(~hit)
            pick = sel.tolist()
            out = {
                **dict(zip(keys, key)),
                l_ts_col: us_to_ts(ts[sel]),
                **{c: [col[i] for i in pick] for c, col in zip(lpay, cols)},
            }
            yield pd.DataFrame(out, columns=out_cols)

    return unioned.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_upsert_to_retract(
    stream: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
) -> DataFrame:
    """Stateful upsert-log -> retract-log conversion — the streaming
    ChangelogNormalize (StreamExecChangelogNormalize.java:156 /
    ProcTimeDeduplicateKeepLastRowFunction with
    generateUpdateBefore=true): state holds the key's last LIVE row;
    each incoming upsert emits the retraction of the prior version
    before the new one.

    Input: a changelog with ``__rowkind`` in {+I, +U, -D} (no -U — the
    upsert contract; -U rows are tolerated and dropped, the planner's
    DropUpdateBefore). Emission per input row, in ``seq_col`` order:

    - additive with no live prior: ``+I(new)``
    - additive with live prior:    ``-U(prev)`` then ``+U(new)``
    - delete with live prior:      ``-D(prev)`` (payload from STATE —
      an upsert delete may carry only the key, exactly the reference's
      value-from-state behavior); without a live prior it is a no-op.

    State per key = one row (the reference's single ValueState), so
    100 TB behavior is bounded by key cardinality; a key without a live
    row keeps no state. The batch dual is changelog.upsert_to_retract
    (one window pass); folding these emissions converges to it for any
    batch slicing (pinned by the fuzzer's normalize arm).
    """
    names = stream.columns
    kind_at, seq_at = names.index(ROWKIND), names.index(seq_col)
    pay_at = [j for j, c in enumerate(names) if c not in (ROWKIND, seq_col)]
    pay_fields = [stream.schema.fields[j] for j in pay_at]
    out_schema = StructType([StructField(ROWKIND, StringType()), *pay_fields])

    def step(key, rows, prev, _wm):
        out: list[tuple] = []
        for row in _sort(rows, [(seq_at, False)]):
            kind, new = row[kind_at], tuple(map(row.__getitem__, pay_at))
            if kind == UPDATE_BEFORE:
                continue  # DropUpdateBefore: redundant under a PK
            if kind == DELETE:
                if prev is not None:
                    out.append((DELETE, *prev))
                    prev = None
            elif prev is None:
                out.append((INSERT, *new))
                prev = new
            else:
                out += [(UPDATE_BEFORE, *prev), (UPDATE_AFTER, *new)]
                prev = new
        return out, prev

    carry_fields = [StructField(f"prev_{f.name}", f.dataType) for f in pay_fields]
    return keyed_state(stream, keys, step, carry_fields, out_schema)
