"""Legacy group-window aggregate (StreamExecGroupWindowAggregate /
AggregateWindowOperator over GroupWindowAssigners).

The window TVF stack (streaming/window_tvf.py) covers the slicing
assigners; this operator rebuilds the LEGACY WindowOperator semantics
the TVF path cannot express:

- SESSION windows with state merging
  (flink-table-runtime/.../operators/window/assigners/
  SessionWindowAssigner.java + MergingWindowSet): each row opens
  [ts, ts+gap) and any strictly-overlapping live windows merge —
  touching windows do NOT merge (TimeWindow.intersects compares
  maxTimestamp = end-1);
- SLIDING windows with arbitrary slide (size needn't be a multiple —
  SlidingWindowAssigner.assignWindows walks starts back from
  getWindowStartWithOffset(ts, offset, slide));
- CHANGELOG input: the accumulators retract (-U/-D decrement) —
  count/sum net out, max/min and count-distinct keep value->count
  multisets (the reference's retractable agg functions); a window
  whose live count nets to zero at fire time emits nothing, which is
  how a normalized upsert source's superseded versions vanish from
  their window (GroupWindowITCase.testWindowAggregateOnUpsertSource);
- ALLOWED LATENESS + late firing (WindowOperator.java:380-409,
  table.exec.emit.allow-lateness with late-fire delay 0): a row inside
  the lateness horizon re-accumulates and the window re-fires as
  -U(old)/+U(new) (+I if the first firing found it empty, -D if a
  late retraction empties it); state retires at end - 1 + lateness.

Trigger boundary is the reference's isWindowFired: wm >= end - 1.
Ordering: source-fed input fires ready windows BEFORE accumulating
the batch (timers run on the watermark emitted ahead of these rows);
operator-fed input (``input_settled=True``) accumulates first —
records precede the watermark that fired them.

Scale: one hash exchange on the key; per-key state is O(live windows
x accumulator width), retired on the lateness horizon.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_release_1_16_0_spark.streaming.accumulators import Accumulator, AggSpecs
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)
from flink_release_1_16_0_spark.streaming.window_tvf import (
    to_ms,
    to_ts,
    window_start_with_offset,
)

_FUNCS = (
    "count_star",
    "count",
    "sum",
    "sum_int",
    "max",
    "min",
    "count_distinct",
    "avg_int",
    "weighted_avg",
    "concat_distinct",
)


def streaming_group_window_agg(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    aggs: Sequence[tuple],
    *,
    kind: str = "tumble",
    size_ms: int | None = None,
    slide_ms: int | None = None,
    gap_ms: int | None = None,
    offset_ms: int = 0,
    allowed_lateness_ms: int = 0,
    rowkind_col: str | None = None,
    input_settled: bool = False,
    emit_window_time: bool = False,
) -> DataFrame:
    """Legacy group-window aggregate (module docstring). ``aggs``:
    (out_name, func, col, out_type) — ``weighted_avg`` takes
    col=(value_col, weight_col). Output: __rowkind, keys,
    window_start, window_end[, window_time], *aggs — +I on first
    fire, -U/+U (or late +I / -D) under allowed lateness.
    """
    for a in aggs:
        if a[1] not in _FUNCS:
            raise ValueError(f"unsupported group-window agg func {a[1]!r}")
    if kind == "tumble":
        if size_ms is None:
            raise ValueError("tumble requires size_ms")
    elif kind == "sliding":
        if size_ms is None or slide_ms is None:
            raise ValueError("sliding requires size_ms and slide_ms")
    elif kind == "session":
        if gap_ms is None:
            raise ValueError("session requires gap_ms")
        if rowkind_col is not None:
            raise ValueError("session windows do not accept changelog input")
    else:
        raise ValueError(f"unknown group window kind {kind!r}")

    specs = AggSpecs(aggs, changelog=rowkind_col is not None)
    nspecs = len(aggs)
    key_fields = [stream.schema[k] for k in keys]
    win_fields = [
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
    ]
    if emit_window_time:
        win_fields.append(StructField("window_time", TimestampType()))
    out_schema = StructType(
        [
            StructField(ROWKIND, StringType()),
            *key_fields,
            *win_fields,
            *[StructField(n, t) for n, _f, _c, t in aggs],
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def assign(ts_ms: int) -> list[tuple[int, int]]:
        if kind == "tumble":
            s = window_start_with_offset(ts_ms, offset_ms, size_ms)
            return [(s, s + size_ms)]
        if kind == "sliding":
            last = window_start_with_offset(ts_ms, offset_ms, slide_ms)
            outw = []
            s = last
            while s > ts_ms - size_ms:
                outw.append((s, s + size_ms))
                s -= slide_ms
            return outw
        return [(ts_ms, ts_ms + gap_ms)]  # session candidate

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            wins, settled_wm = pickle.loads(state.get[0])
        else:
            wins, settled_wm = {}, None
        # wins: {(start, end): [acc, emitted]} — emitted: None = never
        # fired; () = fired empty; tuple = the last emitted agg values
        out: list[tuple] = []

        def row_head(kindmark, ws, we):
            wt = (to_ts(we - 1),) if emit_window_time else ()
            return (kindmark, *key, to_ts(ws), to_ts(we), *wt)

        def fire(refire_only: bool = False) -> None:
            for (ws, we), slot in sorted(wins.items()):
                if wm < we - 1:
                    continue
                acc, emitted = slot
                live = acc.n > 0
                vals = acc.emit(specs) if live else None
                if emitted is None:
                    if not refire_only or allowed_lateness_ms > 0:
                        if live:
                            out.append((*row_head(INSERT, ws, we), *vals))
                            slot[1] = vals
                        else:
                            slot[1] = ()
                elif emitted == ():
                    if live:
                        out.append((*row_head(INSERT, ws, we), *vals))
                        slot[1] = vals
                elif not live:
                    out.append((*row_head(DELETE, ws, we), *emitted))
                    slot[1] = ()
                elif vals != emitted:
                    out.append((*row_head(UPDATE_BEFORE, ws, we), *emitted))
                    out.append((*row_head(UPDATE_AFTER, ws, we), *vals))
                    slot[1] = vals

        def accumulate() -> None:
            wm_chk = (settled_wm if settled_wm is not None else -(2**62)) if input_settled else wm
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # positional itertuples: no per-row dict allocation in
                # the per-row hot loop (runs once per input row at any
                # scale — same treatment as the window-TVF agg)
                cols = list(pdf.columns)
                plan = specs.plan(cols)
                rk_pos = cols.index(rowkind_col) if rowkind_col else None
                ts_pos = cols.index(ts_col)
                for tup in pdf.itertuples(index=False, name=None):
                    sign = 1
                    if rk_pos is not None:
                        sign = -1 if tup[rk_pos] in (UPDATE_BEFORE, DELETE) else 1
                    ts_ms = to_ms(tup[ts_pos])
                    for ws, we in assign(ts_ms):
                        if wm_chk >= we - 1 + allowed_lateness_ms:
                            continue  # beyond the lateness horizon
                        if kind == "session":
                            # merge strictly-overlapping UNFIRED
                            # sessions — a session that already fired
                            # this batch (emitted, awaiting retirement)
                            # is purged state in the reference; a
                            # bridging row opens a NEW session beside
                            # it rather than re-absorbing its rows
                            overlap = [
                                w
                                for w in wins
                                if w[0] < we and ws < w[1] and wins[w][1] is None
                            ]
                            acc = Accumulator(nspecs)
                            for w in overlap:
                                o_acc, _em = wins.pop(w)
                                acc.merge(specs, o_acc)
                                ws, we = min(ws, w[0]), max(we, w[1])
                            acc.add(plan, tup, sign)
                            wins[(ws, we)] = [acc, None]
                        else:
                            slot = wins.get((ws, we))
                            if slot is None:
                                slot = wins[(ws, we)] = [Accumulator(nspecs), None]
                            slot[0].add(plan, tup, sign)

        if input_settled:
            accumulate()
            fire()
        else:
            fire()
            accumulate()
            fire(refire_only=True)
        settled_wm = wm if settled_wm is None else max(settled_wm, wm)

        # retire windows past the lateness horizon
        for w in [w for w in wins if wm >= w[1] - 1 + allowed_lateness_ms]:
            del wins[w]

        if wins:
            state.update((pickle.dumps((wins, settled_wm)),))
            nxt = min((we for _ws, we in wins if we - 1 > wm), default=None)
            if nxt is not None:
                state.setTimeoutTimestamp(nxt - 2)  # fires at wm >= nxt - 1
            else:
                # every live window has fired but is retained for the
                # allowed-lateness horizon — register its cleanup timer
                # (WindowOperator registers a cleanup timer at
                # window.maxTimestamp + allowedLateness) so quiet keys
                # retire via the EventTimeTimeout path instead of
                # holding state until the key's next record.
                state.setTimeoutTimestamp(
                    min(we - 2 + allowed_lateness_ms for _ws, we in wins)
                )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="blob BINARY",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
