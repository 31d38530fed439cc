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
x accumulator width), retired on the lateness horizon: per window its
bounds, accumulator and last emitted values, typed (``window_step``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
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
from flink_release_1_16_0_spark.streaming.event_buffer import py_rows
from flink_release_1_16_0_spark.streaming.window_tvf import (
    event_ms,
    window_cols,
    window_fields,
    window_start_with_offset,
    window_step,
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
    out_schema = StructType(
        [
            StructField(ROWKIND, StringType()),
            *[stream.schema[k] for k in keys],
            *window_fields(emit_window_time),
            *[StructField(n, t) for n, _f, _c, t in aggs],
        ]
    )
    in_fields = [stream.schema[c] for c in specs.columns]
    plan = specs.plan(specs.columns)
    # per window: bounds, accumulator, whether it fired (NULL: not yet;
    # false: it fired empty) and what its last firing emitted
    state_fields = [
        StructField("window_start", ArrayType(LongType())),
        StructField("window_end", ArrayType(LongType())),
        *specs.state_fields(stream.schema),
        StructField("fired", ArrayType(BooleanType())),
        *[StructField(f"emitted_{n}", ArrayType(t)) for n, _f, _c, t in aggs],
    ]

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

    # wins: {(start, end): [acc, emitted]} — emitted: None = never
    # fired; () = fired empty; tuple = the last emitted agg values
    def load(raw) -> dict:
        if raw is None:
            return {}
        emitted = [
            None if fired is None else tuple(vals) if fired else ()
            for fired, *vals in zip(*raw[2 + specs.width :])
        ]
        return {w: [*slot] for w, *slot in zip(zip(raw[0], raw[1]), specs.load(raw, 2), emitted)}

    def store(wins: dict) -> tuple:
        emitted = [slot[1] for slot in wins.values()]
        return (
            [ws for ws, _we in wins],
            [we for _ws, we in wins],
            *specs.store(slot[0] for slot in wins.values()),
            [None if e is None else bool(e) for e in emitted],
            *[[e[i] if e else None for e in emitted] for i in range(nspecs)],
        )

    def fire(key: tuple, wins: dict, _due, wm: int, out: list, refire_only=False) -> None:
        # every window the watermark reached: +I on its first non-empty
        # firing, then -U/+U when late rows change it, -D when they
        # empty it
        for (ws, we), slot in sorted(wins.items()):
            emitted = slot[1]
            if wm < we - 1 or (emitted is None and refire_only and not allowed_lateness_ms):
                continue
            old = emitted or ()
            new = slot[0].emit(specs) if slot[0].n > 0 else ()
            if old == new and emitted is not None:
                continue
            head = (*key, *window_cols(ws, we, emit_window_time))
            if old and new:
                out += [(UPDATE_BEFORE, *head, *old), (UPDATE_AFTER, *head, *new)]
            elif old or new:
                out.append((DELETE, *head, *old) if old else (INSERT, *head, *new))
            slot[1] = new

    def accumulate(wins: dict, pdfs: Iterator[pd.DataFrame], late_wm: int) -> None:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            signs = repeat(1)
            if rowkind_col is not None:
                signs = [
                    -1 if k in (UPDATE_BEFORE, DELETE) else 1
                    for k in pdf[rowkind_col].tolist()
                ]
            rows = zip(event_ms(pdf[ts_col]), signs, py_rows(pdf, in_fields))
            for ts_ms, sign, tup in rows:
                for ws, we in assign(ts_ms):
                    if late_wm >= we - 1 + allowed_lateness_ms:
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

    def settle(key: tuple, wins: dict, wm: int, out: list) -> None:
        if not input_settled:
            # late firing of the rows this batch added
            fire(key, wins, None, wm, out, refire_only=True)
        # retire windows past the lateness horizon
        for w in [w for w in wins if wm >= w[1] - 1 + allowed_lateness_ms]:
            del wins[w]

    return window_step(
        stream.groupBy(*keys),
        out_schema,
        state_fields,
        attributed=input_settled,
        load=load,
        store=store,
        accumulate=accumulate,
        fire=fire,
        ends=lambda wins: [we for _ws, we in wins],
        settle=settle,
        # every live window fired but is kept for the allowed-lateness
        # horizon: WindowOperator's cleanup timer at window.maxTimestamp
        # + allowedLateness retires quiet keys
        cleanup_ms=allowed_lateness_ms,
        output_mode="update",
    )
