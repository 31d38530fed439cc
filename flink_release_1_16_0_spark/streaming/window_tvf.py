"""Event-time window TVF aggregate with slice-shared state
(StreamExecWindowAggregate over SliceAssigners).

Rebuilds the reference's slicing window-agg stack for the semantics
Structured Streaming's native window agg cannot express:

- window OFFSET (``TUMBLE(..., INTERVAL '1' DAY, INTERVAL '8' HOUR)``)
  via ``TimeWindow.getWindowStartWithOffset`` arithmetic
  (flink-streaming-java/.../windowing/windows/TimeWindow.java:413);
- the ``isWindowFired`` trigger boundary ``watermark >= end - 1``
  (flink-table-runtime/.../util/TimeWindowUtil.java:172);
- late-row drop keyed on the row's LAST window
  (AbstractWindowAggProcessor.java ``isWindowFired(getLastWindowEnd(
  sliceEnd), wm)`` — a row is late only when every window containing
  it has fired, so a hop row late for its first window still counts
  toward its later windows);
- slice-shared state (SliceSharedWindowAggProcessor.java:89): one
  accumulator per SLICE, windows materialized by merging slices at
  fire time — hop state is O(slices), not O(slices x windows/slice);
- the reference's merge ORDER, observable through order-sensitive
  aggregates like concat_distinct: hop merges slices DESCENDING by
  slice end into a fresh accumulator
  (SliceAssigners.HoppingSlicesIterable:625 iterates lastSliceEnd
  down), cumulate merges each new step slice INTO the first slice's
  shared state (SliceAssigners.CumulativeSliceAssigner.mergeSlices:360
  — so its concat order is ascending);
- cumulate expiry: non-first slices retire at their fire, the shared
  first slice at the group's max window
  (CumulativeSliceAssigner.expiredSlices).

Scale shape: one hash exchange on the grouping key; per-key state is
O(live slices) with windows derived by arithmetic, the same bound as
the reference's slicing operator. Aggregation is incremental per
slice; firing merges at most size/slide accumulators.

These three operators and the group window (group_window.py) share
one per-key step, :func:`window_step`, and keep typed state: the
``streaming.accumulators`` codec for accumulators, the
``event_buffer.BufferLayout`` codec (window end as time) for rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from itertools import repeat
from math import gcd

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from flink_release_1_16_0_spark.streaming.accumulators import Accumulator, AggSpecs
from flink_release_1_16_0_spark.streaming.event_buffer import (
    BufferLayout,
    epoch_us,
    py_rows,
)

_AGG_FUNCS = (
    "count_star",
    "count",
    "sum",
    "max",
    "min",
    "count_distinct",
    "concat_distinct",
)

# the settled watermark before the first call
_NEVER = -(2**62)


def window_start_with_offset(ts_ms: int, offset_ms: int, size_ms: int) -> int:
    """TimeWindow.getWindowStartWithOffset — offset may be negative and
    the remainder must stay non-negative (Java adds ``size`` to a
    negative remainder; Python's floored % never yields one)."""
    return ts_ms - (ts_ms - offset_ms) % size_ms


def to_ms(t) -> int:
    """Epoch milliseconds of a pandas/datetime timestamp cell (naive
    timestamps are UTC, the session time zone)."""
    return (t if hasattr(t, "value") else pd.Timestamp(t)).value // 1_000_000


def event_ms(col) -> list[int]:
    """Epoch milliseconds of a timestamp column, as ints."""
    return (epoch_us(col) // 1000).tolist()


def window_fields(emit_window_time: bool) -> list[StructField]:
    """The window columns of every windowed operator's output."""
    names = ["window_start", "window_end"] + ["window_time"] * emit_window_time
    return [StructField(n, TimestampType()) for n in names]


def window_cols(ws: int, we: int, emit_window_time: bool) -> tuple:
    """A fired window's values of :func:`window_fields`; window_time is
    the end - 1 ms."""
    ends = (ws, we, we - 1) if emit_window_time else (ws, we)
    return tuple(pd.Timestamp(ms * 1_000_000) for ms in ends)


def window_step(
    grouped,
    out_schema: StructType,
    state_fields: Sequence[StructField],
    *,
    attributed: bool,
    load: Callable,
    store: Callable,
    accumulate: Callable,
    fire: Callable,
    ends: Callable,
    settle: Callable | None = None,
    cleanup_ms: int | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """``applyInPandasWithState`` with the step every windowed operator
    takes per key and micro-batch. The operator holds its windows in
    ``wins`` (``load(raw)``, ``store(wins)``, ``ends(wins)``); the step
    fires (``fire(key, wins, due, wm, out)``) the ends ``due`` that the
    watermark fires (isWindowFired: wm >= end - 1) and the settled one
    did not, and accumulates (``accumulate(wins, pdfs, late_wm)``):
    source-fed input after firing, late against this watermark (the
    reference's timers run ahead of the rows); ``attributed`` input, an
    upstream window operator's output, which precedes the watermark
    that fired it, before firing, late against the settled one. Then
    ``settle(key, wins, wm, out)``, if given. The timer is the smallest
    unfired end - 2 (Spark fires when timeout < watermark), else the
    smallest end + ``cleanup_ms``; no end left removes the state.
    """
    out_cols = out_schema.fieldNames()
    state_schema = StructType([StructField("settled_wm", LongType()), *state_fields])

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        raw = state.get if state.exists else None
        settled = _NEVER if raw is None else raw[0]
        wins = load(None if raw is None else raw[1:])
        out: list[tuple] = []
        if attributed:
            accumulate(wins, pdfs, settled)
        fire(key, wins, sorted({e for e in ends(wins) if wm >= e - 1 > settled}), wm, out)
        if not attributed:
            accumulate(wins, pdfs, wm)
        if settle is not None:
            settle(key, wins, wm, out)
        settled = max(settled, wm)
        held = list(ends(wins))
        if held:
            state.update((settled, *store(wins)))
            nxt = min((e for e in held if e - 1 > settled), default=None)
            if nxt is not None:
                state.setTimeoutTimestamp(nxt - 2)
            elif cleanup_ms is not None:
                state.setTimeoutTimestamp(min(held) - 2 + cleanup_ms)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _window_rows(layout: BufferLayout, raw, at: int = 0) -> dict[int, list[tuple]]:
    """Rows per window end, from ``layout``'s state fields at
    ``raw[at:]`` (the buffer's time is the window end)."""
    buf = layout.load(raw, at)
    wins: dict[int, list[tuple]] = {}
    for t, *row in zip(buf.ts.tolist(), *buf.cols):
        wins.setdefault(t // 1000, []).append(tuple(row))
    return wins


def _rows_state(layout: BufferLayout, wins: dict[int, list[tuple]]) -> tuple:
    """Rows per window end as ``layout``'s state fields."""
    rows = [(e * 1000, *row) for e, rs in wins.items() for row in rs]
    return tuple(map(list, zip(*rows))) if rows else tuple([] for _ in range(layout.width))


def _live_ends(asg: _Assigner | None, t: int, late_wm: int) -> list[int]:
    """The ends of a row's windows that ``late_wm`` has not fired; the
    row is at ``t`` ms, or, with no assigner, ``t`` is its window end."""
    ends = [t] if asg is None else asg.candidate_ends(asg.assign_slice_end(t))
    return [e for e in ends if late_wm < e - 1]


class _Assigner:

    """Tumble / hop / cumulate slice assigner (SliceAssigners.java)."""

    def __init__(
        self,
        kind: str,
        size_ms: int,
        slide_ms: int | None = None,
        step_ms: int | None = None,
        offset_ms: int = 0,
    ):
        self.kind = kind
        self.size = size_ms
        self.offset = offset_ms
        if kind == "tumble":
            self.slice = size_ms
        elif kind == "hop":
            if slide_ms is None or size_ms % slide_ms:
                raise ValueError("hop requires size % slide == 0 (slicing)")
            self.slide = slide_ms
            self.slice = gcd(size_ms, slide_ms)
        elif kind == "cumulate":
            if step_ms is None or size_ms % step_ms:
                raise ValueError("cumulate requires max size % step == 0")
            self.step = step_ms
            self.slice = step_ms
        else:
            raise ValueError(f"unknown window kind {kind!r}")

    def assign_slice_end(self, ts_ms: int) -> int:
        return window_start_with_offset(ts_ms, self.offset, self.slice) + self.slice

    def last_window_end(self, slice_end: int) -> int:
        if self.kind == "tumble":
            return slice_end
        if self.kind == "hop":
            return slice_end - self.slice + self.size
        # cumulate: end of the group's max window
        return self.group_start(slice_end) + self.size

    def group_start(self, window_or_slice_end: int) -> int:
        """Cumulate group start (CumulativeSliceAssigner.getWindowStart)."""
        return window_start_with_offset(window_or_slice_end - 1, self.offset, self.size)

    def window_starts(self, window_end: int) -> int:
        if self.kind == "cumulate":
            return self.group_start(window_end)
        return window_end - self.size

    def candidate_ends(self, slice_end: int) -> list[int]:
        """All window ends whose window contains this slice."""
        if self.kind == "tumble":
            return [slice_end]
        if self.kind == "hop":
            return list(range(slice_end, self.last_window_end(slice_end) + 1, self.slide))
        g = self.group_start(slice_end)
        return list(range(max(slice_end, g + self.step), g + self.size + 1, self.step))


def streaming_window_tvf_agg(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    aggs: Sequence[tuple[str, str, str | None, DataType]],
    *,
    kind: str = "tumble",
    size_ms: int,
    slide_ms: int | None = None,
    step_ms: int | None = None,
    offset_ms: int = 0,
    emit_window_time: bool = False,
    input_attributed: bool = False,
) -> DataFrame:
    """Event-time TUMBLE/HOP/CUMULATE window TVF aggregate (append-only).

    ``input_attributed=True`` marks input produced by an UPSTREAM
    window operator (cascading window aggs): such records precede the
    watermark that fired them, so accumulation runs before firing and
    lateness is judged against the previous settled watermark (same
    convention as :func:`streaming_window_tvf_topn`).

    ``aggs``: (out_name, func, in_col, out_type) with func one of
    count_star | count | sum | max | min | count_distinct |
    concat_distinct. SUM accumulates exactly in Decimal; emitted as
    str when out_type is STRING, float when DOUBLE/FLOAT, as Decimal
    otherwise.

    Emission: a window fires once its end passes the isWindowFired
    boundary (wm >= end - 1) and it holds >= 1 row; +I only — a fired
    window never refines (late rows for it are dropped upstream of
    state, the reference's windowAggProcessor drop path). Output
    columns: keys, window_start, window_end[, window_time], *aggs.
    State per key: one accumulator per live slice, keyed by slice end.
    """
    for a in aggs:
        if a[1] not in _AGG_FUNCS:
            raise ValueError(f"unsupported window agg func {a[1]!r}")
    asg = _Assigner(kind, size_ms, slide_ms, step_ms, offset_ms)
    specs = AggSpecs(aggs, changelog=False)
    nspecs = len(aggs)
    out_schema = StructType(
        [
            *[stream.schema[k] for k in keys],
            *window_fields(emit_window_time),
            *[StructField(name, typ) for name, _f, _c, typ in aggs],
        ]
    )
    in_fields = [stream.schema[c] for c in specs.columns]
    plan = specs.plan(specs.columns)

    def fire(key: tuple, slices, due: list[int], _wm, out: list) -> None:
        def emit(ws: int, we: int, acc: Accumulator | None) -> None:
            if acc is not None and acc.n > 0:
                out.append((*key, *window_cols(ws, we, emit_window_time), *acc.emit(specs)))

        for e in due:
            if kind == "tumble":
                emit(e - size_ms, e, slices.pop(e, None))
            elif kind == "hop":
                merged = Accumulator(nspecs)
                # descending slice ends (HoppingSlicesIterable)
                for se in range(e, e - size_ms, -asg.slice):
                    s = slices.get(se)
                    if s is not None:
                        merged.merge(specs, s)
                emit(e - size_ms, e, merged)
                # expire the window's first slice — no later window
                # needs it
                slices.pop(e - size_ms + asg.slice, None)
            else:  # cumulate
                g = asg.group_start(e)
                first = g + asg.step
                target = slices.get(first)
                if e != first:
                    # merge the current step slice INTO the shared
                    # first slice (CumulativeSliceAssigner.mergeSlices)
                    # — so order-sensitive aggs read ascending
                    step_acc = slices.pop(e, None)
                    if step_acc is not None:
                        if target is None:
                            target = slices[first] = Accumulator(nspecs)
                        target.merge(specs, step_acc)
                emit(g, e, target)
                if e == g + size_ms:  # max window: retire shared state
                    slices.pop(first, None)

    def accumulate(slices, pdfs: Iterator[pd.DataFrame], late_wm: int) -> None:
        # drop iff the row's LAST window fired per ``late_wm``; a row
        # whose own slice fired but later windows remain goes to the
        # slice-state merge target (AbstractWindowAggProcessor.java:142:
        # hop -> the slice itself, cumulate -> the shared first slice).
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for t, tup in zip(event_ms(pdf[ts_col]), py_rows(pdf, in_fields)):
                se = asg.assign_slice_end(t)
                if late_wm >= asg.last_window_end(se) - 1:
                    continue  # late: every window containing it fired
                if kind == "cumulate" and late_wm >= se - 1:
                    se = asg.group_start(se) + asg.step  # merge target
                acc = slices.get(se)
                if acc is None:
                    acc = slices[se] = Accumulator(nspecs)
                acc.add(plan, tup)

    return window_step(
        stream.groupBy(*keys),
        out_schema,
        [
            StructField("slice_end", ArrayType(LongType())),
            *specs.state_fields(stream.schema),
        ],
        attributed=input_attributed,
        # slices: accumulators by slice end
        load=lambda raw: {} if raw is None else dict(zip(raw[0], specs.load(raw, 1))),
        store=lambda slices: (list(slices), *specs.store(slices.values())),
        accumulate=accumulate,
        fire=fire,
        ends=lambda slices: (e for se in slices for e in asg.candidate_ends(se)),
    )


def streaming_window_tvf_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    *,
    join_type: str = "inner",
    null_safe: bool = False,
    null_aware_col: str | None = None,
    kind: str = "tumble",
    size_ms: int,
    slide_ms: int | None = None,
    step_ms: int | None = None,
    offset_ms: int = 0,
    emit_window_time: bool = False,
    input_attributed: bool = False,
) -> DataFrame:
    """Event-time window join (StreamExecWindowJoin /
    WindowJoinOperator): both sides buffer per (key, window); the
    window's cross product (or semi/anti/outer variant) emits once,
    when the window fires (wm >= end - 1) — append-only, no retraction.

    ``join_type``: inner | left | right | full | semi | anti |
    anti_null_aware. Key equality is SQL equality — NULL keys never
    match (each side pads / anti-emits per its own rows) unless
    ``null_safe`` (IS NOT DISTINCT FROM). ``anti_null_aware`` is the
    NOT IN shape: key the operator by the WINDOW only (keys=[] plus a
    constant group) and name the compared column via
    ``null_aware_col`` (present on the left, and as
    ``{null_aware_col}2`` on the right) — any NULL on the right
    suppresses the whole window and NULL left values never emit.

    Input shapes mirror streaming_window_tvf_topn: raw rows (windows
    assigned here, fire-first) or window-attributed rows
    (accumulate-first). Both sides must share the key column names and
    have otherwise-disjoint payload columns; output = keys +
    window_start/window_end (+window_time) + left payloads + right
    payloads (semi/anti: left payloads only).

    Scale: one hash exchange on (keys); state = live rows per (key,
    open window), retired at fire — the reference's
    WindowJoinOperator state bound; each side's rows are one
    BufferLayout buffer of (window start, payload) by window end.
    """
    kinds = ("inner", "left", "right", "full", "semi", "anti", "anti_null_aware")
    if join_type not in kinds:
        raise ValueError(f"join_type must be one of {kinds}, got {join_type!r}")
    if join_type == "anti_null_aware" and null_aware_col is None:
        raise ValueError("anti_null_aware requires null_aware_col")
    asg = None
    if not input_attributed:
        asg = _Assigner(kind, size_ms, slide_ms, step_ms, offset_ms)

    from pyspark.sql import functions as F

    win_meta = ("window_start", "window_end", "window_time")
    meta = (ts_col, *keys, *win_meta, "__side")
    lpay = [c for c in left.columns if c not in meta]
    rpay = [c for c in right.columns if c not in meta]
    if set(lpay) & set(rpay):
        raise ValueError(f"payload columns must be disjoint: {set(lpay) & set(rpay)}")

    def tag(df: DataFrame, side: str, own, other, other_schema) -> DataFrame:
        carry = [ts_col] if not input_attributed else ["window_start", "window_end"]
        return df.select(
            *keys,
            *carry,
            F.lit(side).alias("__side"),
            *own,
            *[F.lit(None).cast(other_schema[c].dataType).alias(c) for c in other],
        )

    unioned = tag(left, "L", lpay, rpay, right.schema).unionByName(
        tag(right, "R", rpay, lpay, left.schema)
    )

    l_fields = [left.schema[c] for c in lpay]
    r_fields = [right.schema[c] for c in rpay]
    semi_like = join_type in ("semi", "anti", "anti_null_aware")
    out_schema = StructType(
        [
            *[left.schema[k] for k in keys],
            *window_fields(emit_window_time),
            *l_fields,
            *([] if semi_like else r_fields),
        ]
    )
    ws_field = StructField("window_start", LongType())
    sides = (
        BufferLayout("window_end", [ws_field, *l_fields], prefix="l_"),
        BufferLayout("window_end", [ws_field, *r_fields], prefix="r_"),
    )

    l_nulls = [None] * len(lpay)
    r_nulls = [None] * len(rpay)
    t_col = "window_end" if input_attributed else ts_col

    def accumulate(wins, pdfs: Iterator[pd.DataFrame], late_wm: int) -> None:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            starts = event_ms(pdf["window_start"]) if input_attributed else repeat(None)
            is_left = (pdf["__side"] == "L").tolist()
            rows = zip(py_rows(pdf, l_fields), py_rows(pdf, r_fields))
            for t, ws, left_row, (lrow, rrow) in zip(event_ms(pdf[t_col]), starts, is_left, rows):
                side, row = (wins[0], lrow) if left_row else (wins[1], rrow)
                for e in _live_ends(asg, t, late_wm):
                    side.setdefault(e, []).append((ws if asg is None else asg.window_starts(e), *row))

    def fire(key: tuple, wins, due: list[int], _wm, out: list) -> None:
        lw, rw = wins
        matched_key = null_safe or all(k is not None for k in key)
        for e in due:
            lrows, rrows = lw.pop(e, []), rw.pop(e, [])  # (start, *payload)
            head = (*key, *window_cols((lrows or rrows)[0][0], e, emit_window_time))
            lrows = [r[1:] for r in lrows]
            rrows = [r[1:] for r in rrows]
            if join_type == "anti_null_aware":
                # NOT IN: any right NULL suppresses the window;
                # NULL left values never satisfy NOT IN
                idx = lpay.index(null_aware_col)
                ridx = rpay.index(f"{null_aware_col}2")
                rvals = [r[ridx] for r in rrows]
                if any(v is None or v != v for v in rvals):
                    continue
                rset = set(rvals)
                for lrow in lrows:
                    v = lrow[idx]
                    if v is not None and v == v and v not in rset:
                        out.append((*head, *lrow))
                continue
            joined = matched_key and bool(lrows) and bool(rrows)
            if join_type == "semi":
                if joined:
                    out.extend((*head, *lr) for lr in lrows)
            elif join_type == "anti":
                if not joined:
                    out.extend((*head, *lr) for lr in lrows)
            elif joined:
                out.extend((*head, *lr, *rr) for lr in lrows for rr in rrows)
            else:
                if join_type in ("left", "full") and lrows:
                    out.extend((*head, *lr, *r_nulls) for lr in lrows)
                if join_type in ("right", "full") and rrows:
                    out.extend((*head, *l_nulls, *rr) for rr in rrows)

    return window_step(
        unioned.groupBy(*keys),
        out_schema,
        [*sides[0].state_fields(), *sides[1].state_fields()],
        attributed=input_attributed,
        # per side: rows (window start, *payload) by window end
        load=lambda raw: (_window_rows(sides[0], raw), _window_rows(sides[1], raw, sides[0].width)),
        store=lambda wins: (*_rows_state(sides[0], wins[0]), *_rows_state(sides[1], wins[1])),
        accumulate=accumulate,
        fire=fire,
        ends=lambda wins: wins[0].keys() | wins[1].keys(),
    )


def _rank_sort(rows: list, order: list[tuple[int, bool]]) -> None:
    """Sort ``rows`` in place by ``order`` [(position, desc)], NULL
    lowest. Stable sorts, last key first, so ties keep arrival order:
    the reference's TopN keeps the earlier row on an equal sort key
    (WindowRankITCase's tie expectations)."""
    for c, desc in reversed(order):
        rows.sort(key=lambda r: (r[c] is not None, r[c]), reverse=desc)


def streaming_window_tvf_topn(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order: Sequence[tuple[str, bool]],
    rank_end: int,
    *,
    rank_start: int = 1,
    kind: str = "tumble",
    size_ms: int,
    slide_ms: int | None = None,
    step_ms: int | None = None,
    offset_ms: int = 0,
    emit_window_time: bool = False,
    emit_rownum: bool = False,
    input_attributed: bool = False,
) -> DataFrame:
    """Event-time window TopN / window deduplicate
    (StreamExecWindowRank / StreamExecWindowDeduplicate,
    WindowRankOperatorBuilder / RowTimeWindowDeduplicateOperatorBuilder).

    Keeps the best ``rank_end`` rows per (key, window) — ``order`` is
    [(col, desc)] with ties broken by arrival (stable) — and emits
    rows ranked in [rank_start, rank_end] once, when the window fires
    (wm >= end - 1, append-only). Dedup keep-first/last is the
    rank_end=1 case ordered by the time column asc/desc.

    Two input shapes:
    - raw rows (``input_attributed=False``): windows are assigned here
      (tumble/hop/cumulate + offset); fire-first ordering — a source
      row arriving after the watermark that fired its window is late
      for THAT window but still enters later hop/cumulate windows
      (candidate ends already fired are skipped per-window, the drop
      path of AbstractWindowAggProcessor).
    - window-attributed rows (``input_attributed=True``): input carries
      window_start/window_end (e.g. the output of
      streaming_window_tvf_agg) and the same micro-batch's upstream
      firings must land in THIS batch's windows, so accumulation runs
      before firing (records precede the watermark that fired them —
      Flink forwards outputs before the watermark).

    State per key: the current top rows per open window, O(open
    windows x rank_end), one BufferLayout buffer with the window end as
    time; windows retire at fire. One hash exchange on the key columns.
    """
    asg = None
    if not input_attributed:
        asg = _Assigner(kind, size_ms, slide_ms, step_ms, offset_ms)
    key_fields = [stream.schema[k] for k in keys]
    in_fields = [f for f in stream.schema.fields if f.name not in keys]
    if input_attributed:
        in_fields = [
            f for f in in_fields if f.name not in ("window_start", "window_end")
        ]
    extra = [StructField("rownum", LongType())] if emit_rownum else []
    out_schema = StructType(
        [*key_fields, *in_fields, *window_fields(emit_window_time), *extra]
    )
    in_names = [f.name for f in in_fields]
    # buffered rows are positional tuples over exactly the columns the
    # operator reads (key columns are not assumed present on input rows)
    time_cols = ["window_start", "window_end"] if input_attributed else [ts_col]
    buf_cols = list(dict.fromkeys([*time_cols, *in_names, *(c for c, _ in order)]))
    buf_fields = [
        StructField(c, TimestampType()) if c in time_cols else stream.schema[c]
        for c in buf_cols
    ]
    layout = BufferLayout("window_end", buf_fields)
    pos = {c: i for i, c in enumerate(buf_cols)}
    by = [(pos[c], desc) for c, desc in order]
    in_pos = [pos[c] for c in in_names]
    ws_pos = pos.get("window_start")
    t_col = "window_end" if input_attributed else ts_col

    def accumulate(wins, pdfs: Iterator[pd.DataFrame], late_wm: int) -> None:
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for t, tup in zip(event_ms(pdf[t_col]), py_rows(pdf, buf_fields)):
                for e in _live_ends(asg, t, late_wm):
                    buf = wins.setdefault(e, [])
                    buf.append(tup)
                    if len(buf) > rank_end:
                        _rank_sort(buf, by)
                        del buf[rank_end:]

    def fire(key: tuple, wins, due: list[int], _wm, out: list) -> None:
        for e in due:
            buf = wins.pop(e)
            _rank_sort(buf, by)
            ws = to_ms(buf[0][ws_pos]) if input_attributed else asg.window_starts(e)
            win = window_cols(ws, e, emit_window_time)
            for rank, row in enumerate(buf, start=1):
                if rank_start <= rank <= rank_end:
                    vals = (*key, *(row[p] for p in in_pos), *win)
                    out.append((*vals, rank) if emit_rownum else vals)

    return window_step(
        stream.groupBy(*keys),
        out_schema,
        layout.state_fields(),
        attributed=input_attributed,
        load=lambda raw: _window_rows(layout, raw),
        store=lambda wins: _rows_state(layout, wins),
        accumulate=accumulate,
        fire=fire,
        ends=dict.keys,
    )
