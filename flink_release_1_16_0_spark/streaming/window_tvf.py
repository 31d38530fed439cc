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
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator, Sequence
from math import gcd

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DataType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from flink_release_1_16_0_spark.streaming.accumulators import Accumulator, AggSpecs

_AGG_FUNCS = (
    "count_star",
    "count",
    "sum",
    "max",
    "min",
    "count_distinct",
    "concat_distinct",
)


def window_start_with_offset(ts_ms: int, offset_ms: int, size_ms: int) -> int:
    """TimeWindow.getWindowStartWithOffset — offset may be negative and
    the remainder must stay non-negative (Java adds ``size`` to a
    negative remainder; Python's floored % never yields one)."""
    return ts_ms - (ts_ms - offset_ms) % size_ms


def to_ms(t) -> int:
    """Epoch milliseconds of a pandas/datetime timestamp cell."""
    return t.value // 1_000_000 if hasattr(t, "value") else int(t.timestamp() * 1000)


def to_ts(ms: int) -> pd.Timestamp:
    return pd.Timestamp(ms * 1_000_000)


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
    """
    for a in aggs:
        if a[1] not in _AGG_FUNCS:
            raise ValueError(f"unsupported window agg func {a[1]!r}")
    asg = _Assigner(kind, size_ms, slide_ms, step_ms, offset_ms)
    specs = AggSpecs(aggs, changelog=False)
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
            *key_fields,
            *win_fields,
            *[StructField(name, typ) for name, _f, _c, typ in aggs],
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    in_cols = [ts_col] + [c for _, _, c, _ in aggs if c is not None]
    in_cols = list(dict.fromkeys(in_cols))
    plan = specs.plan(in_cols)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            slices, settled_wm = pickle.loads(state.get[0])
        else:
            slices, settled_wm = {}, None

        out: list[tuple] = []

        def _row(ws: int, we: int, acc: Accumulator) -> tuple:
            wt = (to_ts(we - 1),) if emit_window_time else ()
            return (*key, to_ts(ws), to_ts(we), *wt, *acc.emit(specs))

        def fire() -> None:
            # The reference's timers run on watermark advance: a window
            # end fires once, when it first satisfies wm >= e - 1 past
            # the settled watermark (isWindowFired; monotone, so a
            # stored high-water mark replaces the reference's timer
            # state).
            ready: list[int] = sorted(
                {
                    e
                    for se in slices
                    for e in asg.candidate_ends(se)
                    if wm >= e - 1 and (settled_wm is None or e - 1 > settled_wm)
                }
            )
            for e in ready:
                if kind == "tumble":
                    acc = slices.pop(e, None)
                    if acc is not None and acc.n > 0:
                        out.append(_row(e - size_ms, e, acc))
                elif kind == "hop":
                    merged = Accumulator(nspecs)
                    # descending slice ends (HoppingSlicesIterable)
                    for se in range(e, e - size_ms, -asg.slice):
                        s = slices.get(se)
                        if s is not None:
                            merged.merge(specs, s)
                    if merged.n > 0:
                        out.append(_row(e - size_ms, e, merged))
                    # expire the window's first slice — no later window
                    # needs it
                    slices.pop(e - size_ms + asg.slice, None)
                else:  # cumulate
                    g = asg.group_start(e)
                    first = g + asg.step
                    target = slices.get(first)
                    if e != first:
                        # merge the current step slice INTO the shared
                        # first slice (CumulativeSliceAssigner.
                        # mergeSlices) — so order-sensitive aggs read
                        # ascending
                        step_acc = slices.pop(e, None)
                        if step_acc is not None:
                            if target is None:
                                target = slices[first] = Accumulator(nspecs)
                            target.merge(specs, step_acc)
                    if target is not None and target.n > 0:
                        out.append(_row(g, e, target))
                    if e == g + size_ms:  # max window: retire shared state
                        slices.pop(first, None)

        def accumulate(late_wm: int) -> None:
            # drop iff the row's LAST window fired per ``late_wm``; a
            # row whose own slice fired but later windows remain goes
            # to the slice-state merge target
            # (AbstractWindowAggProcessor.java:142: hop -> the slice
            # itself, cumulate -> the shared first slice).
            # itertuples + positional cells: the per-row hot loop runs
            # once per input row at any scale, so no per-row dict
            # allocation. ts_col is in_cols[0].
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                for tup in pdf[in_cols].itertuples(index=False, name=None):
                    se = asg.assign_slice_end(to_ms(tup[0]))
                    if late_wm >= asg.last_window_end(se) - 1:
                        continue  # late: every window containing it fired
                    if kind == "cumulate" and late_wm >= se - 1:
                        se = asg.group_start(se) + asg.step  # merge target
                    acc = slices.get(se)
                    if acc is None:
                        acc = slices[se] = Accumulator(nspecs)
                    acc.add(plan, tup)

        if input_attributed:
            # window-attributed input (e.g. a cascade over an upstream
            # window agg's emissions): records precede the watermark
            # that fired them — Flink forwards outputs before the
            # watermark — so accumulate first, judging lateness against
            # the PREVIOUS settled watermark, then fire at this one.
            accumulate(-1 if settled_wm is None else settled_wm)
            fire()
        else:
            # source-fed: fire before accumulating — the reference's
            # timers run on watermark advance before the next elements
            # are seen, so a row landing in a window firing at this
            # very watermark is observed late, not folded in.
            fire()
            accumulate(wm)
        settled_wm = wm if settled_wm is None else max(settled_wm, wm)

        if slices:
            state.update((pickle.dumps((slices, settled_wm)),))
            nxt = min(
                (
                    e
                    for se in slices
                    for e in asg.candidate_ends(se)
                    if e - 1 > settled_wm
                ),
                default=None,
            )
            if nxt is not None:
                state.setTimeoutTimestamp(nxt - 2)  # fires at wm >= nxt - 1
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="blob BINARY",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
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
    WindowJoinOperator state bound.
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

    key_fields = [left.schema[k] for k in keys]
    win_fields = [
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
    ]
    if emit_window_time:
        win_fields.append(StructField("window_time", TimestampType()))
    l_fields = [left.schema[c] for c in lpay]
    r_fields = [right.schema[c] for c in rpay]
    semi_like = join_type in ("semi", "anti", "anti_null_aware")
    out_schema = StructType(
        [*key_fields, *win_fields, *l_fields, *([] if semi_like else r_fields)]
    )
    out_cols = [f.name for f in out_schema.fields]

    l_nulls = [None] * len(lpay)
    r_nulls = [None] * len(rpay)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            wins, settled_wm = pickle.loads(state.get[0])
        else:
            wins, settled_wm = {}, None
        out: list[tuple] = []
        matched_key = null_safe or all(k is not None for k in key)

        def accumulate() -> None:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # positional itertuples: no per-row dict allocation in
                # the buffering hot loop (same treatment as the TVF agg)
                col_pos = {c: j for j, c in enumerate(pdf.columns)}
                side_pos = col_pos["__side"]
                lpos = [col_pos[c] for c in lpay]
                rpos = [col_pos[c] for c in rpay]
                if input_attributed:
                    ws_pos, we_pos = col_pos["window_start"], col_pos["window_end"]
                else:
                    ts_pos = col_pos[ts_col]
                for tup in pdf.itertuples(index=False, name=None):
                    if input_attributed:
                        e = to_ms(tup[we_pos])
                        if settled_wm is not None and settled_wm >= e - 1:
                            continue
                        ends = [(e, to_ms(tup[ws_pos]))]
                    else:
                        se = asg.assign_slice_end(to_ms(tup[ts_pos]))
                        if wm >= asg.last_window_end(se) - 1:
                            continue
                        ends = [
                            (e, asg.window_starts(e))
                            for e in asg.candidate_ends(se)
                            if wm < e - 1
                        ]
                    side = 0 if tup[side_pos] == "L" else 1
                    vals = tuple(tup[p] for p in (lpos if side == 0 else rpos))
                    for e, ws in ends:
                        buf = wins.setdefault(e, (ws, [], []))
                        buf[1 + side].append(vals)

        def fire() -> None:
            ready = sorted(
                e
                for e in wins
                if wm >= e - 1 and (settled_wm is None or e - 1 > settled_wm)
            )
            for e in ready:
                ws, lrows, rrows = wins.pop(e)
                wt = (to_ts(e - 1),) if emit_window_time else ()
                head = (*key, to_ts(ws), to_ts(e), *wt)
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
                    out.extend(
                        (*head, *lr, *rr) for lr in lrows for rr in rrows
                    )
                else:
                    if join_type in ("left", "full") and lrows:
                        out.extend((*head, *lr, *r_nulls) for lr in lrows)
                    if join_type in ("right", "full") and rrows:
                        out.extend((*head, *l_nulls, *rr) for rr in rrows)

        if input_attributed:
            accumulate()
            fire()
        else:
            fire()
            accumulate()
        settled_wm = wm if settled_wm is None else max(settled_wm, wm)

        if wins:
            state.update((pickle.dumps((wins, settled_wm)),))
            nxt = min((e for e in wins if e - 1 > settled_wm), default=None)
            if nxt is not None:
                state.setTimeoutTimestamp(nxt - 2)  # fires at wm >= nxt - 1
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return unioned.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="blob BINARY",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


class _Rev:
    """Descending wrapper for mixed-type sort keys (stable sort keeps
    arrival order on ties — the reference's TopN keeps the earlier row
    on equal sort key, pinned by WindowRankITCase's tie expectations)."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v


def _sort_key(order):
    def key(row):
        return tuple(_Rev(row[c]) if desc else row[c] for c, desc in order)

    return key


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
    windows x rank_end); windows retire at fire. One hash exchange on
    the key columns.
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
    win_fields = [
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
    ]
    if emit_window_time:
        win_fields.append(StructField("window_time", TimestampType()))
    extra = [StructField("rownum", LongType())] if emit_rownum else []
    out_schema = StructType([*key_fields, *in_fields, *win_fields, *extra])
    out_cols = [f.name for f in out_schema.fields]
    in_names = [f.name for f in in_fields]
    # buffered rows are positional tuples over exactly the columns the
    # operator reads (no per-row dict allocation/copy in the hot loop;
    # key columns are NOT assumed present on input rows — the previous
    # dict form never read them either)
    if input_attributed:
        buf_cols = list(
            dict.fromkeys(
                ["window_start", "window_end", *in_names, *(c for c, _ in order)]
            )
        )
    else:
        buf_cols = list(
            dict.fromkeys([ts_col, *in_names, *(c for c, _ in order)])
        )
    pos = {c: i for i, c in enumerate(buf_cols)}
    skey = _sort_key([(pos[c], desc) for c, desc in order])
    in_pos = [pos[c] for c in in_names]
    ws_pos = pos.get("window_start")

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            wins, settled_wm = pickle.loads(state.get[0])
        else:
            wins, settled_wm = {}, None
        out: list[tuple] = []

        def accumulate() -> None:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                # positional itertuples over the needed columns only:
                # no per-row dict allocation + copy in the hot loop
                it = pdf[buf_cols].itertuples(index=False, name=None)
                if input_attributed:
                    we_pos = pos["window_end"]
                else:
                    ts_pos = pos[ts_col]
                for tup in it:
                    if input_attributed:
                        e = to_ms(tup[we_pos])
                        # fired in an EARLIER batch -> late; same-batch
                        # firings still accept (records precede the wm)
                        if settled_wm is not None and settled_wm >= e - 1:
                            continue
                        ends = [e]
                    else:
                        se = asg.assign_slice_end(to_ms(tup[ts_pos]))
                        if wm >= asg.last_window_end(se) - 1:
                            continue  # every window containing it fired
                        ends = [e for e in asg.candidate_ends(se) if wm < e - 1]
                    for e in ends:
                        buf = wins.setdefault(e, [])
                        buf.append(tup)
                        if len(buf) > rank_end:
                            buf.sort(key=skey)
                            del buf[rank_end:]

        def fire() -> None:
            ready = sorted(
                e
                for e in wins
                if wm >= e - 1 and (settled_wm is None or e - 1 > settled_wm)
            )
            for e in ready:
                buf = sorted(wins.pop(e), key=skey)
                if input_attributed:
                    ws = to_ms(buf[0][ws_pos])
                else:
                    ws = asg.window_starts(e)
                for rank, row in enumerate(buf, start=1):
                    if rank < rank_start or rank > rank_end:
                        continue
                    vals = [*key, *(row[p] for p in in_pos), to_ts(ws), to_ts(e)]
                    if emit_window_time:
                        vals.append(to_ts(e - 1))
                    if emit_rownum:
                        vals.append(rank)
                    out.append(tuple(vals))

        if input_attributed:
            accumulate()
            fire()
        else:
            fire()
            accumulate()
        settled_wm = wm if settled_wm is None else max(settled_wm, wm)

        if wins:
            state.update((pickle.dumps((wins, settled_wm)),))
            nxt = min((e for e in wins if e - 1 > settled_wm), default=None)
            if nxt is not None:
                state.setTimeoutTimestamp(nxt - 2)  # fires at wm >= nxt - 1
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="blob BINARY",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
