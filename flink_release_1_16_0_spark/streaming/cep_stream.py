"""Streaming CEP: pattern matching with WITHIN over a watermarked stream.

Reference: the CEP NFA is a *streaming* keyed operator
(flink-libraries/flink-cep/.../operator/CepOperator.java:82): events
buffer in keyed state ordered by event time; as the watermark advances,
the settled prefix runs through the NFA and completed matches emit.
The WITHIN bound (Pattern.within — the NFA's timeout pruning) is what
makes emission *final* under out-of-order arrival: a match anchored at
ts0 can only use rows with ts < ts0 + within ("left" boundary, the
NFA's ``ts - start >= within`` timeout), and every such row is settled
once watermark >= ts0 + within (later arrivals below the watermark are
late and dropped). So emitting at that point is deterministic, and the
bounded-replay result equals the batch regex tier (operators/cep.py)
restricted to finalizable starts.

State per key stays O(rows inside the WITHIN horizon) — the same
pruning bound the reference claims for its NFA state — because an
unconsumed settled row r with ``r.ts + within <= watermark`` can never
join a future match: any match containing r anchors at some q <= r
with ``q.ts <= r.ts``, whose whole within-window is already settled,
so the current scan already decided it (and failed). Such rows are
discarded each trigger.

Scale shape: one shuffle on the key (the applyInPandasWithState
exchange); per-key work is linear in buffered rows per trigger. Same
cost model as CepOperator's keyed NFA state.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    _parse_datatype_string,
)

from flink_release_1_16_0_spark.streaming.event_buffer import py_values
from flink_release_1_16_0_spark.streaming.window_tvf import to_ms


def streaming_cep_within(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    sym_col: str,
    pattern: str,
    within_ms: int,
    measures: dict[str, tuple[str, str, str, str]] | None = None,
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    all_rows: bool = False,
    skip: str = "past_last_row",
) -> DataFrame:
    """Streaming regex-tier CEP with a WITHIN finalization bound.

    ``stream`` must be watermarked on ``ts_col`` and carry a 1-char
    symbol column (``operators.cep.classify``). Matches are
    leftmost-greedy, AFTER MATCH SKIP PAST LAST ROW; ``match_no`` is a
    stable per-key counter carried in state. A match emits — and is
    final — as soon as the watermark passes ``start_ts + within_ms``.

    Without ``measures``, emits (keys..., match_no, start_id, end_id,
    n_rows) — the batch ``match_regex_pattern`` shape. With
    ``measures`` (alias -> (group, agg, column, spark_type), the
    ``match_regex_measures`` MEASURES surface), pattern variables are
    regex named groups and each measure aggregates that variable's
    rows; ``value_cols`` are carried through keyed state for the
    aggregates, ``grid_scale`` makes SUM exact on a decimal grid.
    ``all_rows=True`` adds the ALL ROWS PER MATCH streaming tier
    (``match_regex_all_rows`` dual): one output row per matched EVENT
    — keys, the row's own (ts, id, value_cols), match_no, classifier,
    then each measure with RUNNING semantics (the variable's rows up
    to and including the current row).

    Rows the final watermark never finalizes stay buffered (bounded
    replay: the oracle cutoff is ``start_ts + within <= max(ts) -
    delay``).

    ``skip`` selects the AFTER MATCH strategy: ``"past_last_row"``
    (default, non-overlapping) or ``"to_next_row"`` (overlapping — the
    scan resumes one row after the emitted anchor; retirement is safe
    because ``consumed`` only ever advances past anchors whose WITHIN
    horizon the watermark already closed, so their verdicts were final,
    and regex matches only bind rows at or after their anchor).
    """
    if skip not in ("past_last_row", "to_next_row"):
        raise ValueError(
            f"streaming CEP supports past_last_row / to_next_row, got {skip!r}"
        )
    from flink_release_1_16_0_spark.operators.cep import _AGGS, _measure_value

    if measures:
        for alias, (_var, agg, _col, _t) in measures.items():
            if agg not in _AGGS:
                raise ValueError(f"{alias}: unsupported agg {agg}")
    rx = re.compile(pattern)
    tagged = stream.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(sym_col).alias("__sym"),
        *value_cols,
    )
    if all_rows and not measures:
        raise ValueError("all_rows=True requires measures")
    key_fields = [tagged.schema[k] for k in keys]
    if all_rows:
        m_fields = [
            StructField(a, _parse_datatype_string(t))
            for a, (_v, _g, _c, t) in measures.items()
        ]
        row_fields = [
            StructField(ts_col, tagged.schema["__ts"].dataType),
            StructField(id_col, tagged.schema["__id"].dataType),
            *[tagged.schema[c] for c in value_cols],
        ]
        out_schema = StructType(
            [
                *key_fields,
                *row_fields,
                StructField("match_no", IntegerType()),
                StructField("classifier", StringType()),
                *m_fields,
            ]
        )
        out_cols = [
            *keys, ts_col, id_col, *value_cols, "match_no", "classifier", *measures
        ]
    elif measures:
        m_fields = [
            StructField(a, _parse_datatype_string(t))
            for a, (_v, _g, _c, t) in measures.items()
        ]
        out_schema = StructType(
            [*key_fields, StructField("match_no", IntegerType()), *m_fields]
        )
        out_cols = [*keys, "match_no", *measures]
    else:
        out_schema = StructType(
            [
                *key_fields,
                StructField("match_no", IntegerType()),
                StructField("start_id", LongType()),
                StructField("end_id", LongType()),
                StructField("n_rows", IntegerType()),
            ]
        )
        out_cols = [*keys, "match_no", "start_id", "end_id", "n_rows"]
    val_fields = [tagged.schema[c] for c in value_cols]
    row_schema = StructType(
        [
            StructField("__ts", TimestampType()),
            StructField("__id", LongType()),
            StructField("__sym", StringType()),
            *val_fields,
        ]
    )
    state_schema = StructType(
        [
            StructField("pending", ArrayType(row_schema)),
            StructField("match_no", LongType()),
        ]
    )
    slice_cols = ["__ts", "__id", "__sym", *value_cols]

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            raw, match_no = state.get
            pending = [
                (pd.Timestamp(p[0]), int(p[1]), p[2], *p[3:]) for p in (raw or [])
            ]
        else:
            pending, match_no = [], 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vals = [py_values(pdf[f.name], f.dataType) for f in val_fields]
            for t, i, sym, *vs in zip(pdf["__ts"], pdf["__id"], pdf["__sym"], *vals):
                if to_ms(t) <= wm:
                    continue  # late beyond the watermark: dropped
                pending.append((pd.Timestamp(t), int(i), str(sym), *vs))
        settled = sorted(
            (p for p in pending if to_ms(p[0]) <= wm), key=lambda p: (p[0].value, p[1])
        )
        unsettled = [p for p in pending if to_ms(p[0]) > wm]

        sym = "".join(p[2] for p in settled)
        ts_ns = np.array([p[0].value for p in settled], dtype="int64")
        bound_ns = within_ms * 1_000_000
        out: list[tuple] = []
        s = consumed = 0
        while s < len(sym):
            # rows strictly inside the window can extend the match
            # (boundary excluded — the NFA's ts - start >= within
            # timeout), endpos-truncated so no string copy
            e_max = int(ts_ns.searchsorted(ts_ns[s] + bound_ns, "left"))
            m = rx.match(sym, s, e_max)
            if m and m.end() > m.start():
                if to_ms(settled[s][0]) + within_ms <= wm:
                    if all_rows:
                        sdf = pd.DataFrame(
                            settled[m.start() : m.end()], columns=slice_cols
                        )
                        spans = {
                            v: (m.span(v)[0] - m.start(), m.span(v)[1] - m.start())
                            for v in m.re.groupindex
                        }
                        for r in range(len(sdf)):
                            row = sdf.iloc[r]
                            classifier = next(
                                (v for v, (a, b) in spans.items() if a <= r < b),
                                None,
                            )
                            vals = []
                            for _alias, (var, agg, col, _t) in measures.items():
                                a, b = spans.get(var, (-1, -1))
                                hi = min(r + 1, b)
                                sl = (
                                    sdf.iloc[a:hi]
                                    if 0 <= a < hi
                                    else sdf.iloc[0:0]
                                )
                                vals.append(
                                    _measure_value(sl, agg, col_name(col), grid_scale)
                                )
                            out.append(
                                (
                                    *key,
                                    row["__ts"],
                                    row["__id"],
                                    *[row[c] for c in value_cols],
                                    int(match_no),
                                    classifier,
                                    *vals,
                                )
                            )
                    elif measures:
                        sdf = pd.DataFrame(
                            settled[m.start() : m.end()], columns=slice_cols
                        )
                        vals = []
                        for _alias, (var, agg, col, _t) in measures.items():
                            vs, ve = m.span(var)
                            sl = sdf.iloc[vs - m.start() : ve - m.start()]
                            vals.append(
                                _measure_value(sl, agg, col_name(col), grid_scale)
                            )
                        out.append((*key, int(match_no), *vals))
                    else:
                        out.append(
                            (
                                *key,
                                int(match_no),
                                settled[m.start()][1],
                                settled[m.end() - 1][1],
                                m.end() - m.start(),
                            )
                        )
                    match_no += 1
                    if skip == "to_next_row":
                        s += 1
                        consumed = s
                    else:
                        consumed = s = m.end()
                else:
                    # anchors are time-ordered: once one start is not
                    # finalizable, no later start is either
                    break
            else:
                s += 1
        # retire unconsumed settled rows outside the WITHIN horizon:
        # provably unreachable by any future match (module docstring)
        retained = [
            p for p in settled[consumed:] if to_ms(p[0]) + within_ms > wm
        ] + unsettled
        state.update((retained, int(match_no)))
        if retained:
            # re-evaluate on every watermark advance
            state.setTimeoutTimestamp(wm + 1)
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return tagged.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_cep_nfa_within(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    measures: dict[str, tuple[str, str, str, str]],
    within_ms: int,
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    emit_timeouts: bool = False,
) -> DataFrame:
    """Streaming NFA-tier CEP: cross-variable DEFINE predicates over a
    watermarked stream with a WITHIN finalization bound — the
    IterativeCondition case of CepOperator.java:82, which is how the
    reference's CEP is normally used (conditions reading the partial
    match's bound rows), on top of this module's keyed-horizon pattern.

    Same finalization/retirement argument as the regex tier above: a
    match anchored at ts0 can only bind rows with ts < ts0 + within
    (nfa_try_match's deadline pruning), every such row is settled once
    watermark >= ms(ts0) + within, and greedy backtracking over a
    settled prefix is deterministic — so emission is final, matches are
    leftmost non-overlapping (AFTER MATCH SKIP PAST LAST ROW), and
    unconsumed settled rows outside the WITHIN horizon retire, keeping
    state O(rows inside the horizon) per key. ``steps`` / ``defines`` /
    ``measures`` are exactly the batch ``operators.cep.match_nfa``
    surface; the bounded-replay result equals match_nfa restricted to
    finalizable starts.

    ``emit_timeouts`` is the TimedOutPartialMatchHandler surface
    (CepOperator.java's timeout path; PatternStream.select's timeout
    variant): the output gains a ``timed_out BOOLEAN`` column, and an
    anchor whose WITHIN horizon expires with a started-but-incomplete
    partial match emits its measures over the partially-bound rows with
    ``timed_out = true`` (``match_no`` shared with the main sequence) —
    instead of the partial silently vanishing. Exactly-once per anchor:
    the expired anchor row retires from state in the same batch.
    """
    from flink_release_1_16_0_spark.operators.cep import (
        _AGGS,
        _measure_value,
        nfa_longest_partial,
        nfa_try_match,
    )

    for alias, (_var, agg, _col, _t) in measures.items():
        if agg not in _AGGS:
            raise ValueError(f"{alias}: unsupported agg {agg}")
    tagged = stream.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
    )
    key_fields = [tagged.schema[k] for k in keys]
    m_fields = [
        StructField(a, _parse_datatype_string(t))
        for a, (_v, _g, _c, t) in measures.items()
    ]
    out_schema = StructType(
        [*key_fields, StructField("match_no", IntegerType()), *m_fields]
        + ([StructField("timed_out", BooleanType())] if emit_timeouts else [])
    )
    out_cols = [*keys, "match_no", *measures] + (
        ["timed_out"] if emit_timeouts else []
    )
    val_fields = [tagged.schema[c] for c in value_cols]
    row_schema = StructType(
        [
            StructField("__ts", TimestampType()),
            StructField("__id", LongType()),
            *val_fields,
        ]
    )
    state_schema = StructType(
        [
            StructField("pending", ArrayType(row_schema)),
            StructField("match_no", LongType()),
        ]
    )
    slice_cols = ["__ts", "__id", *value_cols]

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            raw, match_no = state.get
            pending = [
                (pd.Timestamp(p[0]), int(p[1]), *p[2:]) for p in (raw or [])
            ]
        else:
            pending, match_no = [], 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            vals = [py_values(pdf[f.name], f.dataType) for f in val_fields]
            for t, i, *vs in zip(pdf["__ts"], pdf["__id"], *vals):
                if to_ms(t) <= wm:
                    continue  # late beyond the watermark: dropped
                pending.append((pd.Timestamp(t), int(i), *vs))
        settled = sorted(
            (p for p in pending if to_ms(p[0]) <= wm), key=lambda p: (p[0].value, p[1])
        )
        unsettled = [p for p in pending if to_ms(p[0]) > wm]
        rows = [dict(zip(slice_cols, p)) for p in settled]
        pdf_all = pd.DataFrame(settled, columns=slice_cols)
        out: list[tuple] = []

        def measure_row(bound: dict, timed_out: bool) -> tuple:
            vals = []
            for _alias, (var, agg, col, _t) in measures.items():
                idxs = bound.get(var, [])
                vals.append(
                    _measure_value(
                        pdf_all.iloc[idxs], agg, col_name(col), grid_scale
                    )
                )
            if emit_timeouts:
                return (*key, int(match_no), *vals, timed_out)
            return (*key, int(match_no), *vals)

        s = consumed = 0
        while s < len(rows):
            res = nfa_try_match(rows, s, steps, defines, within_ms)
            if res is not None and res[0] > s:
                if to_ms(rows[s]["__ts"]) + within_ms <= wm:
                    end, bound = res
                    out.append(measure_row(bound, False))
                    match_no += 1
                    consumed = s = end
                else:
                    # anchors are time-ordered: once one start is not
                    # finalizable, no later start is either
                    break
            else:
                if emit_timeouts and to_ms(rows[s]["__ts"]) + within_ms <= wm:
                    # expired unmatched anchor: its greedy principal
                    # partial times out NOW (the row retires from state
                    # this batch, so this fires exactly once per anchor)
                    partial = nfa_longest_partial(
                        rows, s, steps, defines, within_ms
                    )
                    if partial is not None:
                        out.append(measure_row(partial, True))
                        match_no += 1
                s += 1
        retained = [
            p for p in settled[consumed:] if to_ms(p[0]) + within_ms > wm
        ] + unsettled
        state.update((retained, int(match_no)))
        if retained:
            state.setTimeoutTimestamp(wm + 1)
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return tagged.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
