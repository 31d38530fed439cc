"""MATCH_RECOGNIZE-lite: sequence pattern matching over keyed streams.

Reference: StreamExecMatch.java:59 driving the CEP NFA
(flink-libraries/flink-cep/.../operator/CepOperator.java:82,
nfa/NFA.java — SURVEY.md section 2.9). Two tiers here:

- **fixed-length patterns** (A then B then C on consecutive rows):
  pure window functions — LEAD the symbol k-1 times and filter. This is
  how the batch planner would lower a quantifier-free pattern; stays
  fully in Catalyst/WSCG and scales as one window scan per key.
- **regex patterns with quantifiers** (A+ B? C): per-key symbol string
  + Python regex over match spans inside applyInPandas — the NFA
  equivalent for bounded keys. Partitioned by key: state is one
  document per key, the 100 TB behavior matches CepOperator's keyed
  NFA state.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flink_release_1_16_0_spark.operators.grouped import grouped_apply


def classify(symbol_exprs: dict[str, Column], default: str = "-") -> Column:
    """Map each row to a 1-char pattern symbol (first matching wins)."""
    expr = F.lit(default)
    for sym, cond in reversed(list(symbol_exprs.items())):
        if len(sym) != 1:
            raise ValueError("symbols must be single characters")
        expr = F.when(cond, F.lit(sym)).otherwise(expr)
    return expr


def _apply_per_key(df: DataFrame, keys: Sequence[str], fn, schema: str) -> DataFrame:
    """``groupBy(keys).applyInPandas(fn, schema)`` with the per-key
    Python invocation amortized: lowered through
    ``operators.grouped.grouped_apply`` (one shuffle on ``keys`` + a
    mapInPandas group walk). ``applyInPandas`` calls the Python worker
    once PER KEY — ~4 ms of Arrow+invoke overhead each, measured to
    dominate many-small-keys CEP inputs (sf0.1 events: 1500 user
    groups cost ~6 s of pure per-group floor vs ~0.9 s walked inside
    batches; a trivial fn times 5.1/0.9/0.6 s at 1500/64/8 groups).
    ``fn`` keeps the exact applyInPandas contract: it receives one
    key's rows, key columns included, and returns a result frame."""
    return grouped_apply(df, list(keys), lambda _key, g: fn(g), StructType.fromDDL(schema))


def match_fixed_pattern(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    symbol: Column,
    pattern: str,
) -> DataFrame:
    """Rows starting a consecutive-row match of `pattern` (no
    quantifiers). Adds `__sym{i}` symbol lookahead columns and filters;
    returns the first row of each match."""
    if not re.fullmatch(r"[A-Za-z]+", pattern):
        raise ValueError("fixed pattern must be plain symbols")
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("__sym", symbol)
    # project the lookahead symbols first: window functions are not
    # allowed directly inside a filter
    lead_cols = [
        F.lead("__sym", i).over(w).alias(f"__sym{i}")
        for i in range(1, len(pattern))
    ]
    out = out.select("*", *lead_cols)
    cond = F.col("__sym") == pattern[0]
    for i, ch in enumerate(pattern[1:], start=1):
        cond = cond & (F.col(f"__sym{i}") == ch)
    drop = ["__sym"] + [f"__sym{i}" for i in range(1, len(pattern))]
    return out.filter(cond).drop(*drop)


def match_regex_pattern(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    within_ms: int | None = None,
    skip: str = "past_last_row",
) -> DataFrame:
    """Regex pattern matching per key (the NFA tier).

    Emits one row per match: (keys..., match_no, start_id, end_id,
    n_rows). Rows are ordered by (ts, id) within the key; matches are
    leftmost-greedy.

    ``skip`` selects the AFTER MATCH strategy
    (AfterMatchSkipStrategy, flink-cep; MATCH_RECOGNIZE AFTER MATCH
    SKIP ...): ``'past_last_row'`` (the default — non-overlapping,
    resume after the match) or ``'to_next_row'`` (resume one row after
    the match's START, so overlapping matches from later rows are also
    reported).

    ``within_ms`` implements the MATCH_RECOGNIZE ``WITHIN`` clause
    (Pattern.within, flink-cep NFA time-out pruning): a match must
    complete within the interval measured from its FIRST row. Emulated
    by truncating the anchored-match window to the rows inside the
    interval — exactly "greedy among the assignments that fit", which
    is what the NFA's branch pruning converges to. A start whose
    greedy match times out does not kill later, shorter starts (the
    anchored scan advances one row and retries, mirroring the NFA
    starting a fresh partial match at every event).
    """
    tagged = df.select(*keys, F.col(ts_col).alias("__ts"), F.col(id_col).alias("__id"), symbol.alias("__sym"))
    out_fields = ", ".join(f"{k} {dict(tagged.dtypes)[k]}" for k in keys)
    schema = (
        f"{out_fields}, match_no int, start_id long, end_id long, n_rows int"
    )
    rx = re.compile(pattern)
    _check_skip(skip)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__ts", "__id"], kind="mergesort")
        sym = "".join(pdf["__sym"].tolist())
        ids = pdf["__id"].tolist()
        rows = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        for m_no, m in enumerate(
            _scan_matches(rx, sym, pdf["__ts"], within_ms, skip)
        ):
            ms, me = m.start(), m.end()
            rows.append((*keyvals, m_no, ids[ms], ids[me - 1], me - ms))
        return pd.DataFrame(
            rows, columns=[*keys, "match_no", "start_id", "end_id", "n_rows"]
        )

    return _apply_per_key(tagged, keys, fn, schema)


def _check_skip(skip) -> None:
    if isinstance(skip, tuple):
        if len(skip) != 2 or skip[0] not in ("to_first", "to_last"):
            raise ValueError(f"unsupported AFTER MATCH skip strategy {skip!r}")
    elif skip not in ("past_last_row", "to_next_row"):
        raise ValueError(f"unsupported AFTER MATCH skip strategy {skip!r}")


def _scan_matches(rx, sym, ts_series, within_ms, skip="past_last_row"):
    """Anchored leftmost-greedy match scan shared by the regex tiers.

    Yields re.Match objects (spans index into the full symbol string).
    ``within_ms`` truncates each anchored attempt's window to the rows
    inside the WITHIN interval from the start row (NFA timeout pruning);
    ``skip`` selects the AFTER MATCH strategy
    (AfterMatchSkipStrategy): ``"past_last_row"`` (default),
    ``"to_next_row"``, or ``("to_first"|"to_last", var)`` — resume at
    the first/last row the named pattern variable matched. Resuming at
    (or before) the match's own start would loop forever; the reference
    throws FlinkRuntimeException there, mirrored here.
    """
    if within_ms is None:
        ts_ns = bound_ns = None
    else:
        # normalize to int64 ns regardless of pandas unit/tz flavor
        ts_ns = ts_series.to_numpy(dtype="datetime64[ns]").astype("int64")
        bound_ns = within_ms * 1_000_000

    s = 0
    while s < len(sym):
        if ts_ns is None:
            m = rx.match(sym, s)
        else:
            # rows strictly inside the window: Flink's NFA times a
            # partial match out when ts - start >= within, so the row AT
            # the boundary is excluded ("left"); endpos truncates the
            # match window without copying the symbol string
            e_max = int(ts_ns.searchsorted(ts_ns[s] + bound_ns, "left"))
            m = rx.match(sym, s, e_max)
        if m and m.end() > m.start():
            yield m
            if skip == "past_last_row":
                s = m.end()
            elif skip == "to_next_row":
                s = s + 1
            else:
                mode, var = skip
                vs, ve = m.span(var)
                target = vs if mode == "to_first" else ve - 1
                if vs < 0 or target <= m.start():
                    # unbound variable, or resuming at/before the start
                    # of the match it came from -> infinite loop
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode} {var!r} would not "
                        "advance past the match start (the reference "
                        "raises here too)"
                    )
                s = target
        else:
            s += 1


# ---------------------------------------------------------------------------
# MEASURES (per pattern variable) and DEFINE (cross-variable predicates)
# ---------------------------------------------------------------------------

_AGGS = ("first", "last", "sum", "count", "min", "max", "avg")


def _sort_spec(order_spec):
    """(columns, ascending-flags) for the per-key sort; order_spec is
    the ORDER BY tail as (internal col, asc) pairs, default
    (__ts, __id) ascending."""
    spec = list(order_spec) if order_spec else [("__ts", True), ("__id", True)]
    return [c for c, _ in spec], [a for _, a in spec]


def _check_agg(alias: str, agg: str) -> None:
    base = agg.split(":", 1)[0]
    if base not in _AGGS:
        raise ValueError(f"{alias}: unsupported agg {agg}")
    if ":" in agg and base not in ("first", "last"):
        raise ValueError(f"{alias}: logical offset only on FIRST/LAST, got {agg}")


def _measure_value(slice_df: pd.DataFrame, agg: str, col: str, grid_scale):
    """One MEASURES value over a variable's matched rows. ``agg`` may
    carry a logical offset as ``first:N`` / ``last:N`` (SQL
    ``FIRST(V.col, N)`` navigation — MatchCodeGenerator's
    LogicalNavigation); out-of-range offsets are NULL, the reference's
    behavior. ``col == "*"`` with count is ``COUNT(*)`` (all rows);
    otherwise COUNT skips NULLs per SQL."""
    agg, _, off = agg.partition(":")
    offset = int(off) if off else 0
    if agg == "count":
        # COUNT over an unbound variable is 0, not NULL
        if col == "*":
            return len(slice_df)
        return int(slice_df[col].notna().sum()) if len(slice_df) else 0
    if len(slice_df) == 0:
        return None
    if agg == "first":
        return slice_df.iloc[offset][col] if offset < len(slice_df) else None
    if agg == "last":
        return (
            slice_df.iloc[-1 - offset][col] if offset < len(slice_df) else None
        )
    if agg == "sum":
        if slice_df[col].isna().all():
            return None  # SQL SUM over all-NULL is NULL
        if grid_scale is not None:
            # exact grid arithmetic (same device as the streaming
            # over-agg): sum integer grid units, never accumulate floats
            q = 10 ** grid_scale
            return float((slice_df[col] * q).round().astype("int64").sum()) / q
        return slice_df[col].sum()
    if agg == "avg":
        return None if slice_df[col].isna().all() else slice_df[col].mean()
    if agg == "min":
        return slice_df[col].min()
    if agg == "max":
        return slice_df[col].max()
    raise ValueError(f"unsupported agg {agg} (one of {_AGGS})")


def match_regex_measures(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """Regex-tier pattern matching with per-variable MEASURES
    (StreamExecMatch.java MEASURES clause; MATCH_RECOGNIZE
    FIRST/LAST/SUM/COUNT/MIN/MAX/AVG over a pattern variable's rows,
    with logical offsets ``first:N``/``last:N`` and the universal
    variable ``"*"`` = the whole match).

    Pattern variables are regex *named groups* — quantifiers go inside
    the group (``(?P<C>c+)(?P<P>p)``), so each group's span covers the
    variable's full matched run. ``measures`` maps output alias ->
    (group, agg, column, spark_type); ``column`` must be ``ts_col``,
    ``id_col`` or listed in ``value_cols``. ``grid_scale`` makes SUM
    exact on a fixed decimal grid (events.value is scale 2) so results
    are engine-portable. ``order_spec`` generalizes the sort to the SQL
    ORDER BY list as (internal column, ascending) pairs (the
    reference's RowtimeComparator + secondary orders); default
    (__ts, __id) ascending. Matches are leftmost, non-overlapping
    (AFTER MATCH SKIP PAST LAST ROW). One shuffle on the key; per-key
    work is linear in rows, the CepOperator cost model.
    """
    _check_skip(skip)
    for alias, (var, agg, col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
        symbol.alias("__sym"),
    )
    key_types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {key_types[k]}" for k in keys)
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    schema = f"{out_fields}, match_no int, {m_fields}"
    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        sym = "".join(pdf["__sym"].tolist())
        rows = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        rx = re.compile(pattern)
        for m_no, m in enumerate(
            _scan_matches(rx, sym, pdf["__ts"], within_ms, skip)
        ):
            vals = []
            for _alias, (var, agg, col, _t) in measures.items():
                s, e = m.span(0) if var == "*" else m.span(var)
                vals.append(
                    _measure_value(
                        pdf.iloc[s:e],
                        agg,
                        col if col == "*" else col_name(col),
                        grid_scale,
                    )
                )
            rows.append((*keyvals, m_no, *vals))
        return pd.DataFrame(rows, columns=[*keys, "match_no", *measures])

    return _apply_per_key(tagged, keys, fn, schema)


def match_regex_all_rows(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """ALL ROWS PER MATCH tier: one output row per matched EVENT with
    RUNNING measure semantics (CepOperator.java:82 emitting per-row,
    MatchCodeGenerator.scala's runtime-RUNNING evaluation; SQL-standard
    ALL ROWS PER MATCH).

    Output per matched row: keys, the row's own (ts, id, value_cols),
    ``match_no`` (0-based per key), ``classifier`` (the pattern variable
    the row is bound to — CLASSIFIER()), then each measure evaluated
    over the variable's rows *up to and including the current row*:
    COUNT counts the variable's rows seen so far (0 before its first),
    FIRST/LAST/SUM/MIN/MAX over that running slice (NULL while empty).
    Matches are leftmost, non-overlapping (AFTER MATCH SKIP PAST LAST
    ROW). Same scale shape as the one-row tier: one shuffle on the key,
    per-key work linear in rows x matched-span length.
    """
    _check_skip(skip)
    for alias, (_var, agg, _col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
        symbol.alias("__sym"),
    )
    types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {types[k]}" for k in keys)
    row_fields = f"{ts_col} {types['__ts']}, {id_col} {types['__id']}"
    for c in value_cols:
        row_fields += f", {c} {types[c]}"
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    schema = (
        f"{out_fields}, {row_fields}, match_no int, classifier string, {m_fields}"
    )

    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        sym = "".join(pdf["__sym"].tolist())
        out = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        m_no = 0
        rx = re.compile(pattern)
        for m in _scan_matches(rx, sym, pdf["__ts"], within_ms, skip):
            spans = {v: m.span(v) for v in m.re.groupindex}
            for r in range(m.start(), m.end()):
                row = pdf.iloc[r]
                classifier = next(
                    (v for v, (s, e) in spans.items() if s <= r < e), None
                )
                vals = []
                for _alias, (var, agg, col, _t) in measures.items():
                    s, e = m.span(0) if var == "*" else m.span(var)
                    hi = min(r + 1, e)
                    sl = pdf.iloc[s:hi] if 0 <= s < hi else pdf.iloc[0:0]
                    vals.append(
                        _measure_value(
                            sl,
                            agg,
                            col if col == "*" else col_name(col),
                            grid_scale,
                        )
                    )
                out.append(
                    (
                        *keyvals,
                        row["__ts"],
                        row["__id"],
                        *[row[c] for c in value_cols],
                        m_no,
                        classifier,
                        *vals,
                    )
                )
            m_no += 1
        return pd.DataFrame(
            out,
            columns=[
                *keys,
                ts_col,
                id_col,
                *value_cols,
                "match_no",
                "classifier",
                *measures,
            ],
        )

    return _apply_per_key(tagged, keys, fn, schema)


def nfa_try_match(
    rows: list,
    start: int,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    within_ms: int | None,
):
    """Backtracking linear-NFA match anchored at ``start``
    (nfa/NFA.java's per-state predicate evaluation over the partial
    match). Quantifiers: ``1 ? + *`` greedy plus the reluctant forms
    ``?? +? *?`` (shortest-first preference — the reference's
    Quantifier without the GREEDY property; CommonExecMatch.java:137
    in fact REQUIRES patterns to end with a simple variable or a
    reluctant quantifier). Returns (end, bindings) or None; bindings:
    var -> list of row indices. ``rows`` are dicts with ``__ts`` plus value columns;
    ``defines[var]`` is ``fn(row, ctx) -> bool``. Shared by the batch
    tier (match_nfa) and the streaming tier
    (streaming/cep_stream.streaming_cep_nfa_within).

    Quantifier ``?e`` is the FLINK-SQL optional: the reference drops
    the greedy property for optionals (CommonExecMatch.applyQuantifier
    — ``greedy && isOptional`` is a no-op), so the optional branches
    both ways and the run reaching the final state EARLIEST emits
    (NFA.java's completed-match handling). A trailing ``D?e`` before
    the last variable therefore binds empty when the match can complete
    without it — pinned by the ported
    MatchRecognizeITCase.testAggregates (countD = 0). Plain ``?`` keeps
    the regex-style greedy-optional binding (this operator's
    Pattern-API facade semantics).
    """
    deadline = (
        None
        if within_ms is None
        else pd.Timestamp(rows[start]["__ts"])
        + pd.Timedelta(milliseconds=within_ms)
    )

    def step(pos: int, si: int, bound: dict):
        if si == len(steps):
            return pos, bound
        var, quant = steps[si]
        pred = defines.get(var)

        # ctx is built ONCE per step invocation (``bound`` is fixed for
        # its duration) and this variable's row list is synced
        # INCREMENTALLY against cur_taken: the previous form rebuilt
        # every bound var's row list on every acceptance test, making a
        # loop quantifier's maximal-run scan O(k^2) in list building.
        # Predicates only read ctx (they receive the same mapping shape
        # as before: every bound var, plus this var including the rows
        # taken earlier in the current run).
        ctx = {v: [rows[j] for j in idxs] for v, idxs in bound.items()}
        own = ctx[var] = list(ctx.get(var, ()))
        n_base = len(own)
        sync = [None, 0]  # identity + length of the last-synced cur_taken

        def accepts(i, cur_taken):
            if i >= len(rows):
                return False
            if deadline is not None and pd.Timestamp(rows[i]["__ts"]) >= deadline:
                # WITHIN timeout: Flink prunes at ts - start >= within,
                # so the boundary row itself cannot extend the match
                return False
            if pred is None:
                return True
            if cur_taken is not sync[0]:
                del own[n_base:]
                own.extend(rows[j] for j in cur_taken)
                sync[0], sync[1] = cur_taken, len(cur_taken)
            elif len(cur_taken) != sync[1]:
                # the loop scan appends to the SAME list one row at a
                # time; cut past its end first so a list shrunk in
                # place leaves no stale rows
                del own[n_base + len(cur_taken):]
                own.extend(rows[j] for j in cur_taken[sync[1]:])
                sync[1] = len(cur_taken)
            return bool(pred(rows[i], ctx))

        if quant in ("1", "?", "??", "?e", "?g"):
            if quant == "??":
                # reluctant optional: prefer skipping (Quantifier
                # GREEDY property absent -> NFACompiler builds the
                # ignore-first branch order)
                r = step(pos, si + 1, bound)
                if r is not None:
                    return r
            if quant == "?g":
                # possessive optional ({n,m} greedy tail: the reference
                # commits greedy consumption and never backtracks)
                if accepts(pos, []):
                    b2 = {**bound, var: bound.get(var, []) + [pos]}
                    return step(pos + 1, si + 1, b2)
                return step(pos, si + 1, bound)
            take = None
            if accepts(pos, []):
                b2 = {**bound, var: bound.get(var, []) + [pos]}
                take = step(pos + 1, si + 1, b2)
                if take is not None and quant != "?e":
                    return take
            if quant == "?":
                return step(pos, si + 1, bound)
            if quant == "?e":
                # Flink-SQL optional: both branches live; the earlier
                # completion emits (tie prefers taking)
                skip = step(pos, si + 1, bound)
                if take is None or (
                    skip is not None and skip[0] < take[0]
                ):
                    return skip
                return take
            return None
        # + / * and their reluctant twins: the maximal run is scanned
        # once (prefix validity is history-consistent), then candidate
        # lengths are tried longest-first (greedy) or shortest-first
        # (reluctant +? / *?). The POSSESSIVE +g / *g forms commit to
        # the maximal run with no shorter retries — the reference's
        # greedy loop (Pattern.greedy(): a run whose continuation fails
        # DIES rather than yielding rows back; pinned by the ported
        # MatchRecognizeITCase.testLogicalOffsets, where rows 1-3 form
        # a valid V-shape only a backtracker would report).
        taken: list[int] = []
        while accepts(pos + len(taken), taken):
            taken.append(pos + len(taken))
        min_n = 1 if quant in ("+", "+?", "+g") else 0
        if quant in ("+g", "*g"):
            if len(taken) < min_n:
                return None
            order = [len(taken)]
        elif quant.endswith("?"):
            order = range(min_n, len(taken) + 1)
        else:
            order = range(len(taken), min_n - 1, -1)
        for n in order:
            bn = {**bound, var: bound.get(var, []) + taken[:n]} if n else bound
            r = step(pos + n, si + 1, bn)
            if r is not None:
                return r
        return None

    return step(start, 0, {})


def _parse_loop_quant(q: str):
    """Parse a loop quantifier into ``(min_n, max_n, reluctant,
    relaxed, combinations)`` or None when ``q`` is not a loop. Grammar
    (superset of :func:`nfa_try_match`'s, for the Pattern-API facade):

    - ``+`` / ``*`` and reluctant ``+?`` / ``*?`` — strict-contiguous
      runs (the MATCH_RECOGNIZE semantics);
    - a trailing ``~`` marks RELAXED internal contiguity (Pattern API
      default for looping patterns, Pattern.java:437 — events not
      matching the loop condition may sit between repetitions; strict
      only via ``consecutive()``);
    - a trailing ``c`` (after ``~``) marks NON-DETERMINISTIC relaxed
      contiguity (Pattern.allowCombinations:452 — matching events may
      be skipped between repetitions too);
    - a trailing ``e`` marks a RELAXED-ENTRY loop (the loop follows a
      FOLLOWED_BY connection): the loop's first repetition may sit past
      non-matching rows, so a zero-repetition branch cannot starve the
      positive branches by short-circuiting the preceding skip step;
    - ``{a,b}`` bounded repetition (Pattern.times(from, to)); ``{a,}``
      unbounded (Pattern.timesOrMore:482).

    Returns ``(min_n, max_n, reluctant, relaxed, combinations,
    relaxed_entry)``.
    """
    entry = ""
    if q.endswith(("e", "a")):
        entry = q[-1]
        q = q[:-1]
    combos = q.endswith("c")
    if combos:
        q = q[:-1]
    relaxed = q.endswith("~")
    if relaxed:
        q = q[:-1]
    relaxed = relaxed or combos
    if q in ("+", "+?"):
        return 1, None, q == "+?", relaxed, combos, entry
    if q in ("*", "*?"):
        return 0, None, q == "*?", relaxed, combos, entry
    m = re.fullmatch(r"\{(\d+),(\d*)\}(\?)?", q)
    if m:
        return (
            int(m.group(1)),
            int(m.group(2)) if m.group(2) else None,
            bool(m.group(3)),
            relaxed,
            combos,
            entry,
        )
    return None


def nfa_all_matches(
    rows: list,
    start: int,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    within_ms: int | None,
    multi_vars: frozenset | set = frozenset(),
    untils: dict | None = None,
    within_type: str = "first",
    stops: dict | None = None,
):
    """Enumerating sibling of :func:`nfa_try_match` for the flink-cep
    Pattern API (NFACompiler's looping states + AfterMatchSkipStrategy.
    noSkip): yields EVERY ``(end, bindings)`` the NFA accepts from the
    anchor, where

    - variables in ``multi_vars`` (the non-greedy looping patterns —
      Flink's default oneOrMore/times(a,b) emit every partial match of
      the loop, Quantifier without the GREEDY property) enumerate all
      viable repetition counts, shortest first;
    - every other step is DETERMINISTIC: choices are tried in
      preference order (greedy longest-first, reluctant
      shortest-first) and the first choice with any full match commits
      — so unnamed relaxed-contiguity skip steps never fork matches.

    Quantifiers additionally support relaxed internal contiguity
    (``+~`` / ``*~`` / ``{a,b}~`` — see :func:`_parse_loop_quant`):
    rows failing the loop predicate are stepped over instead of ending
    the run (matching rows are never skipped — that would be
    Pattern.allowCombinations, which is out of scope).

    ``nfa_try_match`` (used by the SQL MATCH_RECOGNIZE tiers, where
    contiguity is strict by definition) is intentionally untouched —
    ``next(nfa_all_matches(...))`` with no ``multi_vars`` reproduces
    its greedy single match over this grammar.
    """
    deadline = (
        None
        if within_ms is None or within_type != "first"
        else pd.Timestamp(rows[start]["__ts"])
        + pd.Timedelta(milliseconds=within_ms)
    )
    # PREVIOUS_AND_CURRENT (Pattern.within(d, WithinType):266): the
    # bound is the max gap between CONSECUTIVE matched events, not
    # first-to-last — enforced per accepted row in accepts()
    prev_gap_ms = within_ms if within_type == "previous" else None
    untils = untils or {}
    # stops[var]: a notFollowedBy condition guarding var's ENTRY — the
    # relaxed-entry scan may not step over a matching row (the NFA stop
    # state on the ignore edges leading into var's first repetition)
    stops = stops or {}

    def in_window(i: int) -> bool:
        return i < len(rows) and (
            deadline is None or pd.Timestamp(rows[i]["__ts"]) < deadline
        )

    def step(seq, pos: int, si: int, bound: dict, cont):
        # continuation-passing walk: ``seq`` is the (sub-)pattern being
        # matched, ``cont(pos, bound)`` generates completions of the
        # ENCLOSING pattern — group patterns (Pattern.begin(Pattern),
        # Pattern.java:573) recurse by walking the group body with a
        # continuation that matches the next repetition / outer tail
        if si == len(seq):
            yield from cont(pos, bound)
            return
        var, quant = seq[si]
        if isinstance(quant, tuple) and quant[0] == "G":
            yield from group_step(seq, pos, si, bound, cont, quant)
            return
        pred = defines.get(var)

        def _ctx(cur_taken: list) -> dict:
            ctx = {v: [rows[j] for j in idxs] for v, idxs in bound.items()}
            ctx[var] = ctx.get(var, []) + [rows[j] for j in cur_taken]
            return ctx

        def accepts(i: int, cur_taken: list) -> bool:
            if not in_window(i):
                return False
            if prev_gap_ms is not None:
                last = max(
                    (j for idxs in bound.values() for j in idxs),
                    default=max(cur_taken, default=None),
                )
                if cur_taken:
                    last = max(last, cur_taken[-1]) if last is not None else cur_taken[-1]
                if last is not None and (
                    pd.Timestamp(rows[i]["__ts"]) - pd.Timestamp(rows[last]["__ts"])
                ) >= pd.Timedelta(milliseconds=prev_gap_ms):
                    return False
            if pred is None:
                return True
            return bool(pred(rows[i], _ctx(cur_taken)))

        def first_success(choices):
            # deterministic preference order: commit to the first
            # choice whose continuation yields at least one match
            for np, nb in choices:
                hit = False
                for r in step(seq, np, si + 1, nb, cont):
                    hit = True
                    yield r
                if hit:
                    return

        if quant == "!n":
            # notNext (Pattern.notNext:294): the event AT pos must not
            # match; nothing is consumed (NFA stop state)
            if pos < len(rows) and in_window(pos) and accepts(pos, []):
                return
            yield from step(seq, pos, si + 1, bound, cont)
            return
        if quant == "!f":
            # terminal notFollowedBy-with-within (Pattern.notFollowedBy
            # :325, FLINK-23122): the match holds only if NO in-window
            # row from pos on matches the absence condition
            i = pos
            while in_window(i):
                if accepts(i, []):
                    return
                i += 1
            yield from step(seq, pos, si + 1, bound, cont)
            return
        loop = _parse_loop_quant(quant)
        if loop is None:
            base, sfx = quant, ""
            if base.endswith(("e", "a")):
                base, sfx = base[:-1], base[-1]
            stop_pred = stops.get(var)
            if sfx == "a":
                # followedByAny (Pattern.followedByAny:343): EVERY
                # accepting position forks — the NFA's non-deterministic
                # ignore edge that may also skip matching events
                i = pos
                takes = []
                while in_window(i):
                    if stop_pred is not None and stop_pred(rows[i], _ctx([])):
                        break  # stop state: cannot scan past
                    if accepts(i, []):
                        takes.append(
                            (i + 1, {**bound, var: bound.get(var, []) + [i]})
                        )
                    i += 1
                for np, nb in takes:
                    yield from step(seq, np, si + 1, nb, cont)
                if base in ("?", "??"):
                    yield from step(seq, pos, si + 1, bound, cont)
                return
            # eager: relaxed contiguity takes the FIRST accepting row —
            # the NFA ignore edge cannot skip a matching event, so a
            # failed continuation DIES rather than backtracking to a
            # later candidate (GroupITCase.testGroupNotNext pins this)
            i = pos
            take = None
            while in_window(i):
                if accepts(i, []):
                    take = (i + 1, {**bound, var: bound.get(var, []) + [i]})
                    break
                if sfx != "e":
                    break  # strict contiguity: only the row AT pos
                if stop_pred is not None and stop_pred(rows[i], _ctx([])):
                    break  # notFollowedBy gap: a matching row kills
                i += 1
            skip = (pos, bound)
            if base == "1":
                choices = [take] if take else []
            elif base == "?":
                choices = ([take] if take else []) + [skip]
            elif base == "??":
                choices = [skip] + ([take] if take else [])
            else:
                raise ValueError(f"unknown quantifier {quant!r}")
            if var in multi_vars and base in ("?", "??"):
                # a non-greedy OPTIONAL branches like a {0,1} loop under
                # noSkip: both the taken and the skipped continuation
                # emit (the reference docs' {C B} alongside {C A1 B})
                for np, nb in choices:
                    yield from step(seq, np, si + 1, nb, cont)
            else:
                yield from first_success(choices)
            return
        min_n, max_n, reluctant, relaxed, combos, entry = loop
        stop_pred = stops.get(var)
        if entry == "a":
            # followedByAny loop: every viable FIRST-repetition position
            # forks; each candidate runs the count scan anchored there
            # with min >= 1 (the zero-repetition branch emits ONCE below)
            anchored_q = (
                f"{{{max(1, min_n)},{'' if max_n is None else max_n}}}"
                + ("?" if reluctant else "")
                + ("~" if relaxed else "")
                + ("c" if combos else "")
                + "e"
            )
            if min_n == 0:
                yield from step(seq, pos, si + 1, bound, cont)
            i = pos
            while in_window(i):
                if stop_pred is not None and stop_pred(rows[i], _ctx([])):
                    break
                if accepts(i, []):
                    yield from step(
                        [(var, anchored_q), *seq[si + 1 :]], i, 0, bound, cont
                    )
                i += 1
            return
        # relaxed-entry loops (FOLLOWED_BY connection) find their own
        # first repetition past non-matching rows — a zero-repetition
        # success must not starve the positive branches
        first = pos
        blocked = False
        if entry:
            while in_window(first) and not accepts(first, []):
                if stop_pred is not None and stop_pred(rows[first], _ctx([])):
                    blocked = True  # stop state: cannot scan past
                    break
                first += 1
        if combos and var in multi_vars:
            # allowCombinations: the loop's FIRST repetition is fixed
            # (entering the loop is plain relaxed contiguity — every
            # combination in the reference docs starts with A1), then
            # any in-order subset of later accepting rows may follow;
            # predicates re-evaluate against the actual chosen prefix,
            # so iterative conditions stay correct per branch
            choices = []
            if min_n == 0:
                choices.append((pos, bound))
            if in_window(first) and accepts(first, []):

                def rec(chosen: list) -> None:
                    if len(chosen) >= max(min_n, 1):
                        nb = {**bound, var: bound.get(var, []) + chosen}
                        choices.append((chosen[-1] + 1, nb))
                    if max_n is not None and len(chosen) >= max_n:
                        return
                    for j in range(chosen[-1] + 1, len(rows)):
                        if not in_window(j):
                            break
                        if accepts(j, chosen):
                            rec(chosen + [j])

                rec([first])
            for np, nb in choices:
                yield from step(seq, np, si + 1, nb, cont)
            return
        # scan the candidate run once: strict ends at the first
        # non-accepting row; relaxed steps over it (but never skips a
        # matching row; without the entry marker the first repetition
        # must sit at ``pos`` — contiguity TO the loop is the preceding
        # connection's business)
        taken: list[int] = []
        i = first
        u = untils.get(var)
        while not blocked and in_window(i) and (max_n is None or len(taken) < max_n):
            if u is not None and u(rows[i], _ctx(taken)):
                break  # until-condition: stop BEFORE the matching row
                # (Pattern.until:228 — the stopping event is excluded)
            if accepts(i, taken):
                taken.append(i)
            elif not relaxed or not taken:
                break
            i += 1
        hi = len(taken)
        ns = (
            range(min_n, hi + 1)
            if (reluctant or var in multi_vars)
            else range(hi, min_n - 1, -1)
        )
        choices = []
        for n in ns:
            if n > hi:
                continue
            np = pos if n == 0 else taken[n - 1] + 1
            nb = {**bound, var: bound.get(var, []) + taken[:n]} if n else bound
            choices.append((np, nb))
        if var in multi_vars:
            for np, nb in choices:
                yield from step(seq, np, si + 1, nb, cont)
        else:
            yield from first_success(choices)

    def group_step(seq, pos, si, bound, cont, gspec):
        """A GROUP step: gspec = ("G", substeps, gq, consecutive).
        Repetitions match ALL-OR-NOTHING (the whole sub-sequence);
        between repetitions contiguity is relaxed unless consecutive()
        (Pattern.java:437 applies to group loops too). Counts enumerate
        shortest-first — the reference's non-greedy group loop under
        noSkip emits every viable count; exact times(n) pins one."""
        _tag, substeps, gq, consecutive, entry_name, times_opt = gspec
        if gq in ("1", "?", "??"):
            min_n, max_n = (1, 1) if gq == "1" else (0, 1)
        else:
            lp = _parse_loop_quant(gq)
            if lp is None:
                raise ValueError(f"unsupported group quantifier {gq!r}")
            min_n, max_n = lp[0], lp[1]
        gap = [] if consecutive else [(f"__gskip{si}", "*?")]
        entry_gap = [(entry_name, "*?")] if entry_name else []

        def after_outer(p, b):
            yield from step(seq, p, si + 1, b, cont)

        def grow(p, b, done):
            if done >= min_n or (done == 0 and times_opt):
                # times(n).optional(): the zero-count branch joins a
                # non-zero exact/range count (Quantifier.optional)
                yield from after_outer(p, b)
            if max_n is not None and done >= max_n:
                return
            rep = [*entry_gap, *substeps] if done == 0 else [*gap, *substeps]
            yield from step(
                rep, p, 0, b,
                cont=lambda p2, b2, _d=done: grow(p2, b2, _d + 1),
            )

        yield from grow(pos, bound, 0)

    def done(pos, bound):
        # suppress EMPTY matches (no event bound anywhere): the
        # reference never emits them, and — critically — an empty
        # branch must not count as a hit inside first_success, or a
        # reluctant optional's skip branch would commit and shadow
        # its taken (non-empty) branch
        if any(bound.values()):
            yield pos, bound

    yield from step(steps, start, 0, {}, done)


def nfa_longest_partial(
    rows: list,
    start: int,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    within_ms: int | None,
):
    """The greedy principal PARTIAL match anchored at ``start`` — what
    the reference's TimedOutPartialMatchHandler receives when a
    computation's WITHIN horizon expires before the pattern completes
    (CepOperator.java's timeout path; PatternStream.select timeout
    variant). Returns ``var -> [row indices]`` for the longest greedy
    prefix of ``steps`` that binds, or None when no row binds (no
    computation ever started at this anchor, so there is nothing to
    time out). One branch only — the NFA's principal (greedy) branch —
    which is the deterministic single-partial approximation of the
    reference's per-branch timeout emission."""
    deadline = (
        None
        if within_ms is None
        else pd.Timestamp(rows[start]["__ts"])
        + pd.Timedelta(milliseconds=within_ms)
    )
    pos = start
    bound: dict = {}

    def accepts(var, pred, i, cur_taken):
        if i >= len(rows):
            return False
        if deadline is not None and pd.Timestamp(rows[i]["__ts"]) >= deadline:
            return False
        if pred is None:
            return True
        ctx = {v: [rows[j] for j in idxs] for v, idxs in bound.items()}
        ctx[var] = ctx.get(var, []) + [rows[j] for j in cur_taken]
        return bool(pred(rows[i], ctx))

    pending_entry = False
    for var, quant in steps:
        if isinstance(quant, tuple) or quant in ("!n", "!f"):
            # negative steps bind nothing in a partial walk; group
            # steps are skipped (timeout estimation stays the flat
            # principal prefix)
            continue
        pred = defines.get(var)
        sfx = ""
        if quant and quant[-1] in ("e", "a") and quant not in ("!n", "!f"):
            sfx = quant[-1]
            if _parse_loop_quant(quant) is None:
                quant = quant[:-1]
        loop = _parse_loop_quant(quant)
        if var.startswith("__not") and loop is not None:
            # a notFollowedBy gap behaves like the unconditioned skip
            # for timeout estimation (its kill semantics only matter
            # for completed matches)
            pending_entry = True
            continue
        if var.startswith("__skip") and pred is None and loop is not None:
            # the unnamed relaxed-contiguity skip edge: in this greedy
            # partial walk it must NOT consume rows the next variable
            # would bind (an unconditioned star accepts everything) —
            # defer it as entry relaxation for the following step
            pending_entry = True
            continue
        entry_scan = pending_entry or bool(loop and loop[5]) or bool(sfx)
        pending_entry = False
        if loop is None:
            i = pos
            if entry_scan:
                while i < len(rows) and not accepts(var, pred, i, []):
                    i += 1
            if accepts(var, pred, i, []):
                bound[var] = bound.get(var, []) + [i]
                pos = i + 1
            elif quant in ("?", "??"):
                continue
            else:
                break
        else:
            min_n, max_n, _reluctant, relaxed, _combos, _entry = loop
            taken: list[int] = []
            i = pos
            if entry_scan:
                while i < len(rows) and not accepts(var, pred, i, []):
                    i += 1
            while i < len(rows) and (max_n is None or len(taken) < max_n):
                if accepts(var, pred, i, taken):
                    taken.append(i)
                elif not relaxed or not taken:
                    break
                i += 1
            if len(taken) < min_n:
                break
            if taken:
                bound[var] = bound.get(var, []) + taken
                pos = taken[-1] + 1
    named = {v: idxs for v, idxs in bound.items() if not v.startswith("__")}
    return named if any(named.values()) else None


def match_nfa(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    all_rows: bool = False,
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """Linear-pattern NFA with cross-variable DEFINE predicates — the
    full MATCH_RECOGNIZE DEFINE semantics the regex tier cannot
    express (CepOperator.java:82 / nfa/NFA.java: predicates evaluated
    per row against the partial match's bound rows). ``skip`` selects
    the AFTER MATCH strategy with the same matrix as the regex tiers
    (nfa/aftermatch/*Strategy.java): ``"past_last_row"`` (default),
    ``"to_next_row"``, or ``("to_first"|"to_last", var)`` — resuming at
    or before the match's own start raises, like the reference.
    ``all_rows=True`` switches to ALL ROWS PER MATCH emission (the
    ``match_regex_all_rows`` dual): one output row per BOUND event —
    keys, the row's own (ts, id, value_cols), match_no, classifier,
    then each measure with RUNNING semantics over the variable's bound
    rows up to and including the current row.

    ``steps`` is the linear pattern: (variable, quantifier) with
    quantifier in ``1 ? + *`` (greedy, with backtracking) or the
    reluctant ``?? +? *?`` (shortest-first).
    ``defines[var]`` is ``fn(row, ctx) -> bool`` where ``row`` is the
    candidate row as a dict and ``ctx`` maps each variable to its
    already-bound rows in the current partial match — so a predicate
    can express ``B.value > FIRST(A.value)`` as
    ``row["value"] > ctx["A"][0]["value"]``. Variables without an entry
    accept any row. Matching is leftmost, greedy, AFTER MATCH SKIP PAST
    LAST ROW. ``measures`` as in :func:`match_regex_measures`, over the
    rows bound to each variable.

    ``within_ms`` applies the WITHIN timeout per partial match (a row
    beyond start_ts + within cannot extend the match — the NFA's
    pruning), so a timed-out greedy start still yields to later starts.

    Scale: one shuffle on the key; per-key the matcher walks the rows
    once per start position with backtracking bounded by run lengths —
    the same keyed-NFA state profile as the reference's CepOperator.
    """
    _check_skip(skip)
    for alias, (_var, agg, _col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
    )
    key_types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {key_types[k]}" for k in keys)
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    if all_rows:
        row_fields = f"{ts_col} {key_types['__ts']}, {id_col} {key_types['__id']}"
        for c in value_cols:
            row_fields += f", {c} {key_types[c]}"
        schema = (
            f"{out_fields}, {row_fields}, match_no int, classifier string, "
            f"{m_fields}"
        )
        all_rows_cols = [
            *keys, ts_col, id_col, *value_cols, "match_no", "classifier",
            *measures,
        ]
    else:
        schema = f"{out_fields}, match_no int, {m_fields}"

    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def try_match(rows: list[dict], start: int):
        return nfa_try_match(rows, start, steps, defines, within_ms)

    def _var_idxs(bound: dict, var: str) -> list:
        if var == "*":  # universal variable: every bound row, in order
            return sorted({i for idxs in bound.values() for i in idxs})
        return bound.get(var, [])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        rows = pdf.to_dict("records")
        out = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        pos, m_no = 0, 0
        while pos < len(rows):
            res = try_match(rows, pos)
            if res is None or res[0] == pos:
                pos += 1
                continue
            end, bound = res
            if all_rows:
                owner = {}
                for var, idxs in bound.items():
                    for i in idxs:
                        owner.setdefault(i, var)
                for r in sorted(owner):
                    row = rows[r]
                    vals = []
                    for _alias, (var, agg, col, _t) in measures.items():
                        run = [i for i in _var_idxs(bound, var) if i <= r]
                        vals.append(
                            _measure_value(
                                pdf.iloc[run],
                                agg,
                                col if col == "*" else col_name(col),
                                grid_scale,
                            )
                        )
                    out.append(
                        (
                            *keyvals,
                            row["__ts"],
                            row["__id"],
                            *[row[c] for c in value_cols],
                            m_no,
                            owner[r],
                            *vals,
                        )
                    )
            else:
                vals = []
                for _alias, (var, agg, col, _t) in measures.items():
                    idxs = _var_idxs(bound, var)
                    vals.append(
                        _measure_value(
                            pdf.iloc[idxs],
                            agg,
                            col if col == "*" else col_name(col),
                            grid_scale,
                        )
                    )
                out.append((*keyvals, m_no, *vals))
            m_no += 1
            if skip == "past_last_row":
                pos = end
            elif skip == "to_next_row":
                pos = pos + 1
            else:
                mode, var = skip
                idxs = bound.get(var, [])
                target = -1 if not idxs else (idxs[0] if mode == "to_first" else idxs[-1])
                if not idxs or target <= pos:
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode} {var!r} would not "
                        "advance past the match start (the reference "
                        "raises here too)"
                    )
                pos = target
        cols = all_rows_cols if all_rows else [*keys, "match_no", *measures]
        return pd.DataFrame(out, columns=cols)

    return _apply_per_key(tagged, keys, fn, schema)
