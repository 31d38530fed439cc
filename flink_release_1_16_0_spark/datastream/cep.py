"""CEP on DataStream: the reference's flink-cep Pattern API.

Reference parity: ``Pattern.java`` (flink-libraries/flink-cep/.../pattern/
Pattern.java — begin:120, next:209, followedBy:231, where:142, or:158,
oneOrMore:354, times:404, optional:318, greedy:335, within:186) and
``CEP.pattern`` (CEP.java:47) producing a PatternStream whose ``select``
maps each match's variable->rows bindings through a user function.

Lowering — the NFA core is shared with the SQL tier: patterns compile to
the ``(var, quantifier)`` step list + ``fn(row, ctx)`` predicates of
``operators.cep.nfa_all_matches`` (the enumerating sibling of the
backtracking linear NFA the MATCH_RECOGNIZE tiers run on). Relaxed
contiguity (``followed_by``) compiles to an unnamed reluctant-star skip
step — exactly the ignore-events edge NFACompiler inserts for
FOLLOWED_BY. Looping patterns (``one_or_more``/``times``) default to
RELAXED internal contiguity (Pattern.java:437 — strict only via
``consecutive()``), and under the default noSkip strategy every partial
match of a non-``greedy()`` loop emits (the reference's looping-state
branches), so ``a b+ c`` over ``a b1 b2 c`` yields both 1-b and 2-b
matches. Matching runs per key inside one ``applyInPandas`` group (rows
time-sorted), with the reference's default AfterMatchSkipStrategy.noSkip
(every start may anchor a match, overlaps allowed) or
``skip_past_last_row`` (non-overlapping; emits the greedy-longest match
per anchor).

Bounded (BATCH-mode) inputs run per key in one group-amortized pass;
UNBOUNDED inputs run the same NFA in keyed state with the WITHIN
finalization horizon (``_select_streaming`` — the CepOperator pattern,
same argument as the Table layer's ``streaming/cep_stream.py``), with
timed-out partials routable to an OutputTag on both paths.
"""

from __future__ import annotations

import inspect
import itertools
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame

from flink_release_1_16_0_spark.datastream.functions import _to_ms
from flink_release_1_16_0_spark.datastream.stream import (
    _SIDE_JSON,
    _SIDE_TAG,
    DataStream,
    KeyedStream,
    _parse_ddl,
    _row_iter,
    _ts_ms as _ms,
)
from flink_release_1_16_0_spark.operators.grouped import grouped_apply, to_pdf


_GSEQ = itertools.count()


class WithinType:
    """Pattern.within's interval anchoring (WithinType.java)."""

    FIRST_AND_LAST = "first"
    PREVIOUS_AND_CURRENT = "previous"


class Pattern:
    """Fluent pattern builder (Pattern.java)."""

    def __init__(self) -> None:
        self._steps: list[dict] = []
        self.within_ms: int | None = None
        self.within_type: str = WithinType.FIRST_AND_LAST

    # -- construction -------------------------------------------------------

    @staticmethod
    def begin(name) -> "Pattern":
        p = Pattern()
        p._add(name, strict=True)
        return p

    def _add(self, name, strict: bool) -> None:
        if isinstance(name, Pattern):
            # GROUP pattern (Pattern.begin(Pattern)/followedBy(Pattern),
            # Pattern.java:573): the sub-pattern matches all-or-nothing
            # per repetition
            self._steps.append(
                {
                    "name": f"__grp{len(self._steps)}",
                    "group": name,
                    "quant": "1",
                    "conds": [],
                    "strict": strict,
                    "consecutive": False,
                    "greedy": False,
                    "negative": None,
                    "any": False,
                    "until": None,
                }
            )
            return
        if any(s["name"] == name for s in self._steps):
            # repeated names are legal in the NFA (bindings accumulate)
            # but almost always a user mistake in a fluent chain
            raise ValueError(f"pattern variable {name!r} already defined")
        self._steps.append(
            {
                "name": name,
                "quant": "1",
                "conds": [],
                "strict": strict,
                "consecutive": False,
                "greedy": False,
                "negative": None,
                "any": False,
                "until": None,
            }
        )

    def next(self, name) -> "Pattern":
        """Strict contiguity (Pattern.next:209). Accepts a Pattern for
        a group sub-pattern."""
        self._add(name, strict=True)
        return self

    def followed_by(self, name) -> "Pattern":
        """Relaxed contiguity (Pattern.followedBy:231): any events may
        sit between the previous variable and this one. Accepts a
        Pattern for a group sub-pattern (Pattern.java:573)."""
        self._add(name, strict=False)
        return self

    def followed_by_any(self, name) -> "Pattern":
        """NON-DETERMINISTIC relaxed contiguity (Pattern.followedByAny
        :343): matching events may also be skipped, so EVERY later
        candidate matches — ``A followedByAny B`` pairs A with every
        subsequent B, not just the first. Accepts a Pattern for a group
        sub-pattern (every entry position of the group's first
        repetition forks)."""
        self._add(name, strict=False)
        self._steps[-1]["any"] = True
        return self

    def not_next(self, name: str) -> "Pattern":
        """Negative STRICT contiguity (Pattern.notNext:294): the event
        immediately after the previous variable must NOT match. Binds
        nothing; requires a where() condition; cannot take
        quantifiers (MalformedPatternException in the reference)."""
        self._add(name, strict=True)
        self._steps[-1]["negative"] = "next"
        return self

    def not_followed_by(self, name: str) -> "Pattern":
        """Negative RELAXED contiguity (Pattern.notFollowedBy:325): no
        event matching the condition may occur between the previous
        variable and the next one (NFA stop state). May be the LAST
        step only with ``within`` (FLINK-23122): the match then holds
        if no such event arrives inside the window."""
        self._add(name, strict=False)
        self._steps[-1]["negative"] = "follow"
        return self

    def until(self, cond: Callable) -> "Pattern":
        """Stop condition for a looping pattern (Pattern.until:228):
        the loop stops accepting repetitions at the first event
        matching ``cond`` (that event itself is excluded)."""
        self._steps[-1]["until"] = (
            cond,
            len(inspect.signature(cond).parameters),
        )
        return self

    # -- conditions ---------------------------------------------------------

    def where(self, cond: Callable) -> "Pattern":
        """AND-combined predicates (Pattern.where:142). ``cond`` takes
        ``(row)`` (SimpleCondition) or ``(row, ctx)`` (IterativeCondition
        — ctx maps each variable to its bound rows so far)."""
        if "group" in self._steps[-1]:
            raise ValueError(
                "where() applies to the variables INSIDE a group "
                "pattern, not to the group itself"
            )
        self._steps[-1]["conds"].append((cond, len(inspect.signature(cond).parameters)))
        return self

    def or_(self, cond: Callable) -> "Pattern":
        """OR with the previous condition (Pattern.or:158)."""
        step = self._steps[-1]
        if not step["conds"]:
            return self.where(cond)
        prev, prev_n = step["conds"].pop()
        new_n = len(inspect.signature(cond).parameters)

        def either(row, ctx):
            a = prev(row) if prev_n == 1 else prev(row, ctx)
            if a:
                return True
            return cond(row) if new_n == 1 else cond(row, ctx)

        step["conds"].append((either, 2))
        return self

    # -- quantifiers --------------------------------------------------------

    def _set_quant(self, q: str) -> "Pattern":
        if "times" in self._steps[-1]:
            raise ValueError("times(n) cannot combine with another quantifier")
        if self._steps[-1]["negative"]:
            raise ValueError(
                "quantifiers are not applicable to NOT patterns "
                "(the reference's MalformedPatternException)"
            )
        self._steps[-1]["quant"] = q
        return self

    def one_or_more(self) -> "Pattern":
        return self._set_quant("+")

    def zero_or_more(self) -> "Pattern":
        return self._set_quant("*")

    def optional(self) -> "Pattern":
        """Pattern.optional:318. On a looping pattern it RELAXES the
        lower bound (oneOrMore().optional() == the reference's
        zero-or-more), it does not replace the loop; on times(n[,m]) it
        ADDS the zero-count branch (Quantifier.optional)."""
        s = self._steps[-1]
        if "times" in s:
            s["times_optional"] = True
            return self
        if s["quant"] in ("+", "+?"):
            s["quant"] = "*?" if s["quant"] == "+?" else "*"
            return self
        if s["quant"] in ("*", "*?"):
            return self
        return self._set_quant("?")

    def allow_combinations(self) -> "Pattern":
        """Pattern.allowCombinations:452 — NON-DETERMINISTIC relaxed
        internal contiguity: the loop may also skip MATCHING events, so
        every in-order combination of the run that keeps its first
        element emits (the reference docs' {C A1 B}, {C A1 A3 B}, ...
        example). Exponential in the run length, exactly as in the
        reference — bound the run with ``within``."""
        s = self._steps[-1]
        if s["quant"] not in ("+", "*", "+?", "*?") and "times" not in s:
            raise ValueError("allow_combinations() applies to looping patterns only")
        if s["consecutive"]:
            raise ValueError("allow_combinations() conflicts with consecutive()")
        s["combinations"] = True
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """``times(n)`` — exactly-n repetition (Pattern.times:404);
        ``times(n, m)`` — n-to-m repetition (Pattern.times:418). Like
        the reference, internal contiguity is RELAXED by default
        (``consecutive()`` for strict) and under noSkip every count in
        [n, m] emits unless ``greedy()``. Combining with another
        quantifier (times(n).optional() etc.) is rejected rather than
        silently dropping the quantifier."""
        if self._steps[-1]["quant"] != "1":
            raise ValueError("times(n) cannot combine with another quantifier")
        if m is not None and m < n:
            raise ValueError("times(n, m) needs n <= m")
        self._steps[-1]["times"] = (n, n if m is None else m)
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """n-or-more repetition (Pattern.timesOrMore:482) — the {n,}
        quantifier; like the reference, relaxed internal contiguity by
        default and every count >= n emits under noSkip unless
        greedy()."""
        if self._steps[-1]["quant"] != "1":
            raise ValueError("timesOrMore(n) cannot combine with another quantifier")
        self._steps[-1]["times"] = (n, None)
        return self

    def consecutive(self) -> "Pattern":
        """STRICT internal contiguity for a looping pattern
        (Pattern.consecutive:437): the repetitions must sit on adjacent
        rows; without it, rows failing the loop condition may sit
        between repetitions (the reference's relaxed default). Only
        valid on ``one_or_more``/``zero_or_more``/``times``, as in the
        reference (MalformedPatternException otherwise)."""
        s = self._steps[-1]
        if s["quant"] not in ("+", "*", "+?", "*?") and "times" not in s:
            raise ValueError("consecutive() applies to looping patterns only")
        s["consecutive"] = True
        return self

    def greedy(self) -> "Pattern":
        """GREEDY property (Pattern.greedy:335): the loop binds as many
        rows as possible and only the longest run per anchor emits —
        without it (the reference's default) every partial match of the
        loop emits under noSkip."""
        self._steps[-1]["greedy"] = True
        return self

    def reluctant(self) -> "Pattern":
        """Shortest-first preference (Quantifier without GREEDY)."""
        q = self._steps[-1]["quant"]
        if q in ("?", "+", "*"):
            self._steps[-1]["quant"] = q + "?"
        return self

    def _var_names(self) -> list:
        out = []
        for s in self._steps:
            if "group" in s:
                out.extend(s["group"]._var_names())
            elif not s["negative"]:
                out.append(s["name"])
        return out

    def within(self, duration, within_type: str = WithinType.FIRST_AND_LAST) -> "Pattern":
        """Match window (Pattern.within:253,266). FIRST_AND_LAST bounds
        the whole match from its first event; PREVIOUS_AND_CURRENT
        bounds the gap between CONSECUTIVE matched events instead."""
        if within_type not in (WithinType.FIRST_AND_LAST, WithinType.PREVIOUS_AND_CURRENT):
            raise ValueError(f"unknown within_type {within_type!r}")
        self.within_ms = _to_ms(duration)
        self.within_type = within_type
        return self

    # -- compilation to the shared NFA surface ------------------------------

    def _compile(self):
        """Compile to the shared-NFA surface: the ``(var, quantifier)``
        step list, the DEFINE predicates, ``multi_vars`` — the
        non-greedy looping variables whose partial matches emit under
        noSkip (see ``operators.cep.nfa_all_matches``) — and the
        per-variable ``until`` stop conditions.

        Negative patterns lower to NFA stop semantics: ``notNext`` is
        the ``!n`` non-consuming check, a terminal ``notFollowedBy``
        (requires ``within``) is ``!f``, and a mid-pattern
        ``notFollowedBy`` REPLACES the following connection's skip edge
        with a ``*?`` gap whose predicate is the NEGATED condition — a
        matching event inside the gap cannot be consumed, killing the
        branch exactly like the reference's stop state
        (NFACompiler.createMiddleStates' NOT_FOLLOW handling)."""
        steps: list[tuple[str, str]] = []
        defines: dict = {}
        multi: set[str] = set()
        untils: dict = {}
        stops: dict = {}
        pending_not = None

        def norm(conds):
            def pred(row, ctx, conds=conds):
                return all(c(row) if n == 1 else c(row, ctx) for c, n in conds)

            return pred

        for i, s in enumerate(self._steps):
            if "group" in s:
                if s["greedy"]:
                    raise ValueError("greedy group loops are unsupported")
                if s["until"] is not None:
                    raise ValueError("until() on group loops is unsupported")
                if pending_not is not None:
                    raise ValueError(
                        "notFollowedBy directly before a group pattern "
                        "is unsupported"
                    )
                (
                    substeps, subdefines, submulti, subuntils, substops,
                ) = s["group"]._compile()
                defines.update(subdefines)
                multi |= set(submulti)
                untils.update(subuntils)
                stops.update(substops)
                opt = s.get("times_optional", False)
                if "times" in s:
                    a, b = s["times"]
                    gq = f"{{{a},}}" if b is None else f"{{{a},{b}}}"
                    if b is None or a != b or opt:
                        multi.add(s["name"])  # counts enumerate (noSkip)
                else:
                    gq = s["quant"]
                    if gq in ("?", "+", "*", "+?", "*?", "??"):
                        multi.add(s["name"])
                entry_name = None
                if i > 0 and not s["strict"]:
                    # globally unique: nested compiles must not alias
                    # each other's gap (multi membership rides the name)
                    entry_name = f"__gentry{next(_GSEQ)}"
                    if s["any"]:
                        # followedByAny group: every entry position of
                        # the first repetition forks
                        multi.add(entry_name)
                steps.append(
                    (
                        s["name"],
                        ("G", substeps, gq, s["consecutive"], entry_name, opt),
                    )
                )
                continue
            pred = norm(s["conds"]) if s["conds"] else None
            if s["negative"]:
                if pred is None:
                    raise ValueError(
                        f"NOT pattern {s['name']!r} needs a where() condition"
                    )
                if s["negative"] == "next":
                    steps.append((s["name"], "!n"))
                    defines[s["name"]] = pred
                    continue
                # notFollowedBy
                if i == len(self._steps) - 1:
                    if self.within_ms is None:
                        raise ValueError(
                            "notFollowedBy cannot be the last pattern "
                            "without within() (FLINK-23122)"
                        )
                    steps.append((s["name"], "!f"))
                    defines[s["name"]] = pred
                else:
                    pending_not = pred
                continue
            is_loop = s["quant"] in ("+", "*", "+?", "*?") or "times" in s
            sfx = ""
            if i > 0 and not s["strict"]:
                # connection suffix: 'e' = relaxed EAGER contiguity
                # (followedBy — the first accepting row is taken, a
                # failed continuation dies, never backtracks to a later
                # candidate: the NFA ignore edge cannot skip a matching
                # event), 'a' = non-deterministic (followedByAny —
                # every accepting position forks)
                sfx = "a" if s["any"] else "e"
                if pending_not is not None:
                    # notFollowedBy gap: the entry scan may not step
                    # over a row matching the absence condition — the
                    # stop state on the ignore edges leading into this
                    # variable; zero-count/skip branches still complete
                    # (the reference's emitted-before-the-kill)
                    stops[s["name"]] = pending_not
                    pending_not = None
            elif pending_not is not None:
                raise ValueError(
                    "notFollowedBy cannot be directly followed by next() "
                    "(the reference's MalformedPatternException)"
                )
            if pred is not None:
                defines[s["name"]] = pred
            if s["until"] is not None:
                if s["quant"] not in ("+", "*", "+?", "*?") and "times" not in s:
                    raise ValueError("until() applies to looping patterns only")
                u, un = s["until"]
                untils[s["name"]] = (
                    lambda row, ctx, u=u, un=un: u(row) if un == 1 else u(row, ctx)
                )
            # relaxed internal contiguity is the reference's looping
            # default (Pattern.java:437); consecutive() keeps strict;
            # allowCombinations adds the non-deterministic c tier; the
            # connection suffix rides the loop quantifier so the loop's
            # own entry scan implements the contiguity
            relax = "" if s["consecutive"] else "~"
            if s.get("combinations") and not s["greedy"]:
                relax = "~c"
            relax += sfx
            if "times" in s:
                a, b = s["times"]
                quant = f"{{{a},}}" if b is None else f"{{{a},{b}}}"
                steps.append((s["name"], quant + relax))
                if (b is None or a != b or "c" in relax) and not s["greedy"]:
                    multi.add(s["name"])
            else:
                q = s["quant"]
                if q in ("+", "*", "+?", "*?"):
                    steps.append((s["name"], q + relax))
                    if q in ("+", "*") and not s["greedy"]:
                        multi.add(s["name"])
                else:
                    steps.append((s["name"], q + sfx))
                    if q == "?" and not s["greedy"]:
                        # non-greedy optional branches under noSkip
                        # (both take and skip continuations emit)
                        multi.add(s["name"])
        return steps, defines, frozenset(multi), untils, stops


class CEP:
    @staticmethod
    def pattern(stream: "DataStream | KeyedStream", pattern: Pattern) -> "PatternStream":
        """CEP.java:47 — a PatternStream over a (keyed) stream. A
        non-keyed input matches as one sequence (the reference forces
        parallelism 1 there; here a constant key does)."""
        return PatternStream(stream, pattern)


class PatternStream:
    def __init__(self, stream: "DataStream | KeyedStream", pattern: Pattern) -> None:
        if isinstance(stream, KeyedStream):
            self.keyed = stream
        else:
            from pyspark.sql import functions as F

            const = DataStream(
                stream.env, stream.df.withColumn("__all", F.lit(0)), stream.time_col
            )
            self.keyed = KeyedStream(const, ["__all"])
        self.pattern = pattern

    def select(
        self,
        fn: Callable[[dict], dict],
        output_type,
        tiebreaker: str | None = None,
        after_match: str = "no_skip",
        timeout_tag=None,
        timeout_fn: Callable[[dict, int], dict] | None = None,
    ) -> DataStream:
        """PatternStream.select: ``fn(bindings) -> row`` where bindings
        map each variable to its list of matched rows (in order).
        ``after_match``: ``no_skip`` (reference default — overlapping
        matches from every start; non-``greedy()`` loops additionally
        emit every partial match, the looping-state branches) or
        ``skip_past_last_row`` (non-overlapping, greedy-longest per
        anchor). ``tiebreaker`` orders equal-timestamp rows
        deterministically.

        ``timeout_tag`` + ``timeout_fn`` enable the reference's
        timed-out-partial-match side output (PatternStream.select's
        timeout variant / TimedOutPartialMatchHandler): when an
        anchor's WITHIN horizon expires before the pattern completes,
        ``timeout_fn(partial_bindings, timeout_ts_ms)`` routes a row to
        the OutputTag instead of the partial silently vanishing.
        Requires ``Pattern.within`` (without a horizon nothing ever
        times out, exactly as in the reference)."""
        return self._run(
            lambda b: [fn(b)], output_type, tiebreaker, after_match,
            timeout_tag, timeout_fn,
        )

    def flat_select(
        self,
        fn: Callable[[dict], "list[dict]"],
        output_type,
        tiebreaker: str | None = None,
        after_match: str = "no_skip",
        timeout_tag=None,
        timeout_fn: Callable[[dict, int], dict] | None = None,
    ) -> DataStream:
        """PatternStream.flatSelect (PatternStream.java:352):
        ``fn(bindings)`` returns an ITERABLE of rows — zero, one, or
        many output rows per match (the PatternFlatSelectFunction
        collector contract). Timeout side output as in :meth:`select`."""
        return self._run(
            lambda b: list(fn(b)), output_type, tiebreaker, after_match,
            timeout_tag, timeout_fn,
        )

    def _run(
        self, emit, output_type, tiebreaker, after_match, timeout_tag, timeout_fn
    ) -> DataStream:
        import json

        from flink_release_1_16_0_spark.operators.cep import (
            nfa_all_matches,
            nfa_longest_partial,
        )

        if after_match not in ("no_skip", "skip_past_last_row"):
            raise ValueError(f"unsupported after_match: {after_match!r}")
        if (timeout_tag is None) != (timeout_fn is None):
            raise ValueError("timeout_tag and timeout_fn come together")
        keyed = self.keyed
        tcol = keyed.stream.time_col
        if not tcol:
            raise ValueError("CEP needs assign_timestamps_and_watermarks (event order)")
        steps, defines, multi_vars, untils, stops = self.pattern._compile()
        within_ms = self.pattern.within_ms
        wt = self.pattern.within_type
        if timeout_tag is not None and within_ms is None:
            raise ValueError(
                "the timed-out-partial-match side output needs "
                "Pattern.within(...) — without a horizon no partial "
                "match ever times out"
            )
        schema = _parse_ddl(keyed.env.spark, output_type)
        use_side = timeout_tag is not None
        if use_side:
            from pyspark.sql.types import StructType

            schema = StructType(
                list(schema.fields)
                + list(
                    _parse_ddl(
                        keyed.env.spark, f"{_SIDE_TAG} STRING, {_SIDE_JSON} STRING"
                    ).fields
                )
            )
        names = [f.name for f in schema.fields]
        sort_cols = [tcol] + ([tiebreaker] if tiebreaker else [])
        var_names = self.pattern._var_names()
        skip_past = after_match == "skip_past_last_row"

        def _nondet(sq):
            for _v, q in sq:
                if isinstance(q, tuple):
                    return True  # any group pattern -> enumerate
                if q.endswith("a"):
                    return True
            return False

        # skip_past resumes after ONE match per anchor, so enumeration
        # only serves the noSkip strategy; forking (multi vars, any-
        # connections, quantified groups) forces the enumerate path
        enum_path = (bool(multi_vars) or _nondet(steps)) and not skip_past
        enum = multi_vars if enum_path else frozenset()

        def pad(r: dict) -> dict:
            return {**r, _SIDE_TAG: None, _SIDE_JSON: None} if use_side else r

        def timeout_row(rows, start) -> dict | None:
            partial = nfa_longest_partial(rows, start, steps, defines, within_ms)
            if partial is None:
                return None
            bindings = {v: [rows[j] for j in partial.get(v, [])] for v in var_names}
            t_out = _ms(rows[start]["__ts"]) + within_ms
            r = timeout_fn(bindings, t_out)
            return {_SIDE_TAG: timeout_tag.tag_id, _SIDE_JSON: json.dumps(r, default=str)}

        if keyed.stream.df.isStreaming:
            return self._select_streaming(
                emit, schema, names, tiebreaker, skip_past, steps, defines,
                var_names, enum, use_side, pad, timeout_row, timeout_tag,
                untils=untils, within_type=wt, stops=stops,
                enum_path=enum_path,
            )

        def harness(_key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(sort_cols, kind="stable")
            rows = list(_row_iter(pdf.rename(columns={tcol: "__ts"})))
            # user predicates/select see the original column name too
            for r in rows:
                r[tcol] = r["__ts"]
            out: list[dict] = []
            start = 0
            while start < len(rows):
                if enum_path:
                    matched = False
                    for _end, bound in nfa_all_matches(
                        rows, start, steps, defines, within_ms, enum,
                        untils=untils, within_type=wt, stops=stops,
                    ):
                        if not any(bound.get(v) for v in var_names):
                            continue  # an all-optional empty match
                        matched = True
                        out.extend(
                            pad(r)
                            for r in emit(
                                {v: [rows[j] for j in bound.get(v, [])] for v in var_names}
                            )
                        )
                    if use_side and not matched:
                        # bounded input: end-of-input advances time past
                        # every WITHIN horizon, so an unmatched anchor's
                        # partial times out (the reference's endInput)
                        tr = timeout_row(rows, start)
                        if tr is not None:
                            out.append(tr)
                    start += 1
                    continue
                # nfa_all_matches never yields EMPTY matches (suppressed
                # at the NFA terminal — see operators/cep.py step()), so
                # an all-optional pattern emits nothing per row while a
                # reluctant optional still reaches its taken branch
                m = next(
                    nfa_all_matches(
                        rows, start, steps, defines, within_ms,
                        untils=untils, within_type=wt, stops=stops,
                    ),
                    None,
                )
                if m is not None:
                    end, bound = m
                    bindings = {
                        v: [rows[j] for j in bound.get(v, [])] for v in var_names
                    }
                    out.extend(pad(r) for r in emit(bindings))
                    start = max(end, start + 1) if skip_past else start + 1
                else:
                    if use_side:
                        tr = timeout_row(rows, start)
                        if tr is not None:
                            out.append(tr)
                    start += 1
            return out

        # group-amortized per-key matching (see grouped_apply)
        out = grouped_apply(keyed.stream.df, list(keyed.keys), harness, schema)
        side = (timeout_tag,) if use_side else ()
        return DataStream(keyed.env, out, None, side)

    def _select_streaming(
        self, emit, schema, names, tiebreaker, skip_past, steps, defines,
        var_names, enum=frozenset(), use_side=False, pad=None,
        timeout_row=None, timeout_tag=None, untils=None, within_type="first",
        stops=None, enum_path=None,
    ) -> DataStream:
        """Unbounded Pattern matching with the WITHIN finalization bound
        (the CepOperator pattern, same argument as
        streaming/cep_stream.py): events buffer in keyed state; an
        anchor is DECIDED once the watermark passes ``anchor + within``
        (every row a match could bind is settled), at which point the
        match emits (or the anchor is dropped) exactly once; decided
        prefix rows retire, keeping state O(rows in the horizon).
        Requires ``within`` (the reference's streaming NFA state bound)
        and a ``tiebreaker`` column for deterministic equal-timestamp
        order."""
        import pickle

        import pandas as _pd
        from pyspark.sql.streaming.state import GroupStateTimeout

        from flink_release_1_16_0_spark.operators.cep import nfa_all_matches
        from flink_release_1_16_0_spark.streaming.event_buffer import timeout_at

        keyed = self.keyed
        tcol = keyed.stream.time_col
        within_ms = self.pattern.within_ms
        if within_ms is None:
            raise ValueError(
                "unbounded CEP needs Pattern.within(...) — the WITHIN horizon "
                "is what finalizes emission and bounds keyed state"
            )
        if not tiebreaker:
            raise ValueError("unbounded CEP needs a tiebreaker column")

        def func(key, pdfs, state):
            wm = state.getCurrentWatermarkMs()
            pending: list[dict] = pickle.loads(state.get[0]) if state.exists else []
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                for row in _row_iter(pdf):
                    if _ms(row[tcol]) > wm:  # at/under the watermark = late
                        pending.append(row)
            settled = sorted(
                (r for r in pending if _ms(r[tcol]) <= wm),
                key=lambda r: (_ms(r[tcol]), r[tiebreaker]),
            )
            unsettled = [r for r in pending if _ms(r[tcol]) > wm]
            rows = [{**r, "__ts": _pd.Timestamp(r[tcol])} for r in settled]
            out: list[dict] = []
            s = decided = 0
            while s < len(rows):
                if _ms(rows[s][tcol]) + within_ms > wm:
                    break  # horizon not settled: this and later anchors wait
                if enum_path if enum_path is not None else enum:
                    matched = False
                    for _end, bound in nfa_all_matches(
                        rows, s, steps, defines, within_ms, enum,
                        untils=untils, within_type=within_type, stops=stops,
                    ):
                        if not any(bound.get(v) for v in var_names):
                            continue
                        matched = True
                        out.extend(
                            pad(r)
                            for r in emit(
                                {v: [rows[j] for j in bound.get(v, [])] for v in var_names}
                            )
                        )
                    if use_side and not matched:
                        # the anchor's horizon just expired unmatched:
                        # its partial times out exactly once
                        tr = timeout_row(rows, s)
                        if tr is not None:
                            out.append(tr)
                    s += 1
                    decided = s
                    continue
                # empty matches are suppressed at the NFA terminal (see
                # the bounded path's note), so plain next() is exact
                m = next(
                    nfa_all_matches(
                        rows, s, steps, defines, within_ms,
                        untils=untils, within_type=within_type, stops=stops,
                    ),
                    None,
                )
                if m is not None:
                    end, bound = m
                    bindings = {
                        v: [rows[j] for j in bound.get(v, [])] for v in var_names
                    }
                    out.extend(pad(r) for r in emit(bindings))
                    s = max(end, s + 1) if skip_past else s + 1
                else:
                    if use_side:
                        tr = timeout_row(rows, s)
                        if tr is not None:
                            out.append(tr)
                    s += 1
                decided = s
            retained = settled[decided:] + unsettled
            state.update((pickle.dumps(retained),))
            if retained:
                # the earliest undecided anchor is decided once the
                # watermark reaches its ms + within
                first = min(_ms(r[tcol]) for r in retained)
                state.setTimeoutTimestamp(timeout_at(first + within_ms))
            if out:
                yield to_pdf(out, names)

        out = keyed.stream.df.groupBy(*keyed.keys).applyInPandasWithState(
            func,
            outputStructType=schema,
            stateStructType="buf BINARY",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        side = (timeout_tag,) if use_side else ()
        return DataStream(keyed.env, out, None, side)
