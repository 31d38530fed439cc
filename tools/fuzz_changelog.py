#!/usr/bin/env python
"""Property-based fuzzer for the streaming changelog/retraction operators.

The batch-relational surface is fuzzed cross-engine by tools/fuzz_oracle.py;
this tool targets the code DuckDB cannot adjudicate: the stateful
retraction algebra in flink_release_1_16_0_spark/streaming/stateful.py.

Method — fuzz the PRODUCTION closures, not a reimplementation:
each operator builder ends in ``stream.groupBy(keys).applyInPandasWithState
(fn, ...)``; a capture shim stands in for the DataFrame and records ``fn``,
then a single-threaded harness replays randomly generated changelog
programs through it batch-by-batch with a faked GroupState — exactly the
per-key data layout Spark's FlatMapGroupsInPandasWithState provides, with
its event-time timers (a state whose timeout is below the watermark is
called with an empty frame); the arms of the key-grouped operators
(OVER, dedup, window dedup, both top-N operators, upsert-to-retract)
replay under three key -> group maps and must emit the same per key.
Every program is replayed under SEVERAL random micro-batch slicings;
the folded emission stream must converge to a
single-threaded Python reference interpreter implementing the reference
engine's semantics
(flink-table-runtime GroupAggFunction.java:125-172 accumulate/retract,
RetractableTopNFunction.java data-state multiset, MinWithRetractAggFunction
MapState bag, StreamingJoinOperator.java:60 two-sided join state,
RowTimeDeduplicateFunction / RowTimeWindowDeduplicate) — independent of
where the batch boundaries fall. That boundary-independence is the
property Flink's own ITCases pin per-case; here it is pinned for ~1000
random programs per operator.

Generated programs are VALID changelogs (a -U/-D only ever retracts a
currently-live row — the contract both engines require); values are
multiples of 0.25, or of 0.125 where an arm checks values off the cent
grid, so float accumulation is exact and comparisons are equality, not
tolerance; the OVER references sum exactly with ``Fraction``.

Arms: agg (retracting SUM/COUNT), topn (retractable top-N), atopn
(append-only top-N over BIGINTs beyond 2**53 and NULLs), minmax
(retracting MIN/MAX bag), join (two-input changelog join), dedup
(keep-first/last refinement across batches), wdedup (window dedup with
watermark eviction + isWindowFired drop), antijoin/semi (time-bounded
anti join, changelog semi/anti), over_rows/over_range/over_bounded
(event-time OVER aggregation: unbounded, RANGE and ROWS frames),
normalize (stateful upsert->retract vs the batch ChangelogNormalize),
lateness (group window with allowed lateness + late
-U/+U firings), tjoin (event-time temporal join with version
tombstones under random watermark schedules), wtvf/wtvf_distinct
(window TVF aggregate vs the group window), wjoin/wtopn (window join
and window TopN vs per-window references, ending with a no-data flush
at a window end - 1).

Usage:
    python tools/fuzz_changelog.py --seeds 1000 [--arms agg,join,...]

On divergence the failing program is delta-minimized (greedy event
removal) and printed; exit code 1.
"""

from __future__ import annotations

import argparse
import random
import sys
from collections import Counter, defaultdict
from fractions import Fraction
from functools import cmp_to_key
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql.types import DoubleType, LongType

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_release_1_16_0_spark.streaming.changelog import (  # noqa: E402
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)

ADD = (INSERT, UPDATE_AFTER)
# COUNT(*) AS n, SUM(v) AS total: the retracting agg's specs in the
# agg arm and the ITCase pipelines that feed an agg changelog onward
COUNT_SUM = [("n", "count_star", None, LongType()), ("total", "sum", "v", DoubleType())]


# --------------------------------------------------------------------------
# GroupState fake + fn-capture shim
# --------------------------------------------------------------------------


class FakeGroupState:
    """The subset of pyspark GroupState the stateful closures use.

    Once a :class:`_Cap`-captured closure binds its state ``schema``,
    every ``update`` is checked the way Spark would take it: pyspark's
    type verifier, then a ``toInternal``/``fromInternal`` round trip, so
    a value Spark would reject fails here without a Spark job.
    ``watermark_ms=None`` is an input without a watermark, whose
    watermark pyspark refuses to read."""

    def __init__(self, watermark_ms: int | None = 0):
        self._value = None
        self._exists = False
        self._wm = watermark_ms
        self.hasTimedOut = False
        self.schema = None
        self.timeout = None  # event-time timeout, set by the last call

    @property
    def exists(self) -> bool:
        return self._exists

    @property
    def get(self):
        if not self._exists:
            raise ValueError("state does not exist")
        return self._value

    def update(self, value) -> None:
        from pyspark.sql.types import _make_type_verifier

        # GroupState.update's own conversion of top-level values
        value = tuple(
            v.tolist() if isinstance(v, np.generic)
            else v.to_pydatetime() if hasattr(v, "to_pydatetime")
            else v
            for v in value
        )
        if self.schema is not None:
            _make_type_verifier(self.schema, nullable=False)(value)
            value = tuple(self.schema.fromInternal(self.schema.toInternal(value)))
        self._value = value
        self._exists = True

    def remove(self) -> None:
        self._value = None
        self._exists = False

    def getCurrentWatermarkMs(self) -> int:
        if self._wm is None:
            raise PySparkRuntimeError(
                errorClass="CANNOT_WITHOUT",
                messageParameters={
                    "condition1": "get event time watermark timestamp",
                    "condition2": "setting watermark before applyInPandasWithState",
                },
            )
        return self._wm

    def setTimeoutTimestamp(self, ms) -> None:
        # pyspark's checks: positive, and not below the watermark
        if ms <= 0 or (self._wm is not None and ms < self._wm):
            raise ValueError(f"timeout {ms} invalid at watermark {self._wm}")
        self.timeout = ms


class _Cap:
    """DataFrame stand-in: enough surface for the operator builders to
    run their schema plumbing and hand us the production closure. A
    state schema that holds BINARY (serialized objects rather than
    typed state) is refused."""

    def __init__(self, schema):
        self.schema = schema
        self.columns = [f.name for f in schema.fields]
        self.fn = None

    def groupBy(self, *keys):
        return self

    def select(self, *cols):  # changelog_join's pad()
        return self

    def unionByName(self, other):
        return self

    def withWatermark(self, col, delay):  # temporal join's union
        return self

    def filter(self, cond):  # temporal join's DropUpdateBefore
        return self

    def selectExpr(self, *exprs):  # key_groups' group column
        return self

    def applyInPandasWithState(
        self, fn, outputStructType, stateStructType, outputMode, timeoutConf
    ):
        if isinstance(stateStructType, str):
            stateStructType = _flat_schema(stateStructType)
        if stateStructType is not None and _opaque(stateStructType):
            raise TypeError(f"opaque BINARY state: {stateStructType.simpleString()}")
        self.fn = fn
        if stateStructType is not None:

            def checked(key, pdfs, state):
                # bind the declared state schema so update() checks it
                state.schema = stateStructType
                return fn(key, pdfs, state)

            self.fn = checked
        return self


def _opaque(dt) -> bool:
    """Whether a state type holds BINARY anywhere: serialized objects,
    not typed state."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return any(_opaque(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _opaque(dt.elementType)
    if isinstance(dt, T.MapType):
        return _opaque(dt.keyType) or _opaque(dt.valueType)
    return isinstance(dt, T.BinaryType)


def _flat_schema(ddl: str):
    """A flat ``name TYPE, ...`` state schema, parsed without a JVM (the
    ITCase harnesses capture closures with no Spark session)."""
    from pyspark.sql import types as T

    kinds = {
        "BIGINT": T.LongType(),
        "INT": T.IntegerType(),
        "DOUBLE": T.DoubleType(),
        "STRING": T.StringType(),
        "TIMESTAMP": T.TimestampType(),
    }
    return T.StructType(
        [
            T.StructField(name, kinds[kind.upper()])
            for name, kind in (f.split() for f in ddl.split(","))
        ]
    )


def _null_key(key: tuple) -> tuple:
    """A key tuple with pandas' NaN NULLs as None: Spark groups NULL
    keys together."""
    return tuple(None if v != v else v for v in key)


def replay(fn, batches, key_cols, columns, wm_seq=None, groups=None, states=None):
    """Drive a captured closure the way FlatMapGroupsInPandasWithState
    does: per micro-batch, rows grouped by key, one fn call per touched
    key, GroupState persisted across batches (in ``states``, if given,
    so that a caller can replay one batch at a time). Returns emissions
    in arrival order as a list of row dicts.

    ``groups`` maps a key tuple (None for NULL) to its key group, for
    the operators built on streaming.key_groups: rows are then grouped
    by group, and each frame carries the group column and every
    column's value and is-null flag, of which the group call reads the
    exact ones. Event-time timers are simulated: after a batch's data
    calls, every state whose timeout is below the watermark is called
    with an empty frame and ``hasTimedOut``. Without ``wm_seq`` the
    input has no watermark, as does a batch whose entry is None; reading
    it then raises, as in pyspark. An empty batch is Spark's
    no-data batch: a watermark-only flush that makes the timer calls
    alone."""
    from flink_release_1_16_0_spark.streaming.key_groups import (
        GROUP_COL,
        null_col,
        value_col,
    )

    states = {} if states is None else states
    out: list[dict] = []
    group_cols, frame_cols = list(key_cols), list(columns)
    if groups is not None:
        exact = [f(c) for c in columns for f in (value_col, null_col)]
        group_cols, frame_cols = [GROUP_COL], [*columns, GROUP_COL, *exact]

    def call(kt, pdf, st, wm, timed_out=False):
        st._wm, st.hasTimedOut, st.timeout = wm, timed_out, None
        for emitted in fn(kt, iter([pdf]), st):
            out.extend(emitted.to_dict("records"))

    for bi, batch in enumerate(batches):
        wm = wm_seq[bi] if wm_seq else None
        called = set()
        pdf = pd.DataFrame(batch, columns=columns)
        if groups is not None:
            # from the raw rows: pandas holds NULL and NaN alike as NaN
            at = [columns.index(k) for k in key_cols]
            pdf[GROUP_COL] = [groups(tuple(row[j] for j in at)) for row in batch]
            for j, c in enumerate(columns):
                pdf[value_col(c)] = [0 if row[j] is None else row[j] for row in batch]
                pdf[null_col(c)] = [row[j] is None for row in batch]
        for key, grp in pdf.groupby(group_cols, sort=False, dropna=False):
            kt = _null_key(key if isinstance(key, tuple) else (key,))
            called.add(kt)
            call(kt, grp.reset_index(drop=True), states.setdefault(kt, FakeGroupState()), wm)
        empty = pd.DataFrame(columns=frame_cols)
        for kt, st in list(states.items()):
            due = st.timeout is not None and wm is not None and st.timeout < wm
            if kt not in called and due:
                call(kt, empty, st, wm, timed_out=True)
    return out


def one_group(_key: tuple) -> int:
    """The key -> group map that puts every key in one group."""
    return 0


# --------------------------------------------------------------------------
# changelog program generator
# --------------------------------------------------------------------------


def gen_program(rng: random.Random, n_events: int, n_keys: int, payload_gen):
    """A valid changelog: list of (kind, key, payload). -U/-D only ever
    retract a live payload; updates emit the -U/+U pair (which a batch
    split may separate — both engines must tolerate that)."""
    live: dict[int, list] = defaultdict(list)
    events = []
    while len(events) < n_events:
        k = rng.randrange(n_keys)
        candidates = live[k]
        op = rng.random()
        if not candidates or op < 0.5:
            p = payload_gen(rng)
            events.append((INSERT, k, p))
            candidates.append(p)
        elif op < 0.8:
            old = candidates.pop(rng.randrange(len(candidates)))
            new = payload_gen(rng)
            events.append((UPDATE_BEFORE, k, old))
            events.append((UPDATE_AFTER, k, new))
            candidates.append(new)
        else:
            old = candidates.pop(rng.randrange(len(candidates)))
            events.append((DELETE, k, old))
    return events


def split_batches(rng: random.Random, events: list, max_batches: int = 6):
    if not events:
        return [events]
    n = rng.randint(1, max_batches)
    cuts = sorted(rng.sample(range(1, len(events)), min(n - 1, len(events) - 1)))
    out, prev = [], 0
    for c in [*cuts, len(events)]:
        out.append(events[prev:c])
        prev = c
    return out


def qval(rng: random.Random) -> float:
    return rng.randrange(-400, 400) / 4.0  # exact in binary


def eighth(rng: random.Random) -> float:
    """Off the cent grid (0.125 is not a whole number of cents), exact
    in binary."""
    return rng.randrange(-800, 800) / 8.0


# --------------------------------------------------------------------------
# arms: capture + reference interpreter + adjudicate
# --------------------------------------------------------------------------


def _schema(ddl: str):
    from pyspark.sql.types import StructType

    return StructType.fromDDL(ddl)


def check_agg(rng: random.Random) -> str | None:
    """streaming_retracting_multi_agg (COUNT(*), SUM) vs
    GroupAggFunction.java:125-172."""
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    events = gen_program(rng, rng.randint(4, 40), rng.randint(1, 4), qval)
    cap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, v DOUBLE"))
    streaming_retracting_multi_agg(cap, ["k"], COUNT_SUM, rowkind_col=ROWKIND)
    rows = [(kind, k, v) for kind, k, v in events]
    emissions = replay(
        cap.fn,
        split_batches(rng, rows),
        ["k"],
        [ROWKIND, "k", "v"],
    )
    # fold: latest emission per key; -D kills the key
    folded: dict = {}
    last_kind: dict = {}
    for r in emissions:
        prev = last_kind.get(r["k"])
        if prev == DELETE and r[ROWKIND] == INSERT:
            pass  # re-insert after emptiness: legal
        elif prev is None and r[ROWKIND] != INSERT:
            return f"first emission for key {r['k']} is {r[ROWKIND]}, want +I"
        folded[r["k"]] = (r["n"], r["total"])
        last_kind[r["k"]] = r[ROWKIND]
    live = {k: v for k, v in folded.items() if last_kind[k] != DELETE}
    # reference: single-threaded accumulate/retract
    ref: dict = {}
    for kind, k, v in events:
        s = 1 if kind in ADD else -1
        n, t = ref.get(k, (0, 0.0))
        n, t = n + s, t + s * v
        if n == 0:
            ref.pop(k, None)
        else:
            ref[k] = (n, t)
    if {k: (n, t) for k, (n, t) in live.items()} != ref:
        return f"agg state {live} != ref {ref}"
    return None


def check_topn(rng: random.Random) -> str | None:
    """streaming_retractable_topn vs RetractableTopNFunction."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_retractable_topn,
    )

    n = rng.randint(1, 4)
    events = gen_program(
        rng,
        rng.randint(4, 40),
        rng.randint(1, 3),
        lambda r: (qval(r), r.randrange(1000)),
    )
    cap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, v DOUBLE, id BIGINT"))
    streaming_retractable_topn(
        cap, keys=["k"], order_cols=["v", "id"], n=n, ascending=False
    )
    rows = [(kind, k, p[0], p[1]) for kind, k, p in events]
    emissions, err = _replay_key_groups(
        rng, cap.fn, ["k"], [ROWKIND, "k", "v", "id"], split_batches(rng, rows)
    )
    if err:
        return f"topn {err}"
    # adjudicate: per key, the max-__epoch emission set is the final top-N
    per_key: dict = defaultdict(list)
    for r in emissions:
        per_key[r["k"]].append(r)
    got: dict = {}
    for k, rs in per_key.items():
        top_epoch = max(r["__epoch"] for r in rs)
        got[k] = sorted(
            (r["v"], r["id"], r["rn"])
            for r in rs
            if r["__epoch"] == top_epoch and r["rn"] >= 1
        )
    # reference: live multiset -> sort desc by (v, id) -> head n.
    # NOTE the operator ranks ascending=False on EVERY order col.
    live: dict = defaultdict(Counter)
    for kind, k, p in events:
        live[k][p] += 1 if kind in ADD else -1
    ref: dict = {}
    for k, bag in live.items():
        expanded = sorted(
            (t for t, m in bag.items() for _ in range(m)),
            key=lambda t: (t[0], t[1]),
            reverse=True,
        )[:n]
        if expanded:
            ref[k] = sorted(
                (v, i, rn + 1) for rn, (v, i) in enumerate(expanded)
            )
    got = {k: v for k, v in got.items() if k in ref or v}
    # keys whose final top-N is empty never re-emit after draining; drop
    # empty-vs-missing asymmetry by comparing only non-empty refs, but
    # a got entry for a key with empty ref is a divergence
    for k in list(got):
        if k not in ref:
            # operator drains to empty by construction? it re-emits
            # nothing when live set empties (expanded==[]) — the last
            # non-empty emission survives the fold. Re-check against
            # the last NON-EMPTY reference prefix is impossible without
            # replay; instead require the live bag truly emptied.
            if any(m > 0 for m in live[k].values()):
                return f"topn key {k} emitted {got[k]} but ref has no rows"
            got.pop(k)
    if got != ref:
        return f"topn {got} != ref {ref}"
    return None


def check_atopn(rng: random.Random) -> str | None:
    """streaming_topn vs AppendOnlyTopNFunction: each batch that
    touches a key emits the key's top n of all its rows so far, stably
    sorted by a BIGINT value (ascending or descending, NULL last either
    way, ties in arrival order). Keys, values and ids are drawn with
    NULLs and beyond 2**53, so a value rounded through float64 shows."""
    from flink_release_1_16_0_spark.streaming.stateful import streaming_topn

    n, ascending = rng.randint(1, 4), rng.random() < 0.5
    keys = [None, *[2**62 + i for i in range(rng.randint(1, 3))]]
    rows = [
        (
            rng.choice(keys),
            rng.choice([None, 2**62 + rng.randrange(4), rng.randrange(-3, 3)]),
            2**53 + 1 + i,
        )
        for i in range(rng.randint(3, 40))
    ]
    batches = split_batches(rng, rows)
    cap = _Cap(_schema("k BIGINT, v BIGINT, id BIGINT"))
    streaming_topn(cap, keys=["k"], order_col="v", n=n, ascending=ascending)
    emissions, err = _replay_key_groups(rng, cap.fn, ["k"], ["k", "v", "id"], batches)
    if err:
        return f"atopn {err}"
    got: dict = defaultdict(list)
    for r in emissions:
        got[_plain(r["k"])].append((_plain(r["v"]), r["id"]))
    seen: dict = defaultdict(list)
    ref: dict = defaultdict(list)
    for b in batches:
        for k in dict.fromkeys(k for k, _v, _i in b):
            seen[k] += [(v, i) for kk, v, i in b if kk == k]
            ranked = sorted(
                seen[k],
                key=lambda r: (r[0] is None, 0 if r[0] is None else r[0] if ascending else -r[0]),
            )
            ref[k] += ranked[:n]
    if dict(got) != dict(ref):
        return f"atopn n={n} asc={ascending}: {dict(got)} != ref {dict(ref)}"
    return None


def check_minmax(rng: random.Random) -> str | None:
    """streaming_retracting_multi_agg (COUNT(*), MIN, MAX) over a
    changelog vs Min/MaxWithRetractAggFunction: the folded -U/+U/-D
    changelog must leave each key's live count and extrema, and no row
    for a key whose bag emptied."""
    from flink_release_1_16_0_spark.streaming.retract_agg import (
        streaming_retracting_multi_agg,
    )

    events = gen_program(rng, rng.randint(4, 40), rng.randint(1, 4), eighth)
    cap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, v DOUBLE"))
    streaming_retracting_multi_agg(
        cap,
        ["k"],
        [
            ("n_live", "count_star", None, LongType()),
            ("min_v", "min", "v", DoubleType()),
            ("max_v", "max", "v", DoubleType()),
        ],
        rowkind_col=ROWKIND,
    )
    rows = [(kind, k, v) for kind, k, v in events]
    emissions = replay(
        cap.fn, split_batches(rng, rows), ["k"], [ROWKIND, "k", "v"]
    )
    got: dict = {}
    for r in emissions:
        row = (r["n_live"], r["min_v"], r["max_v"])
        if r[ROWKIND] in ADD:
            got[r["k"]] = row
        elif got.pop(r["k"], None) != row:
            return f"minmax {r[ROWKIND]} {row} does not retract the live row of {r['k']}"
    live: dict = defaultdict(Counter)
    for kind, k, v in events:
        live[k][v] += 1 if kind in ADD else -1
    ref: dict = {}
    for k, bag in live.items():
        vals = [v for v, m in bag.items() for _ in range(m)]
        if vals:
            ref[k] = (len(vals), min(vals), max(vals))
    if got != ref:
        return f"minmax {got} != ref {ref}"
    return None


def check_join(rng: random.Random) -> str | None:
    """streaming_changelog_join vs StreamingJoinOperator state algebra
    across the FULL join matrix: folded emissions must equal the netted
    outer join — {(k,l,r): mL*mR} plus null-padded outer rows with
    their own multiplicity (OuterJoinRecordStateView's protocol); the
    random batch slicings drive the association flips (null-pad
    retraction when a key's first match lands in a later batch)."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_join,
    )

    join_type = rng.choice(["inner", "left", "right", "full"])
    n_keys = rng.randint(1, 3)
    lev = gen_program(rng, rng.randint(3, 25), n_keys, lambda r: r.randrange(50))
    rev = gen_program(rng, rng.randint(3, 25), n_keys, lambda r: r.randrange(50, 100))
    lcap = _Cap(_schema(f"{ROWKIND} STRING, seq BIGINT, k BIGINT, lv BIGINT"))
    rcap = _Cap(_schema(f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rv BIGINT"))
    streaming_changelog_join(
        lcap, rcap, keys=["k"], seq_col="seq", join_type=join_type
    )
    fn = lcap.fn or rcap.fn
    # interleave the two sides preserving each side's order (the union),
    # tagging __side; seq = global arrival order
    merged = []
    li = ri = 0
    while li < len(lev) or ri < len(rev):
        take_left = ri >= len(rev) or (li < len(lev) and rng.random() < 0.5)
        if take_left:
            kind, k, p = lev[li]
            li += 1
            merged.append((kind, len(merged), k, "L", p, None))
        else:
            kind, k, p = rev[ri]
            ri += 1
            merged.append((kind, len(merged), k, "R", None, p))
    emissions = replay(
        fn,
        split_batches(rng, merged),
        ["k"],
        [ROWKIND, "seq", "k", "__side", "lv", "rv"],
    )
    def norm(x):
        # pandas renders emitted Nones as NaN and upcasts int columns
        # containing NaN to float — normalize so the fold's tuple keys
        # compare (a harness artifact; Arrow carries real NULLs on the
        # Spark path)
        if isinstance(x, float):
            if x != x:
                return None
            if x.is_integer():
                return int(x)
        return x

    folded: Counter = Counter()
    for r in emissions:
        s = r["__m"] if r[ROWKIND] == INSERT else -r["__m"]
        folded[(norm(r["k"]), norm(r["lv"]), norm(r["rv"]))] += s
    folded = Counter({t: m for t, m in folded.items() if m != 0})
    lbag: dict = defaultdict(Counter)
    rbag: dict = defaultdict(Counter)
    for kind, k, p in lev:
        lbag[k][p] += 1 if kind in ADD else -1
    for kind, k, p in rev:
        rbag[k][p] += 1 if kind in ADD else -1
    ref: Counter = Counter()
    for k in set(lbag) | set(rbag):
        ll = [(p, m) for p, m in lbag[k].items() if m > 0]
        rr = [(p, m) for p, m in rbag[k].items() if m > 0]
        for lp, ml in ll:
            for rp, mr in rr:
                ref[(k, lp, rp)] = ml * mr
        if not rr and join_type in ("left", "full"):
            for lp, ml in ll:
                ref[(k, lp, None)] = ml
        if not ll and join_type in ("right", "full"):
            for rp, mr in rr:
                ref[(k, None, rp)] = mr
    if folded != ref:
        return f"join[{join_type}] folded {dict(folded)} != ref {dict(ref)}"
    return None


def check_dedup(rng: random.Random) -> str | None:
    """streaming_dedup_keep_last/first refinement across random batch
    slicings vs the global winner (RowTimeDeduplicateFunction)."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_dedup_keep_last,
    )

    keep = rng.choice(["first", "last"])
    n_keys = rng.randint(1, 4)
    rows = [
        (rng.randrange(n_keys), qval(rng), rng.randrange(10_000))
        for _ in range(rng.randint(3, 40))
    ]
    cap = _Cap(_schema("k BIGINT, v DOUBLE, id BIGINT"))
    streaming_dedup_keep_last(cap, keys=["k"], order_col=["v", "id"], keep=keep)
    emissions, err = _replay_key_groups(
        rng, cap.fn, ["k"], ["k", "v", "id"], split_batches(rng, rows)
    )
    if err:
        return f"dedup[{keep}] {err}"
    got: dict = {}
    for r in emissions:
        got[r["k"]] = (r["v"], r["id"])
    ref: dict = {}
    for k, v, i in rows:
        cur = ref.get(k)
        cand = (v, i)
        if cur is None or (cand > cur if keep == "last" else cand < cur):
            ref[k] = cand
    if got != ref:
        return f"dedup[{keep}] {got} != ref {ref}"
    return None


def check_wdedup(rng: random.Random) -> str | None:
    """streaming_window_dedup with watermark-driven eviction: late rows
    drop when the window has FIRED — wm >= windowEnd - 1, the
    reference's TimeWindowUtil.isWindowFired boundary — and winners of
    fired windows freeze; the fold must equal a reference applying the
    same on-time rule."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_window_dedup,
    )

    size = 100  # window size in "ms"
    n_keys = rng.randint(1, 3)
    rows = []
    t = 0
    for _ in range(rng.randint(4, 40)):
        t += rng.randrange(0, 40)
        win = (t // size) * size
        # bounded disorder: event may belong to a slightly older window
        if rng.random() < 0.3 and win >= size:
            win -= size * rng.randint(1, 2)
        rows.append(
            (rng.randrange(n_keys), win, t, rng.randrange(10_000))
        )
    batches = split_batches(rng, rows)
    # watermark sequence: Spark's rule — wm for batch i is max event
    # time seen in batches < i minus the delay (here delay=0 on ts)
    wm_seq, seen_max = [], 0
    for b in batches:
        wm_seq.append(seen_max)
        for _, _, ts, _ in b:
            seen_max = max(seen_max, ts)
    cap = _Cap(_schema("k BIGINT, win BIGINT, ts BIGINT, id BIGINT"))
    streaming_window_dedup(
        cap,
        window_col="win",
        keys=["k"],
        order_col=["ts", "id"],
        keep="first",
        window_size_ms=size,
    )
    emissions, err = _replay_key_groups(
        rng, cap.fn, ["k"], ["k", "win", "ts", "id"], batches, wm_seq
    )
    if err:
        return f"wdedup {err}"
    got: dict = {}
    for r in emissions:
        got[(r["k"], r["win"])] = (r["ts"], r["id"])
    # reference: replay batches with the same wm; on-time rows refine
    ref: dict = {}
    for b, wm in zip(batches, wm_seq):
        for k, win, ts, i in b:
            if wm > 0 and win + size - 1 <= wm:
                continue  # window fired (isWindowFired): dropped
            cur = ref.get((k, win))
            if cur is None or (ts, i) < cur:
                ref[(k, win)] = (ts, i)
    if got != ref:
        return f"wdedup {got} != ref {ref}"
    return None


def check_semi(rng: random.Random) -> str | None:
    """streaming_changelog_semi_anti_join vs the netted EXISTS /
    NOT EXISTS semi-join (StreamingSemiAntiJoinOperator's
    associatedRecords emptiness flips), under random batch slicings."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_changelog_semi_anti_join,
    )

    anti = rng.random() < 0.5
    n_keys = rng.randint(1, 3)
    lev = gen_program(rng, rng.randint(3, 25), n_keys, lambda r: r.randrange(50))
    rev = gen_program(rng, rng.randint(3, 25), n_keys, lambda r: r.randrange(50, 100))
    lcap = _Cap(_schema(f"{ROWKIND} STRING, seq BIGINT, k BIGINT, lv BIGINT"))
    rcap = _Cap(_schema(f"{ROWKIND} STRING, seq BIGINT, k BIGINT, rv BIGINT"))
    streaming_changelog_semi_anti_join(
        lcap, rcap, keys=["k"], seq_col="seq", anti=anti
    )
    fn = lcap.fn or rcap.fn
    merged = []
    li = ri = 0
    while li < len(lev) or ri < len(rev):
        take_left = ri >= len(rev) or (li < len(lev) and rng.random() < 0.5)
        if take_left:
            kind, k, p = lev[li]
            li += 1
            merged.append((kind, len(merged), k, "L", p, None))
        else:
            kind, k, p = rev[ri]
            ri += 1
            merged.append((kind, len(merged), k, "R", None, p))
    emissions = replay(
        fn,
        split_batches(rng, merged),
        ["k"],
        [ROWKIND, "seq", "k", "__side", "lv", "rv"],
    )
    folded: Counter = Counter()
    for r in emissions:
        s = r["__m"] if r[ROWKIND] == INSERT else -r["__m"]
        folded[(r["k"], int(r["lv"]))] += s
    folded = Counter({t: m for t, m in folded.items() if m != 0})
    lbag: dict = defaultdict(Counter)
    rtot: Counter = Counter()
    for kind, k, p in lev:
        lbag[k][p] += 1 if kind in ADD else -1
    for kind, k, _p in rev:
        rtot[k] += 1 if kind in ADD else -1
    ref: Counter = Counter()
    for k, bag in lbag.items():
        has = rtot[k] > 0
        if has != anti:
            for lp, ml in bag.items():
                if ml > 0:
                    ref[(k, lp)] = ml
    if folded != ref:
        return f"semi[anti={anti}] folded {dict(folded)} != ref {dict(ref)}"
    return None


def check_antijoin(rng: random.Random) -> str | None:
    """streaming_anti_join vs StreamingSemiAntiJoinOperator's anti
    branch: a left row emits exactly once, when its interval window
    closes under the watermark with no right match; late rows drop.
    The reference interpreter replays the same per-batch watermark
    schedule; every key's closed windows finalize in the batch whose
    watermark closes them (the operator's event-time timeout)."""
    from flink_release_1_16_0_spark.streaming.stateful import streaming_anti_join

    lower, upper = 0, 50
    n_keys = rng.randint(1, 3)
    rows, t = [], 0
    for _ in range(rng.randint(5, 40)):
        t += rng.randrange(0, 30)
        side = 0 if rng.random() < 0.6 else 1
        # bounded disorder
        ts = max(0, t - (rng.randrange(0, 25) if rng.random() < 0.3 else 0))
        rows.append((rng.randrange(n_keys), pd.Timestamp(ts, unit="ms"), side))
    batches = split_batches(rng, rows)
    wm_seq, seen = [], 0
    for b in batches:
        wm_seq.append(seen)
        for _, ts, _ in b:
            seen = max(seen, ts.value // 1_000_000)

    lcap = _Cap(_schema("k BIGINT, lts TIMESTAMP, lv BIGINT"))
    rcap = _Cap(_schema("k BIGINT, rts TIMESTAMP"))
    streaming_anti_join(
        lcap, rcap, keys=["k"], l_ts_col="lts", r_ts_col="rts",
        lower_ms=lower, upper_ms=upper,
    )
    fn = lcap.fn or rcap.fn
    # the unioned layout the operator's fn expects
    merged_batches = [
        [(k, ts, side, None if side else 7) for k, ts, side in b]
        for b in batches
    ]
    emissions = replay(
        fn,
        merged_batches,
        ["k"],
        ["k", "__t", "__side", "lv"],
        wm_seq=wm_seq,
    )
    got = Counter(
        (r["k"], pd.Timestamp(r["lts"]).value // 1_000_000) for r in emissions
    )
    # reference: same schedule, single-threaded
    pending: dict = defaultdict(list)
    rights: dict = defaultdict(list)
    ref: Counter = Counter()
    for b, wm in zip(batches, wm_seq):
        touched = {}
        for k, ts, side in b:
            touched.setdefault(k, []).append((ts, side))
        for k, evs in touched.items():
            for ts, side in evs:
                m = ts.value // 1_000_000
                if m < wm:
                    continue  # late (ts == wm is on time)
                (rights if side else pending)[k].append(m)
        for k in list(pending):
            still = []
            for lm in pending[k]:
                if lm + upper <= wm:
                    if not any(
                        lm + lower <= rm < lm + upper for rm in rights[k]
                    ):
                        ref[(k, lm)] += 1
                else:
                    still.append(lm)
            pending[k] = still
    if got != ref:
        return f"antijoin {dict(got)} != ref {dict(ref)}"
    return None


OVER_COLS = ["k", "ts", "id", "v"]


def _event_time_program(rng: random.Random):
    """(key, ts, id, v) events over up to 8 keys, one of them NULL,
    with bounded disorder + the per-batch watermark sequence (delay 0
    over the max seen event time); values are off the cent grid."""
    keys = [None, *range(rng.randint(0, 7))]
    rows, t = [], 0
    for i in range(rng.randint(5, 40)):
        t += rng.randrange(0, 30)
        ts = max(0, t - (rng.randrange(0, 25) if rng.random() < 0.3 else 0))
        rows.append((rng.choice(keys), pd.Timestamp(ts, unit="ms"), i, eighth(rng)))
    batches = split_batches(rng, rows)
    wm_seq, seen = [], 0
    for b in batches:
        wm_seq.append(seen)
        for _, ts, _, _ in b:
            seen = max(seen, ts.value // 1_000_000)
    return batches, wm_seq


def _plain(v):
    """An emitted value with pandas' NULLs (NaN, NaT) as None."""
    return None if not isinstance(v, (list, tuple)) and pd.isna(v) else v


def _replay_key_groups(rng, fn, key_cols, columns, batches, wm_seq=None):
    """Replay a key-grouped operator under three key -> group maps (all
    keys in one group, one group per key, a random map); each key's
    emissions, in order, must not depend on the map. Returns (the
    one-group run's emissions, None) or (None, error)."""
    one: dict = {}
    spread: dict = {}
    maps = (
        one_group,
        lambda k: one.setdefault(k, len(one)),
        lambda k: spread.setdefault(k, rng.randrange(3)),
    )
    runs = []
    for groups in maps:
        emissions = replay(fn, batches, key_cols, columns, wm_seq=wm_seq, groups=groups)
        per_key: dict = defaultdict(list)
        for r in emissions:
            per_key[tuple(_plain(r[k]) for k in key_cols)].append(
                {c: _plain(v) for c, v in r.items()}
            )
        runs.append((emissions, dict(per_key)))
    if any(per_key != runs[0][1] for _e, per_key in runs[1:]):
        return None, f"groupings differ: {[p for _e, p in runs]}"
    return runs[0][0], None


def _over_emissions(emissions, names) -> Counter:
    """OVER emissions as a Counter of (k, id, ts ms, *names)."""
    return Counter(
        (_plain(r["k"]), r["id"], pd.Timestamp(r["ts"]).value // 1_000_000,
         *[r[n] for n in names])
        for r in emissions
    )


def _release_all(batches, wm_seq):
    """The reference's watermark schedule: per batch, on-time rows join
    their key's pending rows, then every key releases its rows with
    ``ts <= wm`` in (ts, id) order (the reference's event-time timers
    fire for every key, not only for keys that got data). Yields
    (key, released rows) per batch and key."""
    pending: dict = defaultdict(list)
    for b, wm in zip(batches, wm_seq):
        for k, ts, i, v in b:
            m = ts.value // 1_000_000
            if m >= wm:
                pending[k].append((m, i, v))
        for k in list(pending):
            ready = sorted(p for p in pending[k] if p[0] <= wm)
            pending[k] = [p for p in pending[k] if p[0] > wm]
            if ready:
                yield k, ready


def check_over_rows(rng: random.Random) -> str | None:
    """streaming_over_rows_event_time vs
    RowTimeRowsUnboundedPrecedingFunction: rows buffer until the
    watermark passes, finalize in (ts, id) order with the running
    (count, exact sum); late rows drop."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_event_time,
    )

    batches, wm_seq = _event_time_program(rng)
    cap = _Cap(_schema("k BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE"))
    streaming_over_rows_event_time(
        cap, keys=["k"], value_col="v", id_col="id", ts_col="ts"
    )
    emissions, err = _replay_key_groups(rng, cap.fn, ["k"], OVER_COLS, batches, wm_seq)
    if err:
        return f"over_rows {err}"
    got = _over_emissions(emissions, ("running_n", "running_sum"))
    acc: dict = defaultdict(lambda: [0, Fraction(0)])  # n, exact sum
    ref: Counter = Counter()
    for k, ready in _release_all(batches, wm_seq):
        for m, i, v in ready:
            acc[k][0] += 1
            acc[k][1] += Fraction(v)
            ref[(k, i, m, acc[k][0], float(acc[k][1]))] += 1
    if got != ref:
        return f"over_rows {dict(got)} != ref {dict(ref)}"
    return None


def check_over_range(rng: random.Random) -> str | None:
    """streaming_over_range_event_time vs
    RowTimeRangeBoundedPrecedingFunction, with the reference frame
    computed from FULL history (no eviction) — so the operator's
    state-retirement logic is checked against the semantic definition;
    peers (equal ts) share one frame including all peers."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_range_event_time,
    )

    bound = 40
    batches, wm_seq = _event_time_program(rng)
    cap = _Cap(_schema("k BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE"))
    streaming_over_range_event_time(
        cap, keys=["k"], value_col="v", id_col="id", ts_col="ts",
        bound_ms=bound,
    )
    emissions, err = _replay_key_groups(rng, cap.fn, ["k"], OVER_COLS, batches, wm_seq)
    if err:
        return f"over_range {err}"
    got = _over_emissions(emissions, ("win_n", "win_sum"))
    finalized: dict = defaultdict(list)  # full history, never evicted
    ref: Counter = Counter()
    for k, ready in _release_all(batches, wm_seq):
        finalized[k].extend(ready)
        # frames from the FULL finalized history
        done_ts = set()
        for m, i, v in ready:
            if m in done_ts:
                continue
            done_ts.add(m)
            frame = [f for f in finalized[k] if m - bound <= f[0] <= m]
            total = float(sum(Fraction(f[2]) for f in frame))
            for fm, fi, _fv in ready:
                if fm == m:
                    ref[(k, fi, m, len(frame), total)] += 1
    if got != ref:
        return f"over_range {dict(got)} != ref {dict(ref)}"
    return None


def check_over_bounded(rng: random.Random) -> str | None:
    """streaming_over_rows_bounded_event_time vs
    RowTimeRowsBoundedPrecedingFunction, with the reference frame taken
    from FULL history: each finalized row sees itself and the
    ``n_rows - 1`` rows before it in (ts, id) order — its own frame, no
    peer sharing — so the retained-state trim is checked against the
    semantic definition."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_over_rows_bounded_event_time,
    )

    n_rows = rng.randint(1, 5)
    batches, wm_seq = _event_time_program(rng)
    cap = _Cap(_schema("k BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE"))
    streaming_over_rows_bounded_event_time(
        cap, keys=["k"], value_col="v", id_col="id", ts_col="ts",
        n_rows=n_rows,
    )
    emissions, err = _replay_key_groups(rng, cap.fn, ["k"], OVER_COLS, batches, wm_seq)
    if err:
        return f"over_bounded(n_rows={n_rows}) {err}"
    got = _over_emissions(emissions, ("win_n", "win_sum"))
    finalized: dict = defaultdict(list)  # full history, never evicted
    ref: Counter = Counter()
    for k, ready in _release_all(batches, wm_seq):
        for m, i, v in ready:
            finalized[k].append((m, i, v))
            frame = finalized[k][-n_rows:]
            total = float(sum(Fraction(f[2]) for f in frame))
            ref[(k, i, m, len(frame), total)] += 1
    if got != ref:
        return f"over_bounded(n_rows={n_rows}) {dict(got)} != ref {dict(ref)}"
    return None


def check_normalize(rng: random.Random) -> str | None:
    """streaming_upsert_to_retract vs the reference semantics of
    StreamExecChangelogNormalize: fold of the emitted retract log must
    equal the upsert log's final materialization, AND the emission
    SEQUENCE must be the per-key deterministic -U/+U protocol,
    independent of batch boundaries."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_upsert_to_retract,
    )

    n_keys = rng.randint(1, 4)
    live: dict[int, bool] = defaultdict(bool)
    events = []
    for i in range(rng.randint(3, 40)):
        k = rng.randrange(n_keys)
        if live[k] and rng.random() < 0.3:
            events.append((DELETE, k, None))
            live[k] = False
        else:
            events.append((rng.choice([INSERT, UPDATE_AFTER]), k, qval(rng)))
            live[k] = True
    rows = [(kind, i, k, v) for i, (kind, k, v) in enumerate(events)]
    cap = _Cap(_schema(f"{ROWKIND} STRING, seq BIGINT, k BIGINT, v DOUBLE"))
    streaming_upsert_to_retract(cap, keys=["k"], seq_col="seq")
    emissions, err = _replay_key_groups(
        rng, cap.fn, ["k"], [ROWKIND, "seq", "k", "v"], split_batches(rng, rows)
    )
    if err:
        return f"normalize {err}"
    # fold: the retract log must materialize to the upsert log's final
    folded: dict = {}
    for r in emissions:
        if r[ROWKIND] in ADD:
            folded[r["k"]] = r["v"]
        else:
            folded.pop(r["k"], None)
    ref: dict = {}
    for kind, _i, k, v in rows:
        if kind == DELETE:
            ref.pop(k, None)
        else:
            ref[k] = v
    if folded != ref:
        return f"normalize fold {folded} != ref {ref}"
    # sequence: per key, the exact -U(prev)/+U(new)/-D(prev) protocol
    per_key: dict = defaultdict(list)
    for r in emissions:
        per_key[r["k"]].append((r[ROWKIND], r["v"]))
    expect: dict = defaultdict(list)
    prev: dict = {}
    for kind, _i, k, v in rows:
        if kind == DELETE:
            if k in prev:
                expect[k].append((DELETE, prev.pop(k)))
        elif k in prev:
            expect[k].append((UPDATE_BEFORE, prev[k]))
            expect[k].append((UPDATE_AFTER, v))
            prev[k] = v
        else:
            expect[k].append((INSERT, v))
            prev[k] = v
    if dict(per_key) != {k: v for k, v in expect.items() if v}:
        return f"normalize seq {dict(per_key)} != {dict(expect)}"
    return None


def check_lateness(rng: random.Random) -> str | None:
    """streaming_group_window_agg with allowed lateness vs an
    independent fold: rows on time or within the lateness horizon AT
    ARRIVAL count (WindowOperator.isWindowLate: end - 1 + lateness <=
    wm drops); every window whose end - 1 the final watermark reaches
    fires by the final flush; the folded (n, total) per (key, window)
    must equal the kept-row ground truth, and -U/+U late firings must
    fold cleanly."""
    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )

    size, late = 100, 50
    n_keys = rng.randint(1, 3)
    rows, t = [], 0
    for _ in range(rng.randint(4, 40)):
        t += rng.randrange(0, 40)
        ts = max(0, t - (rng.randrange(0, 180) if rng.random() < 0.4 else 0))
        rows.append((rng.randrange(n_keys), ts, qval(rng)))
    batches = split_batches(rng, rows)
    wm_seq, seen = [], 0
    for b in batches:
        wm_seq.append(seen)
        for _k, ts, _v in b:
            seen = max(seen, ts)
    final_wm = 10**15  # the final flush fires every remaining window
    if rng.random() < 0.5:
        # or it stops where Spark's does, at the max event time: a row
        # of a fresh key moves it to exactly the next window end - 1,
        # where only their timers fire the other keys' windows
        final_wm = (seen // size + 1) * size - 1
        batches.append([(n_keys, final_wm, qval(rng))])
        wm_seq.append(seen)
    batches.append([])
    wm_seq.append(final_wm)
    cap = _Cap(_schema("k BIGINT, ts TIMESTAMP, v DOUBLE"))
    streaming_group_window_agg(
        cap,
        ["k"],
        "ts",
        COUNT_SUM,
        kind="tumble",
        size_ms=size,
        allowed_lateness_ms=late,
    )
    ts_batches = [
        [(k, pd.Timestamp(ts, unit="ms"), v) for k, ts, v in b]
        for b in batches
    ]
    emissions = replay(
        cap.fn, ts_batches, ["k"], ["k", "ts", "v"], wm_seq=wm_seq
    )
    folded: dict = {}
    for r in emissions:
        key = (r["k"], pd.Timestamp(r["window_start"]).value // 1_000_000)
        if r[ROWKIND] in ADD:
            folded[key] = (r["n"], round(r["total"] * 100))
        # UPDATE_BEFORE carries the prior firing; +U follows, so the
        # fold just overwrites — but a -U must MATCH the current fold
        elif r[ROWKIND] == UPDATE_BEFORE:
            if folded.get(key) != (r["n"], round(r["total"] * 100)):
                return f"lateness -U mismatch at {key}: {folded.get(key)} vs {r}"
    ref: dict = {}
    for b, wm in zip(batches, wm_seq):
        for k, ts, v in b:
            w = (ts // size) * size
            if wm >= w + size - 1 + late:
                continue  # beyond the lateness horizon at arrival
            n, cents = ref.get((k, w), (0, 0))
            ref[(k, w)] = (n + 1, cents + round(v * 100))
    ref = {(k, w): nt for (k, w), nt in ref.items() if w + size - 1 <= final_wm}
    if folded != ref:
        return f"lateness fold {folded} != ref {ref}"
    return None


def check_tjoin(rng: random.Random) -> str | None:
    """streaming_temporal_join_event_time (changelog mode) vs the
    TemporalRowTimeJoinOperator semantics: per left row, the version is
    the latest right EVENT at ts <= left ts — a -D tombstone means no
    version — under random batch slicings and trailing watermarks."""
    from flink_release_1_16_0_spark.streaming.stateful import (
        streaming_temporal_join_event_time,
    )
    from pyspark.sql.types import StructField, StructType, TimestampType

    n_keys = rng.randint(1, 3)
    rows, t = [], 0
    for i in range(rng.randint(5, 40)):
        t += rng.randrange(0, 30)
        ts = max(0, t - (rng.randrange(0, 25) if rng.random() < 0.3 else 0))
        if rng.random() < 0.45:  # right/version event
            kind = rng.choice([INSERT, UPDATE_AFTER, UPDATE_AFTER, DELETE])
            rows.append((rng.randrange(n_keys), ts, 0, kind, None, rng.randrange(100)))
        else:  # left row
            rows.append((rng.randrange(n_keys), ts, 1, INSERT, i, None))
    batches = split_batches(rng, rows)
    wm_seq, seen = [], 0
    for b in batches:
        wm_seq.append(seen)
        for _k, ts, *_ in b:
            seen = max(seen, ts)
    batches.append([])
    wm_seq.append(10**15)

    lcap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, lts TIMESTAMP, lid BIGINT"))
    rcap = _Cap(_schema(f"{ROWKIND} STRING, k BIGINT, rts TIMESTAMP, rv BIGINT"))
    rcap.schema = StructType(
        [*rcap.schema.fields, StructField("__t", TimestampType())]
    )
    streaming_temporal_join_event_time(
        lcap, rcap, keys=["k"], left_ts="lts", right_ts="rts",
        changelog=True,
    )
    fn = lcap.fn or rcap.fn
    ts_batches = [
        [(k, pd.Timestamp(ts, unit="ms"), side, kind, lid, rv)
         for k, ts, side, kind, lid, rv in b]
        for b in batches
    ]
    emissions = replay(
        fn, ts_batches, ["k"],
        ["k", "__t", "__side", "__kind", "lid", "rv"], wm_seq=wm_seq,
    )
    got = {}
    for r in emissions:
        rv = r["rv"]
        got[int(r["lid"])] = None if pd.isna(rv) else int(rv)
    # reference: arrival-late rows drop (ts < wm at arrival); then the
    # global event-time replay applies versions/tombstones in (ts,
    # side, arrival) order — versions first at equal ts
    kept = []
    for b, wm in zip(batches, wm_seq):
        for j, ev in enumerate(b):
            if ev[1] >= wm:
                kept.append((ev, len(kept)))
    ordered = sorted(kept, key=lambda e: (e[0][1], e[0][2], e[1]))
    version: dict = {}
    ref = {}
    for (k, ts, side, kind, lid, rv), _a in ordered:
        if side == 0:
            if kind == UPDATE_BEFORE:
                continue  # DropUpdateBefore
            version[k] = None if kind == DELETE else rv
        else:
            ref[lid] = version.get(k)
    if got != ref:
        return f"tjoin {got} != ref {ref}"
    return None


def check_wtvf(rng: random.Random) -> str | None:
    """Differential: the slice-shared window TVF aggregate
    (streaming/window_tvf.streaming_window_tvf_agg — SliceAssigners
    path) vs the legacy per-window group-window aggregate
    (streaming/group_window.streaming_group_window_agg —
    WindowOperator path) on the SAME random rows, watermark schedule,
    and window spec (tumble or size%slide==0 hop, random offset).
    Both implement isWindowFired (wm >= end-1), last-window lateness
    drop, and empty-window suppression independently — any divergence
    in assignment, firing, lateness, or accumulation shows as a
    multiset mismatch of (key, win_start, win_end, count, sum)."""
    import pandas as pd

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )
    from flink_release_1_16_0_spark.streaming.window_tvf import (
        streaming_window_tvf_agg,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    slide = rng.choice([2000, 3000, 5000])
    size = slide * rng.randint(1, 3)
    kind_tvf = "tumble" if size == slide else "hop"
    offset = rng.choice([0, 0, -2500, 1700])
    delay = rng.choice([0, 1000, 5000])
    n_rows = rng.randint(4, 40)
    n_keys = rng.randint(1, 3)

    rows = [
        (rng.randrange(n_keys), rng.randrange(0, 40_000), qval(rng))
        for _ in range(n_rows)
    ]
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("rowtime", TimestampType()),
            StructField("v", DoubleType()),
        ]
    )
    cols = ["k", "rowtime", "v"]
    batches, wm_seq, max_ts = [], [], None
    for k, ts, v in rows:
        wm_seq.append(-(2**60) if max_ts is None else max_ts - delay)
        batches.append([(k, pd.Timestamp(ts * 1_000_000), v)])
        max_ts = ts if max_ts is None else max(max_ts, ts)
    # Spark's final watermark stops at the max event time: a row of a
    # fresh key moves it to exactly the next window end - 1 (window ends
    # sit on offset + k * slide), where only their timers fire the other
    # keys' windows. Both operators must agree after that flush, and
    # after one that fires every window.
    wm = max_ts - delay
    boundary = offset + -((offset - wm - 2) // slide) * slide - 1
    batches.append([(n_keys, pd.Timestamp((boundary + delay) * 1_000_000), qval(rng))])
    wm_seq.append(wm)

    def run(builder, final_wm, **kw):
        cap = _Cap(schema)
        builder(cap, ["k"], "rowtime", **kw)
        return replay(cap.fn, [*batches, []], ["k"], cols, wm_seq=[*wm_seq, final_wm])

    def norm(rows_, sum_from_str):
        out = []
        for r in rows_:
            s = r["s"]
            if sum_from_str and s is not None:
                s = float(s)
            out.append(
                (
                    r["k"],
                    pd.Timestamp(r["window_start"]).value,
                    pd.Timestamp(r["window_end"]).value,
                    r["n"],
                    s,
                )
            )
        return sorted(out)

    for final_wm in (boundary, 10**15):
        tvf = run(
            streaming_window_tvf_agg,
            final_wm,
            aggs=[("n", "count_star", None, LongType()),
                  ("s", "sum", "v", DoubleType())],
            kind=kind_tvf,
            size_ms=size,
            slide_ms=None if kind_tvf == "tumble" else slide,
            offset_ms=offset,
        )
        legacy = run(
            streaming_group_window_agg,
            final_wm,
            aggs=[("n", "count_star", None, LongType()),
                  ("s", "sum", "v", StringType())],
            kind="tumble" if kind_tvf == "tumble" else "sliding",
            size_ms=size,
            slide_ms=None if kind_tvf == "tumble" else slide,
            offset_ms=offset,
        )
        a = norm(tvf, sum_from_str=False)
        b = norm([r for r in legacy if r[ROWKIND] == INSERT], sum_from_str=True)
        if a != b:
            return (
                f"wtvf diverges (kind={kind_tvf} size={size} slide={slide} "
                f"offset={offset} delay={delay} final_wm={final_wm}): "
                f"tvf={a} legacy={b}"
            )
    return None


def check_wtvf_distinct(rng: random.Random) -> str | None:
    """High-cardinality distinct accumulators (VERDICT r12 weak item):
    COUNT(DISTINCT) with value cardinality far above the per-window row
    count, differential between the slice-shared TVF agg and the legacy
    group-window agg (independent dict-multiset implementations), plus
    the TUMBLE concat_distinct arrival-order pin against a pure-python
    model (single slice -> insertion order is arrival order)."""
    import pandas as pd

    from flink_release_1_16_0_spark.streaming.group_window import (
        streaming_group_window_agg,
    )
    from flink_release_1_16_0_spark.streaming.window_tvf import (
        streaming_window_tvf_agg,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    size = rng.choice([2000, 3000, 5000])
    delay = rng.choice([0, 1000, 5000])
    n_rows = rng.randint(50, 300)
    n_keys = rng.randint(1, 3)

    rows = [
        (rng.randrange(n_keys), rng.randrange(0, 40_000), rng.randrange(10_000))
        for _ in range(n_rows)
    ]
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("rowtime", TimestampType()),
            StructField("v", LongType()),
        ]
    )
    cols = ["k", "rowtime", "v"]
    batches, wm_seq, max_ts = [], [], None
    wm_at = []  # the watermark visible when each row is accumulated
    for k, ts, v in rows:
        wm = -(2**60) if max_ts is None else max_ts - delay
        wm_seq.append(wm)
        wm_at.append(wm)
        batches.append([(k, pd.Timestamp(ts * 1_000_000), v)])
        max_ts = ts if max_ts is None else max(max_ts, ts)
    batches.append([])
    wm_seq.append(10**15)

    def run(builder, aggs, kind):
        cap = _Cap(schema)
        builder(cap, ["k"], "rowtime", aggs=aggs, kind=kind, size_ms=size)
        return replay(cap.fn, batches, ["k"], cols, wm_seq=wm_seq)

    tvf = run(
        streaming_window_tvf_agg,
        [("cd", "count_distinct", "v", LongType()),
         ("cc", "concat_distinct", "v", StringType())],
        "tumble",
    )
    legacy = run(
        streaming_group_window_agg,
        [("cd", "count_distinct", "v", LongType())],
        "tumble",
    )

    a = sorted(
        (r["k"], pd.Timestamp(r["window_start"]).value, r["cd"]) for r in tvf
    )
    b = sorted(
        (r["k"], pd.Timestamp(r["window_start"]).value, r["cd"])
        for r in legacy
        if r[ROWKIND] == INSERT
    )
    if a != b:
        return f"wtvf_distinct count diverges: tvf={a[:6]} legacy={b[:6]}"

    # python model of the tumble concat_distinct (arrival-ordered
    # distinct of non-late rows per fired (key, window)); the replay
    # watermark is monotone, so a row is late iff wm >= end - 1 at its
    # own batch (isWindowFired under fire-before-accumulate)
    model: dict = {}
    for i, (k, ts, v) in enumerate(rows):
        we = (ts // size + 1) * size
        if wm_at[i] >= we - 1:
            continue
        model.setdefault((k, we), []).append(v)
    expect = {
        (k, (we - size) * 1_000_000): "|".join(
            str(v) for v in dict.fromkeys(vals)
        )
        for (k, we), vals in model.items()
    }
    got = {
        (r["k"], pd.Timestamp(r["window_start"]).value): r["cc"] for r in tvf
    }
    if got != expect:
        diff = {kk: (got.get(kk), expect.get(kk)) for kk in set(got) ^ set(expect) or set(got)}
        return f"wtvf_distinct concat diverges (size={size} delay={delay}): {list(diff.items())[:3]}"
    return None


def _window_program(rng: random.Random):
    """Random rows for the window join and TopN arms under a random
    tumble or hop spec: (side, key, ts ms, id, value) rows in random
    batches, the watermark each batch sees (max ts so far - delay), and
    the no-data flushes: at the next window end - 1, then maybe one that
    fires everything. Keys are 0..2 or NULL; values tie or are NULL."""
    slide = rng.choice([2000, 3000, 5000])
    size = slide * rng.choice([1, 1, 2, 3])
    offset = rng.choice([0, 0, -2500, 1700])
    delay = rng.choice([0, 1000, 5000])
    rows = [
        (
            rng.randrange(2),
            None if rng.random() < 0.1 else rng.randrange(3),
            rng.randrange(0, 40_000),
            i,
            None if rng.random() < 0.1 else float(rng.randrange(4)),
        )
        for i in range(rng.randint(4, 40))
    ]
    batches = split_batches(rng, rows, max_batches=8)
    wm_seq, seen = [], None
    for b in batches:
        wm_seq.append(-(2**60) if seen is None else seen - delay)
        seen = max(seen or 0, *(r[2] for r in b))
    flushes = [offset + -((offset - (seen - delay) - 2) // slide) * slide - 1]
    if rng.random() < 0.5:
        flushes.append(10**15)
    spec = {"size_ms": size, "offset_ms": offset}
    if size != slide:
        spec.update(kind="hop", slide_ms=slide)
    return spec, batches, wm_seq, flushes


def _fired_windows(spec: dict, batches, wm_seq, final_wm: int) -> dict:
    """Reference: the rows of each fired (key, window end), in arrival
    order. A row joins each window that holds it (starts on the offset
    grid every slide, size long) and that its batch's watermark had not
    fired (wm < end - 1); a window fires once the final watermark
    reaches end - 1."""
    size, offset = spec["size_ms"], spec["offset_ms"]
    slide = spec.get("slide_ms", size)
    wins: dict = defaultdict(list)
    for b, wm in zip(batches, wm_seq):
        for row in b:
            start = row[2] - (row[2] - offset) % slide
            for j in range(size // slide):
                e = start - j * slide + size
                if wm < e - 1 <= final_wm:
                    wins[(row[1], e)].append(row)
    return wins


def _int(v):
    return None if v is None or v != v else int(v)


def check_wjoin(rng: random.Random) -> str | None:
    """streaming_window_tvf_join (inner/left/semi/anti) vs a per-window
    reference: each fired (key, window) joins the rows it accepted; a
    NULL key never matches."""
    from flink_release_1_16_0_spark.streaming.window_tvf import (
        streaming_window_tvf_join,
    )

    join_type = rng.choice(["inner", "left", "semi", "anti"])
    spec, batches, wm_seq, flushes = _window_program(rng)
    lcap = _Cap(_schema("k BIGINT, ts TIMESTAMP, lid BIGINT"))
    rcap = _Cap(_schema("k BIGINT, ts TIMESTAMP, rid BIGINT"))
    streaming_window_tvf_join(lcap, rcap, ["k"], "ts", join_type=join_type, **spec)
    frames = [
        [
            (k, pd.Timestamp(ts, unit="ms"), "LR"[side], None if side else i, i if side else None)
            for side, k, ts, i, _v in b
        ]
        for b in batches
    ]
    emissions = replay(
        lcap.fn, [*frames, *[[] for _ in flushes]], ["k"],
        ["k", "ts", "__side", "lid", "rid"], wm_seq=[*wm_seq, *flushes],
    )
    got = Counter(
        (_int(r["k"]), pd.Timestamp(r["window_start"]).value // 10**6,
         pd.Timestamp(r["window_end"]).value // 10**6, _int(r["lid"]), _int(r.get("rid")))
        for r in emissions
    )
    ref: Counter = Counter()
    for (k, e), rows in _fired_windows(spec, batches, wm_seq, flushes[-1]).items():
        lids = [r[3] for r in rows if r[0] == 0]
        rids = [r[3] for r in rows if r[0] == 1]
        joined = k is not None and bool(lids) and bool(rids)
        if join_type in ("semi", "anti"):
            pairs = [(i, None) for i in lids] if joined == (join_type == "semi") else []
        elif joined:
            pairs = [(i, j) for i in lids for j in rids]
        else:
            pairs = [(i, None) for i in lids] if join_type == "left" else []
        ref.update((k, e - spec["size_ms"], e, i, j) for i, j in pairs)
    if got != ref:
        return f"wjoin {join_type} {spec} flushes={flushes}: got-ref={got - ref} ref-got={ref - got}"
    return None


def check_wtopn(rng: random.Random) -> str | None:
    """streaming_window_tvf_topn vs a per-window reference: the rows
    each fired (key, window) accepted, stably sorted by value and maybe
    id, each ascending or descending (NULL lowest; ties keep arrival
    order), ranks rank_start..rank_end."""
    from flink_release_1_16_0_spark.streaming.window_tvf import (
        streaming_window_tvf_topn,
    )

    rank_end = rng.randint(1, 3)
    rank_start = rng.randint(1, rank_end)
    order = [("v", rng.random() < 0.5)]
    if rng.random() < 0.5:
        order.append(("id", rng.random() < 0.5))
    spec, batches, wm_seq, flushes = _window_program(rng)
    cap = _Cap(_schema("k BIGINT, ts TIMESTAMP, id BIGINT, v DOUBLE"))
    streaming_window_tvf_topn(
        cap, ["k"], "ts", order, rank_end, rank_start=rank_start,
        emit_rownum=True, **spec,
    )
    frames = [[(k, pd.Timestamp(ts, unit="ms"), i, v) for _s, k, ts, i, v in b] for b in batches]
    emissions = replay(
        cap.fn, [*frames, *[[] for _ in flushes]], ["k"], ["k", "ts", "id", "v"],
        wm_seq=[*wm_seq, *flushes],
    )
    got = Counter(
        (_int(r["k"]), pd.Timestamp(r["window_end"]).value // 10**6, r["id"], r["rownum"])
        for r in emissions
    )
    def cmp(a, b):
        for col, desc in order:
            j = 4 if col == "v" else 3
            x, y = (a[j] is not None, a[j]), (b[j] is not None, b[j])
            if x != y:
                return (-1 if x < y else 1) * (-1 if desc else 1)
        return 0

    ref: Counter = Counter()
    for (k, e), rows in _fired_windows(spec, batches, wm_seq, flushes[-1]).items():
        ranked = sorted(rows, key=cmp_to_key(cmp))
        ref.update(
            (k, e, r[3], rank)
            for rank, r in enumerate(ranked[:rank_end], start=1)
            if rank >= rank_start
        )
    if got != ref:
        return (
            f"wtopn rank {rank_start}..{rank_end} {order} {spec} flushes={flushes}: "
            f"got-ref={got - ref} ref-got={ref - got}"
        )
    return None


ARMS = {
    "agg": check_agg,
    "topn": check_topn,
    "atopn": check_atopn,
    "wtvf_distinct": check_wtvf_distinct,
    "minmax": check_minmax,
    "join": check_join,
    "dedup": check_dedup,
    "wdedup": check_wdedup,
    "antijoin": check_antijoin,
    "semi": check_semi,
    "over_rows": check_over_rows,
    "over_range": check_over_range,
    "over_bounded": check_over_bounded,
    "normalize": check_normalize,
    "lateness": check_lateness,
    "tjoin": check_tjoin,
    "wtvf": check_wtvf,
    "wjoin": check_wjoin,
    "wtopn": check_wtopn,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=1000)
    ap.add_argument("--arms", default=",".join(ARMS))
    ap.add_argument("--start", type=int, default=0)
    args = ap.parse_args()
    # one local session: the operator BUILDERS construct Column
    # expressions (changelog_join's pad) and parse DDL schemas; the
    # per-seed replay loop is pure Python and never touches the JVM
    from flink_release_1_16_0_spark import get_spark

    get_spark("fuzz_changelog")
    arms = [a for a in args.arms.split(",") if a]
    failures = 0
    for arm in arms:
        check = ARMS[arm]
        bad = []
        for seed in range(args.start, args.start + args.seeds):
            rng = random.Random(f"{arm}-{seed}")
            try:
                err = check(rng)
            except Exception as e:  # noqa: BLE001
                err = f"exception: {type(e).__name__}: {e}"
            if err:
                bad.append((seed, err))
                if len(bad) >= 3:
                    break
        if bad:
            failures += len(bad)
            for seed, err in bad:
                print(f"FAIL {arm} seed={seed}: {err}")
        else:
            print(f"OK   {arm}: {args.seeds} seeds green")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
