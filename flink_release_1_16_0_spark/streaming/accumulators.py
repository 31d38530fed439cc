"""Retractable aggregate accumulator shared by the streaming window-TVF
(window_tvf.py), group-window (group_window.py), unbounded retracting
(retract_agg.py) and OVER (stateful.py) aggregates, and its typed
state codec.

One accumulate/retract/merge/getValue contract, as the reference's
AggsHandleFunction gives every SQL aggregate: an :class:`Accumulator`
holds the net row count ``n`` plus one cell per agg spec; ``add`` folds
a row in with sign +1 (accumulate) or -1 (retract), ``merge`` folds
another accumulator in (slice and session merges), ``emit`` gives the
output values. Each operator keeps its own list of supported funcs.

A spec is ``(out_name, func, col, out_type[, listagg_delim])``;
``weighted_avg`` takes ``col=(value_col, weight_col)``. Decisions kept
here:

- SUM accumulates exactly in Decimal and emits per ``out_type``:
  ``str`` for STRING, ``float`` for DOUBLE/FLOAT, ``Decimal`` otherwise.
- MAX/MIN keep a scalar cell when the operator's input is append-only
  and a value->count multiset (Max/MinWithRetractAggFunction) when it
  carries row kinds; the distinct aggregates keep an insertion-ordered
  set or a multiset the same way.
- COUNT(*) is the row count ``n`` and needs no cell.
- Column positions resolve once per pandas batch (:meth:`AggSpecs.plan`),
  not per row per spec. NaN (pandas' float NULL) counts as NULL; the
  operators hand rows over in their declared types
  (``event_buffer.py_values``), which the state codec needs.

State codec (the reference keeps accumulators in typed state that a
serializer describes): :meth:`AggSpecs.state_fields` lays accumulators
out as typed ``ARRAY`` fields, one element per accumulator. Per
accumulator: ``n`` as BIGINT, then per cell ``count`` as BIGINT,
``sum`` as the Decimal's text plus its count, ``isum`` as two BIGINTs,
``max``/``min`` in the input column's type, ``set``/``list`` as
``ARRAY<column type>`` in insertion order, ``bag`` as parallel value
and count arrays (a count goes negative when a retraction comes before
its accumulation). NULL is a cell that never saw a value.
"""

from __future__ import annotations

from copy import copy
from decimal import Decimal

from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
)

# func -> (cell on append-only input, cell on changelog input)
_CELLS = {
    "count_star": (None, None),  # the row count n
    "count": ("count", "count"),
    "sum": ("sum", "sum"),
    "sum_int": ("isum", "isum"),
    "avg_int": ("isum", "isum"),
    "weighted_avg": ("isum", "isum"),
    "max": ("max", "bag"),
    "min": ("min", "bag"),
    "max_distinct": ("max", "bag"),
    "min_distinct": ("min", "bag"),
    "count_distinct": ("set", "bag"),
    "sum_distinct_int": ("set", "bag"),
    "avg_distinct_int": ("set", "bag"),
    "concat_distinct": ("set", "set"),
    "listagg": ("list", "list"),
}

_ZERO = Decimal(0)
# cells stored as two state fields
_PARTS = {"sum": 2, "isum": 2, "bag": 2}


def jdiv(a: int, b: int) -> int:
    """Java integer division (truncates toward zero)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _bag_add(bag: dict, v, k: int) -> None:
    k += bag.get(v, 0)
    if k:
        bag[v] = k
    else:
        del bag[v]


def _parts(cell: str, typ: DataType | None) -> list[tuple[str, DataType]]:
    """A cell's state fields as (name suffix, type); ``typ`` is the
    input column's type."""
    if cell == "count":
        return [("", LongType())]
    if cell in ("sum", "isum"):
        return [("", StringType() if cell == "sum" else LongType()), ("_count", LongType())]
    if cell in ("max", "min"):
        return [("", typ)]
    bag = [("_count", ArrayType(LongType()))] if cell == "bag" else []
    return [("", ArrayType(typ)), *bag]


def _encode(cell: str, c) -> tuple:
    """A cell as its state fields' values."""
    if c is None:
        return (None,) * _PARTS.get(cell, 1)
    if cell == "sum":
        return (str(c[0]), c[1])
    if cell == "set":
        return (list(c),)
    if cell == "bag":
        return (list(c), list(c.values()))
    return c if cell == "isum" else (c,)


def _decode(cell: str, parts: tuple):
    """The cell stored as ``parts`` (:func:`_encode`)."""
    v = parts[0]
    if v is None:
        return None
    if cell == "sum":
        return (Decimal(v), parts[1])
    if cell == "set":
        return dict.fromkeys(v, True)
    if cell == "bag":
        return dict(zip(v, parts[1]))
    if cell == "isum":
        return tuple(parts)
    return list(v) if cell == "list" else v


class AggSpecs:
    """Agg specs with their cell kinds. ``changelog`` says whether the
    operator's input carries row kinds (retractions)."""

    def __init__(self, specs, changelog: bool):
        self.specs = list(specs)
        self.cells = [_CELLS[s[1]][changelog] for s in self.specs]
        self.live = [(i, c) for i, c in enumerate(self.cells) if c is not None]
        # the input columns the specs read, in first-use order
        cols = [c for s in self.specs for c in (s[2] if isinstance(s[2], tuple) else [s[2]])]
        self.columns = list(dict.fromkeys(c for c in cols if c is not None))
        # state fields per accumulator: n, then each cell's parts
        self.width = 1 + sum(_PARTS.get(c, 1) for _i, c in self.live)

    def plan(self, columns) -> list[tuple]:
        """Per-batch add plan over rows laid out as ``columns``:
        (cell index, cell kind, value position, weight position)."""
        pos = {c: j for j, c in enumerate(columns)}
        cols = [s[2] if isinstance(s[2], tuple) else (s[2], None) for s in self.specs]
        return [(i, cell, pos[cols[i][0]], pos.get(cols[i][1])) for i, cell in self.live]

    def fields(self, schema) -> list[StructField]:
        """One accumulator's state fields; ``schema`` (a StructType)
        types the input columns."""
        out = [StructField("n", LongType())]
        for (name, _f, col, *_), cell in zip(self.specs, self.cells):
            if cell is not None:
                typ = None if isinstance(col, tuple) else schema[col].dataType
                out += [StructField(f"agg_{name}{sfx}", t) for sfx, t in _parts(cell, typ)]
        return out

    def state_fields(self, schema) -> list[StructField]:
        """The fields of :meth:`fields` as arrays, one element per
        accumulator."""
        return [StructField(f.name, ArrayType(f.dataType)) for f in self.fields(schema)]

    def store(self, accs) -> tuple:
        """``accs`` as the columns of :meth:`state_fields`."""
        rows = [
            (a.n, *[p for i, cell in self.live for p in _encode(cell, a.cells[i])])
            for a in accs
        ]
        return tuple(map(list, zip(*rows))) if rows else tuple([] for _ in range(self.width))

    def load(self, raw, at: int = 0) -> list[Accumulator]:
        """The accumulators stored at ``raw[at : at + width]``; a NULL
        ``n`` loads as an empty accumulator."""
        accs = []
        for row in zip(*raw[at : at + self.width]):
            acc = Accumulator(len(self.specs))
            acc.n = row[0] or 0
            j = 1
            for i, cell in self.live:
                k = _PARTS.get(cell, 1)
                acc.cells[i] = _decode(cell, row[j : j + k])
                j += k
            accs.append(acc)
        return accs


class Accumulator:
    """Net row count ``n`` plus one cell per agg spec."""

    __slots__ = ("n", "cells")

    def __init__(self, nspecs: int):
        self.n = 0
        self.cells = [None] * nspecs

    def add(self, plan: list[tuple], tup: tuple, sign: int = 1) -> None:
        """Fold one positional row in: accumulate (+1) or retract (-1)."""
        self.n += sign
        cells = self.cells
        for i, cell, p, w in plan:
            v = tup[p]
            if v is None or (isinstance(v, float) and v != v):
                continue
            c = cells[i]
            if cell == "count":
                cells[i] = (c or 0) + sign
            elif cell == "sum":
                s, k = c or (_ZERO, 0)
                d = Decimal(str(v))
                cells[i] = (s + d if sign > 0 else s - d, k + sign)
            elif cell == "max":
                if c is None or v > c:
                    cells[i] = v
            elif cell == "min":
                if c is None or v < c:
                    cells[i] = v
            elif cell == "set":  # insertion-ordered; dict keys give O(1) membership
                if sign < 0:
                    raise ValueError("concat_distinct cannot retract")
                if c is None:
                    cells[i] = {v: True}
                else:
                    c.setdefault(v, True)
            elif cell == "bag":
                if c is None:
                    c = cells[i] = {}
                _bag_add(c, v, sign)
            elif cell == "isum":  # weighted_avg weighs by column w
                k = sign
                if w is not None:
                    k = tup[w]
                    if k is None or (isinstance(k, float) and k != k):
                        continue
                    k = sign * int(k)
                s, n = c or (0, 0)
                cells[i] = (s + int(v) * k, n + k)
            else:  # list (ListAggWithRetract): retract drops the FIRST occurrence
                if c is None:
                    c = cells[i] = []
                if sign > 0:
                    c.append(v)
                elif v in c:
                    c.remove(v)  # the reference logs a missing value and continues

    def merge(self, aggs: AggSpecs, other: "Accumulator") -> None:
        """Fold ``other`` into self, leaving ``other`` unchanged."""
        self.n += other.n
        cells = self.cells
        for i, cell in enumerate(aggs.cells):
            o, c = other.cells[i], cells[i]
            if o is None:
                continue
            if c is None:
                cells[i] = copy(o)
            elif cell == "count":
                cells[i] = c + o
            elif cell in ("sum", "isum"):
                cells[i] = (c[0] + o[0], c[1] + o[1])
            elif cell == "max":
                cells[i] = max(c, o)
            elif cell == "min":
                cells[i] = min(c, o)
            elif cell == "set":
                # dict.update keeps existing keys in place and appends
                # new ones: "self's items, then other's new"
                # (the ConcatDistinct merge order)
                c.update(o)
            elif cell == "bag":
                for v, k in o.items():
                    _bag_add(c, v, k)
            else:
                c.extend(o)

    def emit(self, aggs: AggSpecs) -> tuple:
        out = []
        for c, spec, cell in zip(self.cells, aggs.specs, aggs.cells):
            func = spec[1]
            if cell is None:
                v = self.n
            elif cell == "count":
                v = c or 0
            elif cell in ("sum", "isum"):
                if c is None or c[1] == 0:
                    v = None
                elif func in ("avg_int", "weighted_avg"):
                    v = jdiv(c[0], c[1])
                elif isinstance(spec[3], StringType):
                    v = str(c[0])
                elif isinstance(spec[3], (DoubleType, FloatType)):
                    v = float(c[0])
                else:
                    v = c[0]
            elif cell in ("max", "min"):
                v = c
            elif not c:  # empty set, bag or list
                v = 0 if func == "count_distinct" else None
            elif func == "count_distinct":
                v = len(c)
            elif func in ("max", "max_distinct"):
                v = max(c)
            elif func in ("min", "min_distinct"):
                v = min(c)
            elif func == "sum_distinct_int":
                v = sum(int(x) for x in c)
            elif func == "avg_distinct_int":
                v = jdiv(sum(int(x) for x in c), len(c))
            elif func == "concat_distinct":
                v = "|".join(str(x) for x in c)
            else:  # listagg
                v = (spec[4] if len(spec) > 4 else ",").join(str(x) for x in c)
            out.append(v)
        return tuple(out)
