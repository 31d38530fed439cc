"""Watermark buffer shared by the event-time state operators in
stateful.py.

The reference's row-time operators (RowTime{Rows,Range}{Bounded,
Unbounded}PrecedingFunction, RowTimeSortOperator,
TemporalRowTimeJoinOperator) share one discipline: buffer rows in keyed
state until the watermark passes them, drop late rows, and fire in
event-time order. :class:`EventBuffer` is that discipline, once:

- **admit** drops rows with ``ms(ts) < watermark`` (``ts == wm`` is on
  time: Spark's own late filter and the reference's timers both keep
  it) and counts the drops — the one place late rows are dropped;
- **release** returns the rows with ``ms(ts) <= upto``, stably sorted
  by (ts, tie-break columns), and keeps the rest;
- **next_timeout** is the smallest pending ms minus 1
  (:func:`timeout_at`), the event-time timeout that fires the flush
  batch once the watermark reaches it (Spark fires a timeout only when
  ``timeout < watermark``);
- **state** is the typed state codec: one ``ArrayType`` field per
  buffered column, event time as BIGINT epoch-µs. No pickle and no
  array-of-struct, so pyspark's state conversion stays per column, not
  per row.

Rows are held column-wise: event time as an int64 numpy array, every
other column as a list of plain Python values of its declared type
(:func:`py_values`). The per-key path is numpy and plain Python only;
a per-key pandas sort costs hundreds of µs.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, LongType, StructField

_CASTS = {
    "long": int,
    "integer": int,
    "short": int,
    "byte": int,
    "double": float,
    "float": float,
}
_NO_TS = np.zeros(0, dtype=np.int64)


def epoch_us(col) -> np.ndarray:
    """int64 epoch-µs of a timestamp column (naive == session tz == UTC)."""
    return np.asarray(col, dtype="datetime64[us]").view(np.int64)


def timeout_at(ms: int) -> int:
    """The event-time timeout that fires once the watermark reaches
    ``ms``: Spark fires when ``timeout < watermark``, so ``ms - 1`` (at
    least 1, the smallest timeout Spark takes)."""
    return max(ms - 1, 1)


def us_to_ts(ts_us: np.ndarray) -> np.ndarray:
    """Epoch-µs back to a datetime64[ns] column."""
    return (np.asarray(ts_us, dtype=np.int64) * 1000).view("datetime64[ns]")


def py_values(col, dt) -> list:
    """A pandas column as plain Python values of Spark type ``dt``, with
    NULLs restored: NaN/NaT become None, and integers that pandas upcast
    to float64 (a NULL-bearing column, or the padded union of a
    two-input operator) become ints again. Typed state and pyspark's
    type verifier need the declared type back, and no numpy scalars."""
    a = np.asarray(col)
    kind = a.dtype.kind
    if kind == "M" or (kind == "O" and dt.typeName().startswith("timestamp")):
        return a.astype("datetime64[us]").tolist()  # datetime, NaT -> None
    cast = _CASTS.get(dt.typeName())
    vals = a.tolist()
    if kind == "f":
        if cast is float and not np.isnan(a).any():
            return vals
        return [None if v != v else cast(v) if cast else v for v in vals]
    if kind in "iub":
        return [float(v) for v in vals] if cast is float else vals
    return [
        None if v is None or (isinstance(v, float) and v != v)
        else cast(v) if cast else v
        for v in vals
    ]


def py_rows(pdf: pd.DataFrame, fields: Sequence[StructField]) -> Iterator[tuple]:
    """The rows of ``pdf``'s ``fields`` columns as tuples of plain
    Python values of their declared types (:func:`py_values`)."""
    cols = [py_values(pdf[f.name], f.dataType) for f in fields]
    return zip(*cols) if cols else repeat((), len(pdf))


def sort_key(vals) -> np.ndarray:
    """A numpy key that orders ``vals`` as pandas does: NULLs last."""
    a = np.asarray(vals)
    if a.dtype.kind in "iufbM":
        return a
    codes, _ = pd.factorize(np.asarray(vals, dtype=object), sort=True)
    codes[codes < 0] = len(codes)
    return codes


class BufferLayout:
    """What an operator buffers: the event-time column ``ts_col`` plus
    ``fields`` (payload columns with their Spark types), released in
    (ts, ``tie``) order. ``prefix`` names the state fields, so one state
    row can hold more than one buffer."""

    def __init__(
        self,
        ts_col: str,
        fields: Sequence[StructField],
        tie: Sequence[str] = (),
        prefix: str = "",
    ):
        self.ts_col = ts_col
        self.fields = list(fields)
        names = [f.name for f in self.fields]
        self.tie = [names.index(c) for c in tie]
        self.prefix = prefix
        self.width = 1 + len(self.fields)

    def state_fields(self) -> list[StructField]:
        """The state codec: event time as BIGINT µs, one array per column."""
        return [
            StructField(f"{self.prefix}ts_us", ArrayType(LongType())),
            *[
                StructField(f"{self.prefix}{f.name}", ArrayType(f.dataType))
                for f in self.fields
            ],
        ]

    def load(self, raw: Sequence | None = None, at: int = 0) -> EventBuffer:
        """The buffer stored at ``raw[at : at + width]`` (empty for None)."""
        buf = EventBuffer(self)
        if raw is not None and raw[at] is not None:
            buf.ts = np.asarray(raw[at], dtype=np.int64)
            buf.cols = [list(c or ()) for c in raw[at + 1 : at + self.width]]
        return buf


class EventBuffer:
    """Rows waiting for the watermark, held column-wise."""

    __slots__ = ("layout", "ts", "cols", "dropped")

    def __init__(self, layout: BufferLayout):
        self.layout = layout
        self.ts = _NO_TS
        self.cols: list[list] = [[] for _ in layout.fields]
        self.dropped = 0  # late rows dropped by admit

    def __len__(self) -> int:
        return len(self.ts)

    def admit(self, pdf: pd.DataFrame, wm: int, rows=None) -> int:
        """Buffer the rows of ``pdf`` (those in the boolean mask ``rows``,
        if given) that are not late under watermark ``wm``; returns the
        number of late rows dropped."""
        ts = epoch_us(pdf[self.layout.ts_col])
        keep = ts // 1000 >= wm
        taken = len(ts)
        if rows is not None:
            taken = int(np.count_nonzero(rows))
            keep &= rows
        n = int(np.count_nonzero(keep))
        if n == 0:
            self.dropped += taken
            return taken
        cols = [py_values(pdf[f.name], f.dataType) for f in self.layout.fields]
        if n < len(ts):
            sel = np.flatnonzero(keep).tolist()
            ts = ts[keep]
            cols = [[c[i] for i in sel] for c in cols]
        self.ts = np.concatenate((self.ts, ts)) if len(self.ts) else ts
        for mine, new in zip(self.cols, cols):
            mine.extend(new)
        self.dropped += taken - n
        return taken - n

    def release(self, upto: int) -> tuple[np.ndarray, list[list]]:
        """Remove and return the rows with ``ms(ts) <= upto``, stably
        sorted by (ts, tie-break columns): (ts µs, columns)."""
        ready = self.ts // 1000 <= upto
        n = int(np.count_nonzero(ready))
        if n == 0:
            return _NO_TS, [[] for _ in self.cols]
        if n == len(ready):
            idx, ts = None, self.ts
            ties = [self.cols[j] for j in self.layout.tie]
        else:
            idx = np.flatnonzero(ready)
            ts = self.ts[idx]
            pick = idx.tolist()
            ties = [[self.cols[j][i] for i in pick] for j in self.layout.tie]
        order = np.lexsort((*[sort_key(t) for t in reversed(ties)], ts))
        sel = (order if idx is None else idx[order]).tolist()
        out = [[c[i] for i in sel] for c in self.cols]
        if idx is None:
            self.ts, self.cols = _NO_TS, [[] for _ in self.cols]
        else:
            rest = np.flatnonzero(~ready)
            keep = rest.tolist()
            self.ts = self.ts[rest]
            self.cols = [[c[i] for i in keep] for c in self.cols]
        return ts[order], out

    def next_timeout(self) -> int | None:
        """The :func:`timeout_at` of the smallest pending ms, or None
        when nothing is pending."""
        return timeout_at(int(self.ts.min()) // 1000) if len(self.ts) else None

    def state(self) -> tuple:
        """The state fields of :meth:`BufferLayout.state_fields`."""
        return (self.ts.tolist(), *self.cols)
