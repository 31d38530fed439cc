"""Key groups for the keyed Python state operators.

The reference does not pay a per-key cost to reach keyed state: every
key hashes into one of a fixed number of key groups
(KeyGroupRangeAssignment, 128 by default) and one operator instance
serves all the keys of its groups. ``applyInPandasWithState`` has a
per-call harness that costs far more than a small fold: it slices
Arrow into pandas, concatenates the columns and builds one output and
one state frame per call. Grouping by
``pmod(xxhash64(keys), KEY_GROUPS)`` instead of by the keys makes one
call serve every key of its group.

- :data:`KEY_GROUPS` is a constant, like the reference's max
  parallelism: the group of a key is part of the checkpointed state
  layout, so it must stay fixed for the life of a checkpoint and is not
  derived from ``spark.sql.shuffle.partitions``. The state partition
  count plays the reference's operator parallelism: it follows the
  cores (``streaming.core._start``), and each partition serves whole
  key groups.
- :class:`KeyTable` is the per-key state codec: the key columns plus a
  per-key carry, each one typed ``ARRAY`` field of the group's state
  row, one element per key.
- Values cross the pandas boundary exactly. Key equality follows Spark
  grouping: NULL is one key, NaN equals NaN, and NaN is not NULL.
  pandas holds a NULL number as NaN, which merges it with a NaN key and
  rounds a BIGINT beyond 2**53 to float, so numeric keys and nullable
  integers travel as ``coalesce(c, 0)`` plus an is-null flag, and an
  output integer column with a NULL stays object-typed.
- :func:`apply_in_key_groups` is the ``applyInPandasWithState`` call
  with a group-level step, which the OVER operators vectorize across
  keys; :func:`keyed_state` runs a per-key step on it.

Trade-off: each call rewrites its whole group's state, so a call costs
O(keys in the group) rather than O(keys it touches), and for the
retractable top-N, whose carry is each key's live multiset, O(live
rows in the group). At registry scale (at most about 2 000 keys, some
60 a group) that is far cheaper than one harness call per key; a key
space of millions would want the per-key state back, or many more
groups.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, StructField, StructType

from flink_release_1_16_0_spark.streaming.event_buffer import py_values

KEY_GROUPS = 32
GROUP_COL = "__key_group"

_NAN = object()  # NaN's stand-in in key lookups (NaN != NaN)
_NAN_VALUE = float("nan")  # the one NaN in read rows, so equal rows compare equal
_INTEGRAL = ("long", "integer", "short", "byte")


def value_col(name: str) -> str:
    """Name of the NULL-free value column of exact column ``name``."""
    return f"__value_{name}"


def null_col(name: str) -> str:
    """Name of the is-null flag column of exact column ``name``."""
    return f"__null_{name}"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _lookup(key: tuple) -> tuple:
    """``key`` with NaN replaced, so that NaN keys compare equal."""
    return tuple(_NAN if v != v else v for v in key)


def _integral(f: StructField) -> bool:
    return f.dataType.typeName() in _INTEGRAL


class KeyTable:
    """The keys of a key group and one carry per key: ``key_fields``
    are the operator's key columns, ``carry_fields`` the per-key state
    (each field's type is the type of one key's carry), ``row_fields``
    the columns rows are read with (:meth:`rows`)."""

    def __init__(
        self,
        key_fields: Sequence[StructField],
        carry_fields: Sequence[StructField],
        row_fields: Sequence[StructField] = (),
    ):
        self.key_fields = list(key_fields)
        self.carry_fields = list(carry_fields)
        self.row_fields = list(row_fields)
        self.names = [f.name for f in self.key_fields]
        self.numeric = [
            i
            for i, f in enumerate(self.key_fields)
            if _integral(f) or f.dataType.typeName() in ("float", "double")
        ]
        # columns read from a value and an is-null flag
        exact = [self.names[i] for i in self.numeric]
        exact += [f.name for f in self.row_fields if _integral(f) and f.nullable]
        self.exact = list(dict.fromkeys(exact))
        self.width = len(self.key_fields) + len(self.carry_fields)

    def state_fields(self) -> list[StructField]:
        """The codec: one array per key column and per carry field."""
        return [
            *[StructField(f"key_{f.name}", ArrayType(f.dataType)) for f in self.key_fields],
            *[StructField(f.name, ArrayType(f.dataType)) for f in self.carry_fields],
        ]

    def projection(self, columns: Sequence[str]) -> list[str]:
        """The call's input: ``columns`` less the exact row columns,
        which :meth:`rows` reads from their value and is-null flag, then
        the key group and each exact column's value and is-null flag."""
        read = set(self.exact) & {f.name for f in self.row_fields}
        cols = ", ".join(_quote(n) for n in self.names)
        exprs = [_quote(c) for c in columns if c not in read]
        exprs.append(f"pmod(xxhash64({cols}), {KEY_GROUPS}) AS {GROUP_COL}")
        for name in self.exact:
            c = _quote(name)
            exprs += [
                f"coalesce({c}, 0) AS {_quote(value_col(name))}",
                f"isnull({c}) AS {_quote(null_col(name))}",
            ]
        return exprs

    def load(self, raw: Sequence | None = None) -> Keys:
        """The table stored at the front of state row ``raw`` (empty for
        None)."""
        nk = len(self.key_fields)
        if raw is None:
            return Keys(self, [], [[] for _ in self.carry_fields])
        return Keys(self, list(zip(*raw[:nk])), [list(c) for c in raw[nk : self.width]])

    def column(self, pdf: pd.DataFrame, f: StructField) -> list:
        """Column ``f`` of ``pdf`` as plain Python values of its type,
        exact columns read from their value and is-null flag."""
        if f.name not in self.exact:
            return py_values(pdf[f.name], f.dataType)
        null = pdf[null_col(f.name)].to_numpy(dtype=bool).tolist()
        vals = pdf[value_col(f.name)]
        if _integral(f):
            return [None if n else v for v, n in zip(py_values(vals, f.dataType), null)]
        return [None if n else v if v == v else _NAN_VALUE for v, n in zip(vals.tolist(), null)]

    def rows(self, pdf: pd.DataFrame) -> Iterator[tuple]:
        """The rows of ``pdf`` as tuples over :attr:`row_fields`."""
        return zip(*[self.column(pdf, f) for f in self.row_fields])


class Keys:
    """One group's loaded key table: ``rows`` holds the key tuples and
    ``carry`` one list per carry field, aligned with ``rows`` (None for
    a key that has no carry yet)."""

    __slots__ = ("table", "rows", "carry", "_pos")

    def __init__(self, table: KeyTable, rows: list[tuple], carry: list[list]):
        self.table = table
        self.rows = rows
        self.carry = carry
        self._pos = {_lookup(r): i for i, r in enumerate(rows)}

    def __len__(self) -> int:
        return len(self.rows)

    def codes(self, pdf: pd.DataFrame) -> np.ndarray:
        """Each row's key position in the table; new keys are appended
        with an empty carry."""
        keys = list(zip(*[self.table.column(pdf, f) for f in self.table.key_fields]))
        seen = dict.fromkeys(keys)
        for key in seen:
            i = seen[key] = self._pos.setdefault(_lookup(key), len(self.rows))
            if i == len(self.rows):
                self.rows.append(key)
                for c in self.carry:
                    c.append(None)
        return np.fromiter(map(seen.__getitem__, keys), dtype=np.int64, count=len(keys))

    def columns(self, codes) -> dict[str, list | pd.Series]:
        """The key columns of rows whose key positions are ``codes``
        (:func:`frame` typing)."""
        return {
            f.name: _out([self.rows[i][j] for i in codes], f)
            for j, f in enumerate(self.table.key_fields)
        }

    def keep(self, mask: np.ndarray) -> np.ndarray:
        """Drop the keys where ``mask`` is False; returns the old -> new
        position map (-1 for a dropped key)."""
        kept = np.flatnonzero(mask)
        remap = np.full(len(self.rows), -1, dtype=np.int64)
        remap[kept] = np.arange(len(kept))
        pick = kept.tolist()
        self.rows = [self.rows[i] for i in pick]
        self.carry = [[c[i] for i in pick] for c in self.carry]
        self._pos = {_lookup(r): i for i, r in enumerate(self.rows)}
        return remap

    def state(self) -> tuple:
        """The state fields of :meth:`KeyTable.state_fields`."""
        nk = len(self.table.key_fields)
        keys = [list(c) for c in zip(*self.rows)] if self.rows else [[] for _ in range(nk)]
        return (*keys, *self.carry)


def _out(vals: list, f: StructField) -> list | pd.Series:
    """Output values of field ``f``. An integer column with a NULL
    stays object-typed: pandas would make it float64 and round values
    beyond 2**53."""
    if _integral(f) and None in vals:
        return pd.Series(vals, dtype=object)
    return vals


def frame(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    """One output frame of ``rows`` (at least one), tuples in
    ``schema`` order."""
    return pd.DataFrame(
        {f.name: _out(list(c), f) for f, c in zip(schema.fields, zip(*rows))},
        columns=schema.names,
    )


def key_runs(codes: np.ndarray) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """The stable order of rows by key position, and each key's run in
    it as (position, lo, hi): rows ``order[lo:hi]`` keep their order."""
    order = np.argsort(codes, kind="stable")
    if not len(order):
        return order, []
    c = codes[order]
    bounds = [0, *(np.flatnonzero(np.diff(c)) + 1).tolist(), len(c)]
    runs = [(int(c[lo]), lo, hi) for lo, hi in zip(bounds[:-1], bounds[1:])]
    return order, runs


def apply_in_key_groups(
    stream: DataFrame,
    table: KeyTable,
    fn: Callable,
    out_schema: StructType,
    state_schema: StructType,
    output_mode: str,
    timeout,
) -> DataFrame:
    """``applyInPandasWithState`` over key groups: ``fn(group, pdfs,
    state)`` gets every row of one group, keyed by the table's key
    columns, and owns the group's state row."""
    return (
        stream.selectExpr(*table.projection(stream.columns))
        .groupBy(GROUP_COL)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=timeout,
        )
    )


def keyed_state(
    stream: DataFrame,
    keys: Sequence[str],
    step: Callable,
    carry_fields: Sequence[StructField],
    out_schema: StructType,
    timeout: str | None = None,
) -> DataFrame:
    """Keyed state on key groups: ``step(key, rows, carry, wm) ->
    (out_rows, carry)`` gets the key tuple, its rows of the call in
    arrival order (tuples over ``stream``'s columns), its carry (a tuple
    over ``carry_fields``, None for a new key) and the watermark in ms
    (None when the input has no watermark);
    it returns rows in ``out_schema`` order and the new carry, None to
    remove the key. ``timeout`` names the carry field holding the key's
    event-time timer in ms: a key whose timer is below the watermark
    expires, with no step, in a call that brings it no rows, as Spark's
    per-key timeout does; the group's timeout is the minimum over its
    keys."""
    fields = stream.schema.fields
    table = KeyTable([stream.schema[k] for k in keys], carry_fields, fields)
    timer = None if timeout is None else [f.name for f in carry_fields].index(timeout)

    def fn(
        _group: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        try:
            wm = state.getCurrentWatermarkMs()
        except PySparkRuntimeError:  # the input has no watermark
            wm = None
        group = table.load(state.get if state.exists else None)
        old = len(group)
        runs: dict[int, list[tuple]] = {}  # key position -> its rows
        for pdf in pdfs:
            if len(pdf):
                rows = list(table.rows(pdf))
                order, spans = key_runs(group.codes(pdf))
                order = order.tolist()
                for pos, lo, hi in spans:
                    runs.setdefault(pos, []).extend([rows[i] for i in order[lo:hi]])
        live = np.ones(len(group), dtype=bool)
        if timer is not None:
            for i, t in enumerate(group.carry[timer][:old]):
                live[i] = t >= wm or i in runs
        if not runs and live.all():
            return
        out: list[tuple] = []
        for pos, rows in runs.items():
            carry = tuple(c[pos] for c in group.carry) if pos < old else None
            emitted, carry = step(group.rows[pos], rows, carry, wm)
            out.extend(emitted)
            if carry is None:
                live[pos] = False
            else:
                for c, v in zip(group.carry, carry):
                    c[pos] = v
        if not live.all():
            group.keep(live)
        if len(group):
            state.update(group.state())
            if timer is not None:
                state.setTimeoutTimestamp(max(min(group.carry[timer]), wm, 1))
        elif state.exists:
            state.remove()
        if out:
            yield frame(out, out_schema)

    state_schema = StructType(table.state_fields())
    conf = GroupStateTimeout.NoTimeout if timer is None else GroupStateTimeout.EventTimeTimeout
    return apply_in_key_groups(stream, table, fn, out_schema, state_schema, "update", conf)
