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
  row, one element per key. Rows of the group refer to their key by its
  position in the table (:meth:`Keys.codes`).
- Key equality follows Spark grouping: NULL is one key, NaN equals NaN,
  and NaN is not NULL. pandas holds a NULL number as NaN, which merges
  it with a NaN key and rounds a BIGINT key beyond 2**53 to float, so
  each numeric key column travels as ``coalesce(key, 0)`` plus an
  is-null flag.
- :func:`apply_in_key_groups` is the ``applyInPandasWithState`` call.

Trade-off: each call rewrites its whole group's state, so a call costs
O(keys in the group) rather than O(keys it touches). At registry scale
(at most about 2 000 keys, some 60 a group) that is far cheaper than
one harness call per key; a key space of millions would want the
per-key state back, or many more groups.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StructField, StructType

from flink_release_1_16_0_spark.streaming.event_buffer import py_values

KEY_GROUPS = 32
GROUP_COL = "__key_group"

_NAN = object()  # NaN's stand-in in key lookups (NaN != NaN)
_INTEGRAL = ("long", "integer", "short", "byte")


def key_value(i: int) -> str:
    """Name of the NULL-free value column of numeric key column ``i``."""
    return f"__key_value_{i}"


def null_flag(i: int) -> str:
    """Name of the is-null flag column of numeric key column ``i``."""
    return f"__key_null_{i}"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _lookup(key: tuple) -> tuple:
    """``key`` with NaN replaced, so that NaN keys compare equal."""
    return tuple(_NAN if v != v else v for v in key)


class KeyTable:
    """The keys of a key group and one carry per key: ``key_fields``
    are the operator's key columns, ``carry_fields`` the per-key state
    (each field's type is the type of one key's carry)."""

    def __init__(
        self, key_fields: Sequence[StructField], carry_fields: Sequence[StructField]
    ):
        self.key_fields = list(key_fields)
        self.carry_fields = list(carry_fields)
        self.names = [f.name for f in self.key_fields]
        self.numeric = [
            i
            for i, f in enumerate(self.key_fields)
            if f.dataType.typeName() in (*_INTEGRAL, "float", "double")
        ]
        self.width = len(self.key_fields) + len(self.carry_fields)

    def state_fields(self) -> list[StructField]:
        """The codec: one array per key column and per carry field."""
        return [
            *[StructField(f"key_{f.name}", ArrayType(f.dataType)) for f in self.key_fields],
            *[StructField(f.name, ArrayType(f.dataType)) for f in self.carry_fields],
        ]

    def group_exprs(self) -> list[str]:
        """The columns the call adds: the key group, and each numeric
        key's value and is-null flag."""
        cols = ", ".join(_quote(n) for n in self.names)
        exprs = [f"pmod(xxhash64({cols}), {KEY_GROUPS}) AS {GROUP_COL}"]
        for i in self.numeric:
            k = _quote(self.names[i])
            exprs += [f"coalesce({k}, 0) AS {key_value(i)}", f"isnull({k}) AS {null_flag(i)}"]
        return exprs

    def load(self, raw: Sequence | None = None) -> Keys:
        """The table stored at the front of state row ``raw`` (empty for
        None)."""
        nk = len(self.key_fields)
        if raw is None:
            return Keys(self, [], [[] for _ in self.carry_fields])
        return Keys(self, list(zip(*raw[:nk])), [list(c) for c in raw[nk : self.width]])

    def values(self, pdf: pd.DataFrame) -> list[list]:
        """The key columns of ``pdf`` as plain Python values, NaN kept
        apart from NULL."""
        cols = []
        for i, f in enumerate(self.key_fields):
            if i in self.numeric:
                null = pdf[null_flag(i)].to_numpy(dtype=bool).tolist()
                vals = pdf[key_value(i)].tolist()
                cols.append([None if n else v for v, n in zip(vals, null)])
            else:
                cols.append(py_values(pdf[f.name], f.dataType))
        return cols


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
        seen: dict[tuple, int] = {}
        local = [seen.setdefault(k, len(seen)) for k in zip(*self.table.values(pdf))]
        pos = np.empty(len(seen), dtype=np.int64)
        for key, j in seen.items():
            i = self._pos.setdefault(_lookup(key), len(self.rows))
            if i == len(self.rows):
                self.rows.append(key)
                for c in self.carry:
                    c.append(None)
            pos[j] = i
        return pos[np.asarray(local, dtype=np.int64)]

    def columns(self, codes) -> dict[str, list | pd.Series]:
        """The key columns of rows whose key positions are ``codes``.
        An integer column with a NULL stays object-typed: pandas would
        make it float64 and round keys beyond 2**53."""
        cols = {}
        for j, f in enumerate(self.table.key_fields):
            vals = [self.rows[i][j] for i in codes]
            if f.dataType.typeName() in _INTEGRAL and None in vals:
                vals = pd.Series(vals, dtype=object)
            cols[f.name] = vals
        return cols

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
        stream.selectExpr("*", *table.group_exprs())
        .groupBy(GROUP_COL)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=timeout,
        )
    )
