"""Unbounded retracting group aggregate
(GroupAggFunction.java:125-172 with the WithRetract accumulator
family) — the one operator for every unbounded streaming GROUP BY
aggregate, as GroupAggFunction is the reference's one operator over
the AggsHandleFunction contract.

It takes an agg SPEC list (streaming.accumulators): COUNT(*), COUNT,
and the retract-capable accumulators the reference implements as
separate classes:

- Max/MinWithRetractAggFunction — value->count multiset, extremum of
  live keys (a scalar cell when the input is append-only);
- distinct aggregates over a changelog (COUNT/SUM/AVG/MAX/MIN
  DISTINCT — the DistinctViewSpec path): the same multiset, aggregated
  over its KEYS;
- ListAggWithRetractAggFunction — an ordered LIST; accumulate appends,
  retract removes the FIRST occurrence (the reference's
  ListAggWithRetractAggFunction.retract), NULL inputs are skipped and
  an all-NULL group emits NULL;
- exact decimal SUM, integer SUM/AVG with Java truncating division.

Emission per key per micro-batch (compacted GroupAggFunction
protocol): +I on first non-empty state, -U(old)/+U(new) on change
and nothing when the values did not change (the reference's record
equaliser), -D when the live row count nets to zero. The input is a
changelog only when ``rowkind_col`` names its row-kind column;
otherwise every row accumulates. State per key = one typed accumulator
(its last emission is its ``emit``, not stored twice); one hash exchange.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from flink_release_1_16_0_spark.streaming.accumulators import Accumulator, AggSpecs
from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)
from flink_release_1_16_0_spark.streaming.event_buffer import py_rows

_FUNCS = (
    "count_star",
    "count",
    "sum",
    "sum_int",
    "avg_int",
    "max",
    "min",
    "count_distinct",
    "sum_distinct_int",
    "avg_distinct_int",
    "max_distinct",
    "min_distinct",
    "listagg",
)


def streaming_retracting_multi_agg(
    stream: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple],
    *,
    rowkind_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Unbounded retracting group agg over an append or changelog
    input. ``aggs``: (out_name, func, col, out_type[, listagg_delim]).
    Output: __rowkind + keys + agg columns; SUM emits its exact
    Decimal value per out_type (a STRING out_type keeps it exact for a
    downstream cast).
    """
    for a in aggs:
        if a[1] not in _FUNCS:
            raise ValueError(f"unsupported retract agg func {a[1]!r}")
    key_fields = [stream.schema[k] for k in keys]
    out_schema = StructType(
        [
            StructField(ROWKIND, StringType()),
            *key_fields,
            *[StructField(a[0], a[3]) for a in aggs],
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    specs = AggSpecs(aggs, changelog=rowkind_col is not None)
    in_fields = [stream.schema[c] for c in specs.columns]
    plan = specs.plan(specs.columns)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc = specs.load(state.get)[0] if state.exists else Accumulator(len(aggs))
        emitted = acc.emit(specs) if state.exists else None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if seq_col is not None:
                pdf = pdf.sort_values(seq_col, kind="mergesort")
            signs = repeat(1)
            if rowkind_col is not None:
                signs = [
                    -1 if k in (UPDATE_BEFORE, DELETE) else 1
                    for k in pdf[rowkind_col].tolist()
                ]
            for sign, tup in zip(signs, py_rows(pdf, in_fields)):
                acc.add(plan, tup, sign)
        out: list[tuple] = []
        if acc.n <= 0:
            if emitted is not None:
                out.append((DELETE, *key, *emitted))
            if state.exists:
                state.remove()
        else:
            vals = acc.emit(specs)
            if emitted is None:
                out.append((INSERT, *key, *vals))
            elif vals != emitted:
                out.append((UPDATE_BEFORE, *key, *emitted))
                out.append((UPDATE_AFTER, *key, *vals))
            state.update(specs.store([acc]))
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=StructType(specs.state_fields(stream.schema)),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
