"""Keyed-group apply over ``mapInPandas``: one shuffle on the group
columns, then the groups of each Arrow batch walked in one Python
call (:func:`grouped_apply`). Shared by the DataStream facade, the
Table API's keyed and windowed aggregates and the CEP matchers."""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def to_pdf(rows: list[dict], names: list[str]) -> pd.DataFrame:
    """Row dicts as a frame with columns ``names`` (an empty frame keeps
    the columns)."""
    if rows:
        return pd.DataFrame(rows, columns=names)
    return pd.DataFrame({n: pd.Series(dtype="object") for n in names})


def _same_group_key(a: tuple, b: tuple) -> bool:
    """Null-safe group-key equality shared by both group-walk paths."""
    return all((pd.isna(x) and pd.isna(y)) or x == y for x, y in zip(a, b))


def grouped_apply(
    df: DataFrame,
    gcols: list[str],
    harness: Callable[[tuple, pd.DataFrame], pd.DataFrame],
    schema: StructType,
    shuffle: bool = True,
    rows_mode: bool = False,
) -> DataFrame:
    """Keyed-group apply with PER-BATCH group iteration: one shuffle on
    ``gcols`` + ``mapInPandas`` walking the groups inside each Arrow
    batch. ``applyInPandas`` invokes the Python worker once PER GROUP,
    which dominates wall time on many-small-groups shapes (thousands of
    users/windows with a handful of rows each) — iterating groups inside
    a batch amortizes that cost to one invocation per ~10k rows. The
    reference pays one operator call per record either way; this keeps
    the facade's per-group overhead from exceeding it.

    ``shuffle=False`` skips the repartition when the caller's plan
    already co-locates each group inside one partition (e.g. a window
    function partitioned by a PREFIX of ``gcols`` — session ids / count
    fires derive from the key, so hash(key) partitioning covers
    (key, window) groups); only the partition-local sort runs, keeping
    the upstream exchange the plan's only one.

    Groups are contiguous after the in-partition sort; a group can
    still be SPLIT across Arrow batches, so each batch's trailing group
    carries over as a LIST of pieces (null-safe key comparison,
    concatenated exactly once when the group completes — a group
    spanning many batches costs linear assembly, not quadratic).
    ``harness(key_tuple, group_pdf) -> result_pdf`` keeps the exact
    applyInPandas contract (group columns included in the pdf).

    ``rows_mode=True`` switches to the many-tiny-groups fast path:
    ``harness(key_tuple, rows: list[dict]) -> list[dict]`` — one
    ``itertuples`` pass per Arrow batch with sorted-boundary group
    detection, ONE output DataFrame per batch. The pdf-mode path builds
    a groupby sub-frame and a result DataFrame PER GROUP (~1 ms of
    pandas overhead each), which dominated wall time on shapes like the
    windowed coGroup (40k one-row groups → 35 s of pure overhead);
    rows_mode removes both per-group materializations."""
    names = [f.name for f in schema.fields]
    if rows_mode:
        return _grouped_apply_rows(df, gcols, harness, schema, names, shuffle)

    def key_mask(pdf: pd.DataFrame, key_row) -> pd.Series:
        m = pd.Series(True, index=pdf.index)
        for c in gcols:
            v = key_row[c]
            m &= pdf[c].isna() if pd.isna(v) else (pdf[c] == v)
        return m

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        # harness may return a DataFrame OR a list of row dicts; list
        # returns batch into ONE frame per run so a many-tiny-groups
        # shape never pays a per-group DataFrame construction
        frames = []
        rows: list[dict] = []
        for key, g in pdf.groupby(gcols, sort=False, dropna=False):
            if not isinstance(key, tuple):
                key = (key,)
            out = harness(key, g)
            if out is None:
                continue
            if isinstance(out, list):
                rows.extend(out)
            elif len(out):
                if rows:  # preserve inter-group emission order
                    frames.append(to_pdf(rows, names))
                    rows = []
                frames.append(out)
        if rows:
            frames.append(to_pdf(rows, names))
        if not frames:
            return to_pdf([], names)
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        carry: list[pd.DataFrame] = []

        def flush() -> pd.DataFrame | None:
            nonlocal carry
            if not carry:
                return None
            grp = carry[0] if len(carry) == 1 else pd.concat(carry, ignore_index=True)
            carry = []
            return emit(grp)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry:
                ck = tuple(carry[-1][gcols].iloc[-1])
                fk = tuple(pdf[gcols].iloc[0])
                if _same_group_key(ck, fk):
                    head_m = key_mask(pdf, pdf[gcols].iloc[0])
                    carry.append(pdf[head_m])
                    pdf = pdf[~head_m]
                    if len(pdf) == 0:
                        continue  # batch fully absorbed by the carried group
                out = flush()  # a different key follows: the group is complete
                if out is not None and len(out):
                    yield out
            tail_m = key_mask(pdf, pdf[gcols].iloc[-1])
            body = pdf[~tail_m]
            carry = [pdf[tail_m]]
            if len(body):
                yield emit(body)
        out = flush()
        if out is not None and len(out):
            yield out

    parts = (df.repartition(*gcols) if shuffle else df).sortWithinPartitions(*gcols)
    return parts.mapInPandas(gen, schema)


def _grouped_apply_rows(
    df: DataFrame,
    gcols: list[str],
    harness,
    schema: StructType,
    names: list[str],
    shuffle: bool,
) -> DataFrame:
    """rows_mode body of :func:`grouped_apply` (see its docstring):
    sorted-contiguous group walk over row dicts, one output frame per
    Arrow batch. The cross-batch carry is a plain list of row dicts —
    a group spanning batches costs linear assembly."""

    def _key_of(row: dict) -> tuple:
        return tuple(row[c] for c in gcols)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        carry_rows: list[dict] = []
        carry_key: tuple | None = None

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = list(pdf.columns)
            out_rows: list[dict] = []
            for tup in pdf.itertuples(index=False, name=None):
                row = dict(zip(cols, tup))
                k = _key_of(row)
                if carry_key is not None and _same_group_key(k, carry_key):
                    carry_rows.append(row)
                    continue
                if carry_key is not None:
                    out_rows.extend(harness(carry_key, carry_rows) or [])
                carry_key, carry_rows = k, [row]
            if out_rows:
                yield to_pdf(out_rows, names)
        if carry_key is not None:
            final = harness(carry_key, carry_rows) or []
            if final:
                yield to_pdf(final, names)

    parts = (df.repartition(*gcols) if shuffle else df).sortWithinPartitions(*gcols)
    return parts.mapInPandas(gen, schema)
