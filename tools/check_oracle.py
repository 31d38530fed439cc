"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its DuckDB oracle side by side,
then compares row count, column names, and values EXACTLY (after
sorting columns by name and rows by value — emulating the driver's
order-insensitive value-hash). "CLOSE" (allclose but not bit-equal)
is reported as a failure: it would hash-mismatch.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_release_1_16_0_spark import get_spark, register_tables  # noqa: E402
from flink_release_1_16_0_spark.catalog import TABLES  # noqa: E402
from flink_release_1_16_0_spark.queries import load_registry  # noqa: E402
from flink_release_1_16_0_spark.session import host_mem_mib  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # arrays / lists -> tuples for sortability
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif isinstance(s.dtype, pd.CategoricalDtype):
            df[c] = s.astype(str)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[str, str]:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return "SCHEMA", f"spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return "ROWS", f"spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    # The driver hashes RAW dtypes — any dtype-kind or width difference
    # between the Spark result and the oracle result hash-mismatches even
    # when every value is identical.  Two escapes proved this guard must
    # be symmetric and width-aware:
    #   r3 dedup_simhash:   oracle float64 (DuckDB HUGEINT via fetchdf)
    #                       vs spark int64  -> CAST(... AS BIGINT)
    #   r4 func_math:       oracle int8    (DuckDB SIGN(int) -> TINYINT)
    #                       vs spark float64 -> CAST(... AS DOUBLE)
    # Our _normalize below would hide both, so fail them explicitly here.
    # Width drift within a kind (spark int32 vs oracle int64) does NOT
    # driver-mismatch: window_topn and similarity_hyperplane_lsh_topk
    # carry exactly that drift (Spark RANK -> int32, DuckDB -> int64)
    # and were driver-green hash_match:true in r4 — so it's a warning,
    # not a failure. Kind mismatch is the real hash-breaker.
    drift, widths = [], []
    for c in spark_pdf.columns:
        s_dt, o_dt = spark_pdf[c].dtype, oracle_pdf[c].dtype
        s_int = pd.api.types.is_integer_dtype(s_dt)
        o_int = pd.api.types.is_integer_dtype(o_dt)
        s_flt = pd.api.types.is_float_dtype(s_dt)
        o_flt = pd.api.types.is_float_dtype(o_dt)
        if (s_int and o_flt) or (s_flt and o_int):
            drift.append((c, f"spark {s_dt} vs oracle {o_dt} (kind mismatch)"))
        elif (s_int and o_int or s_flt and o_flt) and s_dt != o_dt:
            widths.append(f"{c}: spark {s_dt} vs oracle {o_dt}")
    if drift:
        return "DTYPE", "; ".join(f"{c}: {msg}" for c, msg in drift)
    if widths:
        print(f"  width-drift (driver-benign): {'; '.join(widths)}")
    # The driver's canonicalizer sorts ALL columns with pandas sort_values and
    # crashes (`TypeError: unhashable type: 'list'`) on any cell holding a
    # list/ndarray/dict — r5's func_collections red cell. Our _normalize used
    # to paper over this by converting lists to tuples BEFORE sorting, so the
    # local gate diverged from the driver for the third straight round
    # (r3 HUGEINT dtype, r4 int/float kind, r5 unhashable lists). Fail any
    # graded frame (either side) carrying such values — mirror of the DTYPE
    # guard — so driver-crashing outputs fail locally too.
    hostile = []
    for c in spark_pdf.columns:
        for side, frame in (("spark", spark_pdf), ("oracle", oracle_pdf)):
            s = frame[c]
            if s.dtype == object and s.map(
                lambda v: isinstance(v, (list, np.ndarray, dict))
            ).any():
                hostile.append(f"{c} ({side})")
    if hostile:
        return (
            "UNHASHABLE",
            "driver canonicalizer would crash on list/ndarray/dict cells in: "
            + ", ".join(hostile)
            + " — serialize (array_join/to_json on both engines) before grading",
        )
    a, b = _normalize(spark_pdf.copy()), _normalize(oracle_pdf.copy())
    mism = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            eq = (av.values == bv.values) | (np.isnan(av.values) & np.isnan(bv.values))
            if not eq.all():
                close = np.allclose(av.fillna(0), bv.fillna(0), rtol=1e-9, atol=1e-12)
                mism.append((c, "CLOSE" if close else "VALUE", int((~eq).sum())))
        else:
            eq = (av.values == bv.values) | (pd.isna(av).values & pd.isna(bv).values)
            if not eq.all():
                i = int(np.argmax(~eq))
                mism.append((c, "VALUE", f"{int((~eq).sum())} rows e.g. {av.iloc[i]!r} vs {bv.iloc[i]!r}"))
    if mism:
        return "VALUES", "; ".join(str(m) for m in mism)
    return "OK", ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--tag",
        action="append",
        default=[],
        help="run only queries carrying ANY of these registry tags "
        "(e.g. --tag streaming); combines with positional names",
    )
    ap.add_argument(
        "--skip",
        action="append",
        default=[],
        help="exclude these query names (e.g. known-slow DuckDB twins at sf1)",
    )
    ap.add_argument(
        "--jsonl",
        default=None,
        help="append one JSON line per graded query to this file; on "
        "startup, names already recorded there (any status) are skipped — "
        "a crashed/restarted sweep resumes where it left off",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    registry = load_registry()
    names = list(args.names)
    if args.tag:
        want = set(args.tag)
        names += [
            n
            for n, s in registry.items()
            if want & set(s.tags) and n not in names
        ]
    if not names:
        names = list(registry)
    names = [n for n in names if n not in set(args.skip)]

    done: set[str] = set()
    if args.jsonl:
        import json as _json
        import os as _os

        if _os.path.exists(args.jsonl):
            with open(args.jsonl) as fh:
                for line in fh:
                    try:
                        done.add(_json.loads(line)["name"])
                    except (ValueError, KeyError):
                        pass
        if done:
            print(f"resuming: {len(done)} already recorded in {args.jsonl}")
        names = [n for n in names if n not in done]

    def record(name: str, status: str, detail: str, secs: float, rows: int) -> None:
        if not args.jsonl:
            return
        import json as _json

        with open(args.jsonl, "a") as fh:
            fh.write(
                _json.dumps(
                    {
                        "name": name,
                        "status": status,
                        "detail": detail[:500],
                        "secs": round(secs, 2),
                        "rows": rows,
                    }
                )
                + "\n"
            )

    spark = get_spark("oracle-check")
    register_tables(spark, args.sf)
    con = duckdb.connect()
    # Bound DuckDB's native memory and let it SPILL instead of OOMing:
    # the sf1 sweep's recursive-CTE / all-pairs oracles can balloon past
    # the host's RAM next to the Spark JVM (a 10x fixture OOM-killed the
    # whole sweep once). Slower oracle > dead sweep. The default is a
    # quarter of MemTotal: get_spark already gives the driver half.
    import os as _os

    mem = _os.environ.get("ORACLE_DUCKDB_MEM", f"{host_mem_mib() // 4}MiB")
    spill = _os.environ.get("ORACLE_DUCKDB_TMP", "/tmp/duckdb_spill")
    _os.makedirs(spill, exist_ok=True)
    con.execute(f"PRAGMA memory_limit='{mem}'")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    n_ok = n_bad = n_noracle = 0
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            spark_pdf = spec.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            record(name, "SPARK_ERROR", str(e), time.time() - t0, -1)
            n_bad += 1
            continue
        if spec.oracle is None:
            print(f"NOORACLE {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            record(name, "NOORACLE", "", time.time() - t0, len(spark_pdf))
            n_noracle += 1
            continue
        try:
            oracle_pdf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            record(name, "DUCKDB_ERROR", str(e), time.time() - t0, len(spark_pdf))
            n_bad += 1
            continue
        status, detail = compare(spark_pdf, oracle_pdf)
        record(name, status, detail, time.time() - t0, len(spark_pdf))
        if status == "OK":
            print(f"OK    {name}: rows={len(spark_pdf)} ({time.time()-t0:.1f}s)")
            n_ok += 1
        else:
            print(f"FAIL  {name}: {status} {detail}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} fail, {n_noracle} no-oracle")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
