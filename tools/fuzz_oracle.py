#!/usr/bin/env python3
"""Property-based cross-engine oracle fuzzing.

Generates random-but-deterministic SQL queries over the star schema
(bounded join/filter/aggregate/window/set-op composition), runs each on
BOTH Spark and DuckDB, and compares with the driver-grade canonicalizer
from ``tools/check_oracle.py``. On a mismatch it SHRINKS the query —
dropping optional clauses one at a time while the divergence persists —
and reports the minimal reproducing SQL with its seed.

This exceeds the reference's test strategy where it is weakest
(SURVEY §5.5: the reference validates against fixed golden files only;
it has no generative corpus). Every query the generator emits obeys the
repo's cross-engine determinism rules, so any mismatch is a REAL
divergence, not noise:

- money aggregates on the integer-cents grid
  (SUM(CAST(CAST(x AS DECIMAL(38,2)) * 100 AS BIGINT)));
- counts CAST to BIGINT (DuckDB COUNT is HUGEINT via pandas -> float64);
- no division anywhere — ratio predicates are cross-multiplied;
- calendar arithmetic only via EXTRACT(YEAR/MONTH/QUARTER/DOY);
- no bare DOUBLE aggregation (addition-order sensitive);
- ORDER BY appears only under LIMIT and always carries a full
  tiebreaker chain (both engines then pick the same rows).

Usage:
    python tools/fuzz_oracle.py [--seeds 1000] [--start 0]
        [--sf /root/testdata/sf0.01] [--verbose]

Exit 0 when every seed matches, 1 otherwise.
"""

from __future__ import annotations

import argparse
import random
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_release_1_16_0_spark import get_spark, register_tables  # noqa: E402
from flink_release_1_16_0_spark.catalog import TABLES  # noqa: E402

sys.path.insert(0, str(REPO / "tools"))
from check_oracle import compare  # noqa: E402

# ---------------------------------------------------------------------------
# schema model: tables, their columns by kind, and FK equi-join edges
# ---------------------------------------------------------------------------

T = {
    "orders": {
        "keys": ["o_orderkey", "o_custkey"],
        "money": ["o_totalprice"],
        "cats": {
            "o_orderstatus": ["O", "F", "P"],
            "o_orderpriority": [
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
            ],
        },
        "dates": ["o_orderdate"],
    },
    "lineitem": {
        "keys": ["l_orderkey", "l_partkey", "l_suppkey"],
        "money": ["l_extendedprice"],
        "cats": {
            "l_returnflag": ["R", "N", "A"],
            "l_linestatus": ["O", "F"],
        },
        "dates": ["l_shipdate"],
    },
    "customer": {
        "keys": ["c_custkey", "c_nationkey"],
        "money": ["c_acctbal"],
        "cats": {
            "c_mktsegment": [
                "AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD",
            ]
        },
        "dates": [],
    },
    "part": {
        "keys": ["p_partkey", "p_size"],
        "money": ["p_retailprice"],
        "cats": {},
        "dates": [],
    },
}

# (left_table, right_table, left_col, right_col)
JOINS = [
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
]

AGGS = ["count", "sum_cents", "min_key", "max_key", "count_distinct"]


def _filters(rng: random.Random, t: str, alias: str) -> list[str]:
    """0-2 engine-deterministic predicates on table ``t``."""
    spec = T[t]
    out = []
    for _ in range(rng.randint(0, 2)):
        kind = rng.choice(["mod", "cat", "year", "range"])
        if kind == "mod":
            k = rng.choice(spec["keys"])
            m = rng.choice([2, 3, 5, 7])
            out.append(f"{alias}.{k} % {m} = {rng.randrange(m)}")
        elif kind == "cat" and spec["cats"]:
            c, dom = rng.choice(sorted(spec["cats"].items()))
            vals = rng.sample(dom, rng.randint(1, min(3, len(dom))))
            lst = ", ".join(f"'{v}'" for v in vals)
            out.append(f"{alias}.{c} IN ({lst})")
        elif kind == "year" and spec["dates"]:
            d = rng.choice(spec["dates"])
            op = rng.choice(["=", ">=", "<"])
            out.append(f"EXTRACT(YEAR FROM {alias}.{d}) {op} {rng.randint(1995, 2000)}")
        elif kind == "range":
            k = rng.choice(spec["keys"])
            out.append(f"{alias}.{k} {rng.choice(['<', '>='])} {rng.randint(10, 5000)}")
    return out


def _group_expr(rng: random.Random, t: str, alias: str) -> tuple[str, str]:
    """(select expr AS g, bare group expr) — engine-identical grouping."""
    spec = T[t]
    choice = rng.choice(["mod", "cat", "month"])
    if choice == "cat" and spec["cats"]:
        c = rng.choice(sorted(spec["cats"]))
        return f"{alias}.{c}", f"{alias}.{c}"
    if choice == "month" and spec["dates"]:
        d = rng.choice(spec["dates"])
        e = f"EXTRACT(MONTH FROM {alias}.{d})"
        return e, e
    k = rng.choice(spec["keys"])
    m = rng.choice([4, 10, 25])
    e = f"{alias}.{k} % {m}"
    return e, e


def _agg_exprs(rng: random.Random, tables: list[tuple[str, str]]) -> list[str]:
    """1-3 deterministic aggregates over the joined tables."""
    out = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for i in range(rng.randint(0, 2)):
        t, alias = rng.choice(tables)
        spec = T[t]
        kind = rng.choice(AGGS)
        if kind == "sum_cents" and spec["money"]:
            c = rng.choice(spec["money"])
            out.append(
                f"CAST(SUM(CAST(CAST({alias}.{c} AS DECIMAL(38,2)) * 100 AS BIGINT))"
                f" AS BIGINT) AS cents_{i}"
            )
        elif kind == "min_key":
            c = rng.choice(spec["keys"])
            out.append(f"MIN({alias}.{c}) AS min_{i}")
        elif kind == "max_key":
            c = rng.choice(spec["keys"])
            out.append(f"MAX({alias}.{c}) AS max_{i}")
        elif kind == "count_distinct":
            c = rng.choice(spec["keys"])
            out.append(f"CAST(COUNT(DISTINCT {alias}.{c}) AS BIGINT) AS nd_{i}")
        else:
            c = rng.choice(spec["keys"])
            out.append(f"CAST(COUNT({alias}.{c}) AS BIGINT) AS c_{i}")
    # dedupe aliases (count twice is fine, names differ by i)
    return out


def gen_query(seed: int) -> str:
    """One deterministic random query for ``seed``."""
    rng = random.Random(seed)
    shape = rng.choice(
        [
            "agg", "agg_join", "setop", "window", "left_join", "exists",
            "rollup", "in_subquery", "corr_scalar",
        ]
    )

    if shape == "in_subquery":
        # [NOT] IN (subquery) — NOT IN's three-valued-logic corner is a
        # classic divergence source (keys here are non-null, so a hit
        # would be a real planner bug, not NULL-semantics noise)
        lt, rt, lc, rc = JOINS[rng.randrange(len(JOINS))]
        neg = rng.choice(["", "NOT "])
        rf = _filters(rng, rt, "r")
        lf = _filters(rng, lt, "o")
        g, graw = _group_expr(rng, lt, "o")
        sub = f"SELECT r.{rc} FROM {rt} r"
        if rf:
            sub += " WHERE " + " AND ".join(rf)
        sql = (
            f"SELECT {g} AS g, CAST(COUNT(*) AS BIGINT) AS n\n"
            f"FROM {lt} o\nWHERE o.{lc} {neg}IN ({sub})"
        )
        if lf:
            sql += " AND " + " AND ".join(lf)
        return sql + f"\nGROUP BY {graw}"

    if shape == "corr_scalar":
        # correlated scalar subquery (decorrelation): rows beating a
        # per-correlation-key MAX/MIN — comparisons on raw doubles are
        # exact (no arithmetic), *2 is exact in binary floating point
        lt, rt, lc, rc = JOINS[rng.randrange(len(JOINS))]
        money = T[lt]["money"][0]
        agg = rng.choice(["MAX", "MIN"])
        op = ">" if agg == "MIN" else "<"
        lf = _filters(rng, lt, "o")
        sql = (
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n,\n"
            f"       MIN(o.{lc}) AS min_k, MAX(o.{lc}) AS max_k\n"
            f"FROM {lt} o\n"
            f"WHERE o.{money} * 2 {op} (SELECT {agg}(i.{money}) "
            f"FROM {lt} i WHERE i.{lc} = o.{lc})"
        )
        if lf:
            sql += " AND " + " AND ".join(lf)
        return sql

    if shape == "left_join":
        # null-extension semantics: unmatched left rows must aggregate
        # identically (COUNT skips nulls, SUM of no rows is NULL, the
        # IS NULL branch) — a classic cross-engine divergence source
        lt, rt, lc, rc = JOINS[rng.randrange(len(JOINS))]
        rf = _filters(rng, rt, "r")
        on = f"r.{rc} = l.{lc}" + ("" if not rf else " AND " + " AND ".join(rf))
        lf = _filters(rng, lt, "l")
        g, graw = _group_expr(rng, lt, "l")
        money = T[rt]["money"][0]
        sql = (
            f"SELECT {g} AS g,\n"
            f"       CAST(COUNT(*) AS BIGINT) AS n_left,\n"
            f"       CAST(COUNT(r.{rc}) AS BIGINT) AS n_matched,\n"
            f"       CAST(SUM(CASE WHEN r.{rc} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_null,\n"
            f"       CAST(SUM(CAST(CAST(r.{money} AS DECIMAL(38,2)) * 100 AS BIGINT))"
            f" AS BIGINT) AS cents\n"
            f"FROM {lt} l\nLEFT JOIN {rt} r ON {on}"
        )
        if lf:
            sql += "\nWHERE " + " AND ".join(lf)
        sql += f"\nGROUP BY {graw}"
        return sql

    if shape == "exists":
        # correlated [NOT] EXISTS decorrelation
        lt, rt, lc, rc = JOINS[rng.randrange(len(JOINS))]
        neg = rng.choice(["", "NOT "])
        rf = _filters(rng, rt, "r")
        cond = f"r.{rc} = o.{lc}" + ("" if not rf else " AND " + " AND ".join(rf))
        lf = _filters(rng, lt, "o")
        g, graw = _group_expr(rng, lt, "o")
        sql = (
            f"SELECT {g} AS g, CAST(COUNT(*) AS BIGINT) AS n\n"
            f"FROM {lt} o\n"
            f"WHERE {neg}EXISTS (SELECT 1 FROM {rt} r WHERE {cond})"
        )
        if lf:
            sql += " AND " + " AND ".join(lf)
        sql += f"\nGROUP BY {graw}"
        return sql

    if shape == "rollup":
        # grouping-sets null rows must canonicalize identically
        t = rng.choice(["orders", "lineitem", "customer"])
        g1, r1 = _group_expr(rng, t, t)
        g2, r2 = _group_expr(rng, t, t)
        if r1 == r2:
            g2, r2 = f"{t}.{T[t]['keys'][0]} % 2", f"{t}.{T[t]['keys'][0]} % 2"
        f = _filters(rng, t, t)
        money = T[t]["money"][0]
        sql = (
            f"SELECT {g1} AS g1, {g2} AS g2,\n"
            f"       CAST(COUNT(*) AS BIGINT) AS n,\n"
            f"       CAST(SUM(CAST(CAST({t}.{money} AS DECIMAL(38,2)) * 100 AS BIGINT))"
            f" AS BIGINT) AS cents\n"
            f"FROM {t}"
        )
        if f:
            sql += "\nWHERE " + " AND ".join(f)
        sql += f"\nGROUP BY ROLLUP({r1}, {r2})"
        return sql

    if shape == "setop":
        # two key-sets over the same table under different filters
        t = rng.choice(["orders", "lineitem", "customer"])
        k = rng.choice(T[t]["keys"])
        op = rng.choice(["INTERSECT", "EXCEPT", "UNION"])
        f1 = _filters(rng, t, t) or ["1 = 1"]
        f2 = _filters(rng, t, t) or ["1 = 1"]
        return (
            f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (\n"
            f"  SELECT DISTINCT {t}.{k} FROM {t} WHERE {' AND '.join(f1)}\n"
            f"  {op}\n"
            f"  SELECT DISTINCT {t}.{k} FROM {t} WHERE {' AND '.join(f2)}\n"
            f") t"
        )

    # build FROM: one table or a chain of FK joins
    n_joins = 0 if shape == "agg" else rng.randint(1, 2)
    lt, rt, lc, rc = JOINS[rng.randrange(len(JOINS))]
    tables = [(lt, "t0")]
    joins = []
    if n_joins >= 1:
        tables.append((rt, "t1"))
        joins.append(f"JOIN {rt} t1 ON t1.{rc} = t0.{lc}")
    if n_joins == 2:
        # extend from either end with a remaining edge
        for lt2, rt2, lc2, rc2 in JOINS:
            have = {t for t, _ in tables}
            if lt2 in have and rt2 not in have:
                a = next(al for t, al in tables if t == lt2)
                tables.append((rt2, "t2"))
                joins.append(f"JOIN {rt2} t2 ON t2.{rc2} = {a}.{lc2}")
                break

    where = []
    for t, alias in tables:
        where.extend(_filters(rng, t, alias))
    gt, ga = rng.choice(tables)
    gexpr, graw = _group_expr(rng, gt, ga)
    aggs = _agg_exprs(rng, tables)

    sql = f"SELECT {gexpr} AS g,\n       " + ",\n       ".join(aggs)
    sql += f"\nFROM {tables[0][0]} {tables[0][1]}\n" + "\n".join(joins)
    if where:
        sql += "\nWHERE " + " AND ".join(where)
    sql += f"\nGROUP BY {graw}"
    if rng.random() < 0.4:
        sql += f"\nHAVING COUNT(*) > {rng.randint(1, 5)}"

    if shape == "window":
        # rank groups by the count with full tiebreakers, keep top-K
        sql = (
            "SELECT g, n, CAST(rnk AS BIGINT) AS rnk FROM (\n"
            "  SELECT g, n, RANK() OVER (ORDER BY n DESC, g) AS rnk\n"
            f"  FROM (\n{sql}\n  ) base\n"
            f") ranked WHERE rnk <= {random.Random(seed + 1).randint(3, 12)}"
        )
    return sql


# ---------------------------------------------------------------------------
# shrinking: drop WHERE/HAVING clauses and aggregates while still diverging
# ---------------------------------------------------------------------------


def shrink(sql: str, diverges) -> str:
    """Greedy line-level shrink: try deleting one line at a time (and
    repairing dangling AND/HAVING), keep deletions that still diverge."""
    lines = sql.splitlines()
    changed = True
    while changed:
        changed = False
        for i in range(len(lines)):
            cand_lines = lines[:i] + lines[i + 1 :]
            cand = "\n".join(cand_lines)
            try:
                if diverges(cand):
                    lines = cand_lines
                    changed = True
                    break
            except Exception:  # noqa: BLE001 — malformed shrink candidate
                continue
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--seeds", type=int, default=200)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()

    spark = get_spark("oracle-fuzz")
    register_tables(spark, args.sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    def run_both(sql: str):
        s = spark.sql(sql).toPandas()
        d = con.execute(sql).fetchdf()
        return compare(s, d)

    def known_divergence(sql: str) -> str | None:
        """Classify documented substrate divergences so the fuzzer keeps
        hunting for NEW ones without re-reporting the known set:

        - empty-input grouping sets: Spark expands ROLLUP/CUBE/GROUPING
          SETS over input rows, so zero input rows produce zero output
          rows; the standard (and DuckDB/PostgreSQL/Flink-Calcite) emit
          the () grouping set's grand-total row. Found by this fuzzer
          (round 10), pinned in tests/test_fuzz_oracle.py and documented
          in COVERAGE.md."""
        if "ROLLUP(" in sql or "CUBE(" in sql or "GROUPING SETS" in sql:
            s = spark.sql(sql).toPandas()
            d = con.execute(sql).fetchdf()
            grand_total_only = len(d) == 1 and all(
                (d[c].isna().all() or (d[c] == 0).all()) for c in d.columns
            )
            if len(s) == 0 and grand_total_only:
                return "spark-empty-grouping-sets"
        return None

    failures = 0
    known = 0
    t_start = time.time()
    for seed in range(args.start, args.start + args.seeds):
        sql = gen_query(seed)
        try:
            status, detail = run_both(sql)
        except Exception as e:  # noqa: BLE001
            print(f"\nseed {seed}: ENGINE ERROR {e}\n--- sql ---\n{sql}\n")
            failures += 1
            continue
        if status != "OK":
            tag = known_divergence(sql)
            if tag:
                known += 1
                print(f"seed {seed}: known divergence ({tag}) — documented")
                continue
        if status == "OK":
            if args.verbose:
                print(f"seed {seed}: ok")
            elif seed % 50 == 0:
                el = time.time() - t_start
                print(f"... seed {seed} ({el:.0f}s elapsed)", flush=True)
            continue
        failures += 1

        def diverges(cand: str) -> bool:
            st, _ = run_both(cand)
            return st != "OK"

        minimal = shrink(sql, diverges)
        print(
            f"\nseed {seed}: DIVERGENCE {status} {detail}\n"
            f"--- minimal sql ---\n{minimal}\n"
        )
    el = time.time() - t_start
    print(
        f"\nfuzz: {args.seeds} seeds, {failures} divergences, "
        f"{known} known-documented "
        f"({el:.0f}s, {el / max(args.seeds, 1):.2f}s/seed)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
