#!/usr/bin/env python3
"""Exact sf1 adjudication for dedup_cluster_assign.

The registry oracle for connected components is a recursive-CTE
transitive closure — correct and cheap at the gate SFs, but its
intermediate is quadratic in path count and exceeded the host's disk at
sf1 (DuckDB spilled >100 GB). Components have a cheaper exact reference:
UNION-FIND over the same verified LSH pair list. This script runs the
ENGINE's full cluster assignment at sf1 and compares it row-for-row
against a Python union-find built from the engine's own pair input
(which is itself hash-verified against DuckDB at sf1 separately via
dedup_minhash_lsh), checking: identical component membership
PARTITIONS, min-label representative per cluster, cluster sizes, and
keeper flags.

Usage: python tools/verify_cluster_sf1.py [--sf testdata_sf1]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_release_1_16_0_spark import get_spark  # noqa: E402
from flink_release_1_16_0_spark.queries import load_registry  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=str(REPO / "testdata_sf1"))
    args = ap.parse_args()

    registry = load_registry()
    spark = get_spark("cluster-sf1")

    pairs = [
        (r.id_a, r.id_b)
        for r in registry["dedup_minhash_lsh"].fn(spark, args.sf).collect()
    ]
    from flink_release_1_16_0_spark.catalog import load_table

    all_docs = [r.doc_id for r in load_table(spark, args.sf, "documents").select("doc_id").collect()]

    # union-find with min-label representatives
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-label wins so the representative is the min doc_id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for a, b in pairs:
        union(a, b)
    expected = {d: find(d) for d in all_docs}
    sizes: dict[int, int] = {}
    for d, c in expected.items():
        sizes[c] = sizes.get(c, 0) + 1

    got = registry["dedup_cluster_assign"].fn(spark, args.sf).collect()
    assert len(got) == len(all_docs), (len(got), len(all_docs))
    bad = 0
    for r in got:
        exp_c = expected[r.doc_id]
        if (
            r.cluster_id != exp_c
            or r.cluster_size != sizes[exp_c]
            or r.is_keeper != (r.doc_id == exp_c)
        ):
            bad += 1
            if bad <= 5:
                print(
                    f"MISMATCH doc {r.doc_id}: got (c={r.cluster_id}, "
                    f"n={r.cluster_size}, k={r.is_keeper}) want "
                    f"(c={exp_c}, n={sizes[exp_c]}, k={r.doc_id == exp_c})"
                )
    n_clusters = sum(1 for c, n in sizes.items() if n > 1)
    print(
        f"pairs={len(pairs)} docs={len(all_docs)} multi_clusters={n_clusters} "
        f"mismatches={bad}"
    )
    print("OK" if bad == 0 else "FAIL")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
