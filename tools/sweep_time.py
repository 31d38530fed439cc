"""Time registry queries (one untimed action then one timed) at a SF.

Usage: python tools/sweep_time.py [--sf DIR] [--prefix p1,p2 | names...]
Prints one line per query and a sorted summary. Measurement helper for
the optimization rounds (guide section 1) — not part of the bench
contract.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_release_1_16_0_spark import get_spark  # noqa: E402
from flink_release_1_16_0_spark.queries import load_registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--prefix", default=None)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    registry = load_registry()
    if args.names:
        names = args.names
    elif args.prefix:
        prefixes = tuple(args.prefix.split(","))
        names = [n for n in registry if n.startswith(prefixes)]
    else:
        names = list(registry)

    spark = get_spark("sweep_time")
    spark.read.parquet(f"{args.sf}/region.parquet").count()
    out = {}
    for name in names:
        spark.catalog.clearCache()
        try:
            t0 = time.time()
            registry[name].fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            warm = time.time() - t0
            best = warm
            for _ in range(args.runs - 1):
                spark.catalog.clearCache()
                t0 = time.time()
                registry[name].fn(spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
            print(f"{name}: {best:.3f}s (first {warm:.3f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            out[name] = None
            print(f"{name}: FAIL {type(exc).__name__}: {exc}", flush=True)
    ranked = sorted(
        ((v, k) for k, v in out.items() if v is not None), reverse=True
    )
    print("== slowest ==")
    for v, k in ranked[:20]:
        print(f"  {k}: {v:.3f}s")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
