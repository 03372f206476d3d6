#!/usr/bin/env python3
"""Solo-time named queries with the bench protocol (warm-up + min of
N timed noop-sink runs, memo cleared between samples). Usage:
  python plans/time_solo.py [--runs N] name [name ...]
Prints one JSON line {"name": best_sec, ...}."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hz_csv2parquet_spark.queries import REGISTRY
    from hz_csv2parquet_spark.session import get_spark
    from hz_csv2parquet_spark.tables import memo_clear

    spark = get_spark(app="hz_time_solo")

    def quiesce():
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    out = {}
    for name in args.names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"solo:{name}")
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

        def one() -> float:
            memo_clear()
            quiesce()
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        out[name] = round(min(one() for _ in range(max(args.runs, 2))), 4)
        print(f"[solo] {name}: {out[name]:.3f}s", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
