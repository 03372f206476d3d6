#!/usr/bin/env python3
"""Count Spark jobs (and their total tasks) one full run of each named
query dispatches — deterministic structural evidence for job-fusion
changes that wall-clock noise on a shared host cannot provide.

Usage: python plans/count_jobs.py name [name ...]
Prints one JSON line {"name": {"jobs": N, "tasks": M}, ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def count_group(sc, group: str, fn) -> dict[str, int]:
    """Run ``fn()`` inside the fresh job group ``group`` and return the
    jobs it dispatched and their total tasks: {"jobs": N, "tasks": M}."""
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    ids = sorted(set(tracker.getJobIdsForGroup(group) or []))
    tasks = 0
    for jid in ids:
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return {"jobs": len(ids), "tasks": tasks}


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hz_csv2parquet_spark.queries import REGISTRY
    from hz_csv2parquet_spark.session import get_spark
    from hz_csv2parquet_spark.tables import memo_clear

    spark = get_spark(app="hz_count_jobs")

    def run(name: str) -> None:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        # warm-up so file listings/broadcasts don't add one-time jobs
        run(name)
        memo_clear()
        out[name] = count_group(spark.sparkContext, f"count:{name}", lambda: run(name))
        print(f"[jobs] {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
