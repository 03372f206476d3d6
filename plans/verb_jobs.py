#!/usr/bin/env python3
"""Per-verb job counts for the txlog DML verbs — plans/count_jobs.py
at verb grain, sharing its ``count_group``. Each verb of a
representative lifecycle runs inside its own job group; the printed
JSON maps verb -> {jobs, tasks}. Deterministic structural evidence
(wall-clock on this host is not).

Usage: python plans/verb_jobs.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from count_jobs import count_group
    from pyspark.sql import functions as F

    from hz_csv2parquet_spark.session import get_spark
    from hz_csv2parquet_spark.scratch import scratch_dir
    from hz_csv2parquet_spark.sources.txlog import TxTable
    from hz_csv2parquet_spark.tables import table

    spark = get_spark(app="hz_verb_jobs")

    def count(label: str, fn) -> None:
        out[label] = count_group(spark.sparkContext, f"verb:{label}", fn)
        print(f"[verb] {label}: {out[label]}", file=sys.stderr)

    out: dict[str, dict] = {}

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    # --- copy-on-write table with change feed (the update_rename shape)
    t1 = TxTable(
        spark,
        scratch_dir("hz_verbjobs_cow_"),
        stat_cols=["event_id"],
        change_data=True,
    )
    count("cow_create", lambda: t1.create(
        ev.repartitionByRange(2, "event_id").sortWithinPartitions("event_id")))
    count("cow_delete_cdf", lambda: t1.delete_where("event_id % 7 = 0"))
    count("cow_update_cdf", lambda: t1.update_where(
        "event_id % 10 = 1", {"cents": "cents + 1"}))

    # --- copy-on-write, NO change feed
    t2 = TxTable(spark, scratch_dir("hz_verbjobs_plain_"), stat_cols=["event_id"])
    count("plain_create", lambda: t2.create(
        ev.repartitionByRange(2, "event_id").sortWithinPartitions("event_id")))
    count("plain_delete", lambda: t2.delete_where("event_id % 7 = 0"))
    count("plain_update", lambda: t2.update_where(
        "event_id % 10 = 1", {"cents": "cents + 1"}))

    # --- merge-on-read (deletion vectors), no cdf (the dv_delete shape)
    t3 = TxTable(
        spark,
        scratch_dir("hz_verbjobs_dv_"),
        stat_cols=["event_id"],
        deletion_vectors=True,
    )
    count("dv_create", lambda: t3.create(
        ev.repartitionByRange(2, "event_id").sortWithinPartitions("event_id")))
    count("dv_delete", lambda: t3.delete_where("event_id % 7 = 0"))
    count("dv_delete_2nd", lambda: t3.delete_where("event_id % 11 = 0"))
    count("dv_update", lambda: t3.update_where(
        "event_id % 10 = 1", {"cents": "cents + 1"}))

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
