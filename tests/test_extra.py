"""Extended-surface tests: bucketed-join layout and approx-quantile
accuracy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hz_csv2parquet_spark.queries import REGISTRY


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # at fixture size Spark rightly broadcasts the small side; the
    # bucketed layout must still be recognized by the scans
    df = REGISTRY["bucketed_join_revenue"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2

    # the big-big shape (both sides too large to broadcast): the
    # bucket-aware sort-merge join needs NO exchange and NO sort on
    # the join key — simulate by disabling broadcast, scoped
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import hashlib

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        bo = spark.table(f"hz_b_orders_{tag}")
        bc = spark.table(f"hz_b_customer_{tag}")
        j = bo.join(bc, bo.o_custkey == bc.c_custkey)
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_percentile_tracks_exact(spark, sf_dir):
    # approx_percentiles_by_segment was retired from the driver
    # registry in round 14 (rows-only by design — no hash evidence
    # lost); this accuracy pin against the exact path is its evidence
    from hz_csv2parquet_spark.queries_extra import approx_percentiles_by_segment

    approx = {
        r.c_mktsegment: r.p50_approx
        for r in approx_percentiles_by_segment(spark, sf_dir).collect()
    }
    exact = {
        r.c_mktsegment: r.p50
        for r in REGISTRY["percentiles_by_segment_scalable"].fn(spark, sf_dir).collect()
    }
    for seg, p in exact.items():
        # 10k accuracy on ~30-300 rows/group: effectively exact
        assert approx[seg] == pytest.approx(p, rel=0.05, abs=50.0), seg


def test_partition_by_layout(spark, tmp_path):
    import os

    from hz_csv2parquet_spark.sources.io import read_table, write_table
    from hz_csv2parquet_spark.tables import table as t

    df = t(spark, "/root/testdata/sf0.001", "customer")
    out = str(tmp_path / "cust_part")
    write_table(df, out, fmt="parquet", partition_by=["c_mktsegment"])
    dirs = {d for d in os.listdir(out) if d.startswith("c_mktsegment=")}
    assert len(dirs) == 5  # hive-style layout, one dir per segment
    back = read_table(spark, out, fmt="parquet")
    assert back.count() == df.count()
    # partition pruning: filtering on the partition col reads one dir
    plan = (
        back.filter(F.col("c_mktsegment") == "BUILDING")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(c_mktsegment" in plan


def test_approx_distinct_within_rsd(spark, sf_dir):
    from hz_csv2parquet_spark.queries import REGISTRY

    approx = {
        r.event_type: r.n_users_approx
        for r in REGISTRY["approx_distinct_users_per_type"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in REGISTRY["distinct_users_per_type"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(0.05 * exact[k], 2), (k, approx[k], exact[k])


def test_ntile_from_rank_matches_spark_ntile(spark):
    """Exact-integer NTILE from (rank, count) must equal the built-in
    window NTILE for every partition size and n, including the
    remainder-to-leading-tiles rule and n_part < n."""
    from pyspark.sql import Window

    from hz_csv2parquet_spark.operators.rank import ntile_from_rank

    rows = [(g, i) for g, sz in enumerate([1, 2, 3, 4, 5, 7, 8, 9, 100]) for i in range(sz)]
    df = spark.createDataFrame(rows, "g int, v int")
    for n in (2, 3, 4, 7):
        w = Window.partitionBy("g").orderBy("v")
        got = df.select(
            "g",
            "v",
            F.ntile(n).over(w).cast("long").alias("want"),
            ntile_from_rank(
                F.row_number().over(w).cast("long"),
                F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long"),
                n,
            ).alias("got"),
        )
        bad = got.filter(F.col("want") != F.col("got")).count()
        assert bad == 0, f"n={n}"


def test_two_phase_rank_bit_equal_to_window(spark):
    from pyspark.sql import Window

    from hz_csv2parquet_spark.operators.rank import two_phase_rank

    import random

    rnd = random.Random(7)
    rows = [(rnd.choice("abc"), rnd.uniform(-1000, 10000), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    got = two_phase_rank(df, ["g"], "v", ["id"], lo=-1000.0, hi=10000.0, buckets=64)
    w = Window.partitionBy("g").orderBy("v", "id")
    naive = df.select("g", "id", F.row_number().over(w).cast("long").alias("rn"))
    joined = got.select("g", "id", "rn").join(
        naive.withColumnRenamed("rn", "want"), ["g", "id"]
    )
    assert joined.filter(F.col("rn") != F.col("want")).count() == 0
    # n_part is the true partition size
    sizes = {r.g: r.n_part for r in got.select("g", "n_part").distinct().collect()}
    true_sizes = {r.g: r.n for r in df.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert sizes == true_sizes


def test_checksum_is_sensitive_to_single_value_changes(spark, sf_dir, tmp_path):
    """The anti-entropy checksum must move when any row changes — a
    copy that silently flips one price must not hash-collide. Rewrite
    the orders table with one cent added to one row and compare."""
    from pyspark.sql import functions as F

    from hz_csv2parquet_spark.queries import REGISTRY
    from hz_csv2parquet_spark.tables import table

    q = REGISTRY["checksum_orders_table"]
    base = q.fn(spark, sf_dir).collect()[0]

    o = table(spark, sf_dir, "orders")
    mutated = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 0.01).otherwise(
            F.col("o_totalprice")
        ),
    )
    mdir = str(tmp_path / "orders_mut")
    mutated.write.parquet(mdir + "/orders.parquet")
    got = q.fn(spark, str(tmp_path / "orders_mut")).collect()[0]
    assert got.n_rows == base.n_rows
    assert got.checksum != base.checksum


def test_cube_matches_duckdb(spark, sf_dir):
    """CUBE stays covered at pytest level after its driver-catalog
    retirement (round 11: grouping-sets sugar over the same Expand +
    hash-agg plan as grouping_sets_revenue)."""
    from hz_csv2parquet_spark.tables import table
    from tests.oracle_utils import compare, duck_con

    got = (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("long").alias("grouping_id"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "grouping_id")
        .toPandas()
    )
    con = duck_con(sf_dir)
    want = con.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS grouping_id
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """
    ).df()
    compare(got, want, "cube_pin")
