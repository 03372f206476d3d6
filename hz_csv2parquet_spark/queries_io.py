"""Oracle coverage for the I/O surface (S1-S11) and the geo wrapper.

Round 1 left the CSV scan/sink path and ``geo_aggregate`` pytest-only
(VERDICT.md "What's missing" #5). These queries put both behind the
driver's hash gate:

- ``csv_roundtrip_agg`` drives sink→scan→aggregate end-to-end: the
  fixture ``customer`` table is written with the CSV sink (S9), read
  back with the inferring CSV scan (S1/S2 projection), and
  aggregated. The oracle runs on the *original* parquet table — the
  hash matches only if the CSV round-trip is lossless (Spark writes
  shortest-roundtrip doubles) and the inferred schema is right.
- ``geo_aggregate_lineitem`` runs the reference's exact geo surface
  (agg.py §3.2: meters→degrees grid, JDS prescale, median, bin-center
  output named like the inputs) over lat/lon synthesized
  deterministically from lineitem columns (the fixtures carry no
  real coordinates — FIXTURES.md §B mapping note).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.binned_agg import geo_aggregate, meters_to_degrees
from .queries import dlit, query
from .scratch import scratch_dir
from .sources.io import read_table, write_table
from .tables import table


@query(
    "csv_roundtrip_agg",
    sql="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS acctbal_sum,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV sink (S9) → inferring CSV scan (S1) + projection
    (S2) → aggregate. Oracle runs on the original parquet table, so a
    hash match proves the round-trip is value-lossless."""
    out = os.path.join(scratch_dir("hz_csv_rt_"), "customer_csv")
    write_table(table(spark, sf_dir, "customer"), out, fmt="csv")
    back = read_table(
        spark, out, fmt="csv", columns=["c_mktsegment", "c_acctbal", "c_custkey"]
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(38,10)")).cast("double").alias("acctbal_sum"),
        F.min("c_custkey").cast("long").alias("min_key"),
    )


_GEO_STEP = meters_to_degrees(100_000.0)  # 100 km grid ≈ 0.899°


def _sql_geo_bin(col: str, lo: float, alias: str) -> str:
    return (
        f"(FLOOR(({col} - {dlit(lo)}) / {dlit(_GEO_STEP)}) + 0.5) "
        f"* {dlit(_GEO_STEP)} + {dlit(lo)} AS {alias}"
    )


@query(
    "geo_aggregate_lineitem",
    sql=f"""
    WITH pts AS (
      SELECT CAST(l_discount AS DOUBLE) * 800 - 80 AS Latitude,
             CAST(l_quantity AS DOUBLE) * 5 - 150 AS Longitude,
             CAST(l_extendedprice AS DOUBLE) AS Data
      FROM lineitem
    )
    SELECT MEDIAN(Data / CAST('10.0' AS DOUBLE)) AS Data,
           {_sql_geo_bin("Latitude", -90.0, "Latitude")},
           {_sql_geo_bin("Longitude", -180.0, "Longitude")}
    FROM pts
    WHERE Latitude >= -90.0 AND Latitude < 90.0
      AND Longitude >= -180.0 AND Longitude < 180.0
    GROUP BY FLOOR((Latitude - {dlit(-90.0)}) / {dlit(_GEO_STEP)}),
             FLOOR((Longitude - {dlit(-180.0)}) / {dlit(_GEO_STEP)})
    """,
)
def geo_aggregate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full geo pipeline (agg.py §3.2) on synthesized
    coordinates: 100 km uniform grid, JDS prescale (Data/10), exact
    median, bin centers emitted under the input column names in the
    reference's (Data, Latitude, Longitude) order."""
    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_discount").cast("double") * 800 - 80).alias("Latitude"),
        (F.col("l_quantity").cast("double") * 5 - 150).alias("Longitude"),
        F.col("l_extendedprice").cast("double").alias("Data"),
    )
    return geo_aggregate(li, grid_meters=100_000.0, mode="median")


@query(
    "streaming_convert_roundtrip",
    sql="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    streaming=True,
)
def streaming_convert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's convert tool as a real Structured Streaming
    job (sources/io.py `convert_streaming`): nation → CSV landing
    dir → streaming file source → checkpointed parquet sink
    (availableNow) → read back. Oracle = the original table; a hash
    match proves the streamed conversion is value-lossless and
    exactly-once (no dup/missing rows)."""
    from .sources.io import convert_streaming

    base = scratch_dir("hz_stream_cv_")
    landing = os.path.join(base, "landing")
    dest = os.path.join(base, "out_parquet")
    src = table(spark, sf_dir, "nation")
    write_table(src, landing, fmt="csv")
    convert_streaming(spark, landing, dest, schema=src.schema, fmt="csv")
    return spark.read.parquet(dest).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "jsonl_roundtrip_agg",
    sql="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY source
    """,
)
def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSON-Lines sink → JSONL scan (explicit schema, the
    single-pass form) → per-source aggregate with an order-insensitive
    content checksum (sum of each text's md5-u32). Oracle runs on the
    original parquet table, so a hash match proves the JSONL
    round-trip preserved every document byte-for-byte — the
    interchange format an LLM corpus actually ships in."""
    out = os.path.join(scratch_dir("hz_jsonl_rt_"), "documents_jsonl")
    src = table(spark, sf_dir, "documents")
    write_table(src, out, fmt="json")
    back = read_table(spark, out, fmt="json", schema=src.schema)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("content_checksum"),
    )


@query(
    "orc_roundtrip_agg",
    sql="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY lang
    """,
    # priority dropped late round 5 (window swap): the repetition
    # narrow-formulation rewrite forced repetition_stats_documents
    # into the 50-row window; this brand-new roundtrip keeps its
    # since=5 grace (first driver row due round 6; the ORC
    # write/read path is meanwhile pinned by tests/test_io.py)
    since=5,
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ORC sink → ORC scan → per-lang aggregate with the
    same order-insensitive md5-u32 content checksum as the JSONL
    round-trip (E68). Oracle runs on the original parquet table, so a
    hash match proves the ORC round-trip is byte-lossless — extends
    the S-surface (SURVEY §2.1 S5/S10 format dispatch) to the
    Hive/Trino ecosystem's columnar format. Same pushdown/pruning
    story as parquet at 100 TB."""
    out = os.path.join(scratch_dir("hz_orc_rt_"), "documents_orc")
    src = table(spark, sf_dir, "documents")
    write_table(src, out, fmt="orc")
    back = read_table(spark, out, fmt="orc")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("content_checksum"),
    )


@query(
    "schema_evolution_merge",
    sql="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY 1
    """,
    since=5,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations — the lakehouse
    reality that a 100 TB table is written by years of jobs with
    drifting schemas. Generation 1 (even orderkeys) lacks the
    ``o_orderstatus`` column; generation 2 (odd) carries it; a
    ``mergeSchema`` read reconciles both under one superset schema,
    null-filling the missing column. The oracle replays the
    generation split arithmetically on the original table, so the
    hash gate proves the merged read null-fills exactly where it
    should and loses no rows/values.

    Scale note: mergeSchema's footer reconciliation is a driver-side
    listing cost, paid once per read — at production scale the
    superset schema lives in a catalog (Delta/Iceberg) instead, but
    the read semantics pinned here are identical."""
    import os
    
    base = scratch_dir("hz_schema_ev_")
    o = table(spark, sf_dir, "orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    gen2 = o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double").alias("total_price"),
    )


@query(
    "compact_small_files",
    sql="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS acctbal_sum
    FROM supplier
    GROUP BY s_nationkey
    """,
    since=5,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVE small-file compaction (round 11, VERDICT r10 #3) —
    the OPTIMIZE maintenance pass every parquet lake needs, with the
    scale-defining refinement: only files under the size target
    rewrite. The supplier table lands as one right-sized file (¾ of
    rows) plus a fragmented append (¼ of rows across 4 small files);
    ``TxTable.compact(max_file_rows=n/2)`` bin-packs ONLY the
    fragments — the big file's add action survives untouched, so the
    pass costs O(appended), not O(table) — and the returned aggregate
    runs on the compacted snapshot, so the oracle (original table)
    proves selective compaction is content-lossless. Mechanics pinned
    in tests/test_txlog.py::test_compact_binpacks_only_small_files
    and tests/test_io.py::test_compact_small_files_leaves_big_file.

    Scale note: max_file_rows is the fixture-sized stand-in for a
    ~1 GiB byte target; partition scoping (``compact(where=...)``)
    bounds the pass on partitioned tables."""
    import os

    from .sources.txlog import TxTable

    base = scratch_dir("hz_compact_")
    sup = table(spark, sf_dir, "supplier")
    t = TxTable(spark, os.path.join(base, "tbl"), stat_cols=["s_suppkey"])
    t.create(sup.filter(F.col("s_suppkey") % 4 != 0).coalesce(1))
    t.append(sup.filter(F.col("s_suppkey") % 4 == 0).repartition(4))
    n = sup.count()
    t.compact(max_file_rows=max(2, n // 2))
    return t.snapshot().groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(38,10)")).cast("double").alias("acctbal_sum"),
    )


_GEO_CENTERS = [(-40.0, -100.0), (-20.0, 0.0), (-60.0, 50.0), (-10.0, -140.0)]
_GEO_RADIUS = 15.0  # degrees, flat-grid approximation


@query(
    "geo_radius_join_lineitem",
    sql=f"""
    WITH pts AS (
      SELECT CAST(l_discount AS DOUBLE) * 800 - 80 AS lat,
             CAST(l_quantity AS DOUBLE) * 5 - 150 AS lon,
             CAST(l_extendedprice AS DOUBLE) AS rev
      FROM lineitem
    ),
    centers AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, {dlit(la)}, {dlit(lo)})" for i, (la, lo) in enumerate(_GEO_CENTERS))})
        t(center_id, clat, clon)
    )
    SELECT CAST(center_id AS BIGINT) AS center_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(CAST(SUM(CAST(rev AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM pts JOIN centers
      ON (lat - clat) * (lat - clat) + (lon - clon) * (lon - clon)
         <= {dlit(_GEO_RADIUS * _GEO_RADIUS)}
    GROUP BY center_id
    """,
    since=5,
)
def geo_radius_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join — points within R of each center, the 2-D
    analogue of the banded range join. The Spark plan is the SCALE
    path: points key on their (R-sized) grid cell, each center
    broadcasts its 3×3 cell neighborhood, the join is an equi-join on
    the cell id, and the exact distance predicate filters the
    candidates. The oracle is deliberately the SEMANTIC definition —
    a plain cross join with the distance filter — so the hash gate
    proves the grid decomposition loses and invents nothing.

    Flat (degree-space) squared distance keeps the predicate pure
    arithmetic — bit-identical across engines, no libm sin/cos; a
    haversine deployment swaps the verify expression, the banding is
    unchanged. At 100 TB: the fact side never shuffles (cell id is a
    narrow projection; center-cells broadcast), aggregation is
    map-side combined on |centers| keys."""
    r = _GEO_RADIUS
    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_discount").cast("double") * 800 - 80).alias("lat"),
        (F.col("l_quantity").cast("double") * 5 - 150).alias("lon"),
        F.col("l_extendedprice").cast("double").alias("rev"),
    )
    pts = li.withColumn(
        "cell",
        F.struct(
            F.floor(F.col("lat") / r).alias("ci"), F.floor(F.col("lon") / r).alias("cj")
        ),
    )
    spark_centers = spark.createDataFrame(
        [
            (i, la, lo, ci, cj)
            for i, (la, lo) in enumerate(_GEO_CENTERS)
            for ci in range(int(la // r) - 1, int(la // r) + 2)
            for cj in range(int(lo // r) - 1, int(lo // r) + 2)
        ],
        "center_id long, clat double, clon double, ci long, cj long",
    ).select(
        "center_id", "clat", "clon",
        F.struct(F.col("ci"), F.col("cj")).alias("cell"),
    )
    d2 = (F.col("lat") - F.col("clat")) * (F.col("lat") - F.col("clat")) + (
        F.col("lon") - F.col("clon")
    ) * (F.col("lon") - F.col("clon"))
    from .functions.exact import exact_sum

    return (
        pts.join(F.broadcast(spark_centers), "cell")
        .filter(d2 <= F.lit(r * r))
        .groupBy("center_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            exact_sum("rev").alias("revenue"),
        )
    )


@query(
    "avro_roundtrip_agg",
    # priority flag cleared round 13: first driver row landed green in r12
    since=12,
    sql="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 8)) AS UBIGINT))
                AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY lang, source
    """,
)
def avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → Avro OCF sink → Avro scan → per-(lang, source)
    aggregate with the same order-insensitive md5-u32 content checksum
    as the JSONL/ORC round-trips (E68/E148) — closing the last named
    interchange format (SURVEY §2.1 S5/S10 dispatch now covers
    csv/parquet/jsonl/orc/avro). This environment has neither the
    spark-avro jar nor a Python avro library, so sources/avro.py
    hand-rolls the Object Container File wire format: the sink
    encodes each partition in ONE executor-side mapInArrow task
    (tmp+rename atomic files), the scan decodes binaryFile content
    executor-side, and the driver touches exactly one file HEADER
    for the schema. Oracle runs on the original parquet table, so a
    hash match proves the OCF encode/decode — zigzag varints, union
    null branches, utf-8 strings, block sync markers — is
    byte-lossless. Checksum-mirror oracle (DuckDB has no avro
    extension here), like jsonl_roundtrip_agg."""
    out = os.path.join(scratch_dir("hz_avro_rt_"), "documents_avro")
    src = table(spark, sf_dir, "documents")
    write_table(src, out, fmt="avro")
    back = read_table(spark, out, fmt="avro")
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("content_checksum"),
    )
