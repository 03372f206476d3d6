"""Relational-depth batch: the TPC-H-shaped analytic queries.

The reference repo has no join surface at all (SURVEY.md §2: its
three scripts are scan→transform→agg pipelines), so like queries_extra
this is extension surface from the north star — the standard analytic
shapes a user of a 100 TB warehouse runs daily, each adapted to the
driver's fixture schema (no ``partsupp``, no comment/phone columns,
dates span 1995–2001):

- Q4  shape → semi-join EXISTS + group count           (q4_priority_with_discounted_lines)
- Q7  shape → two-sided dimension join, pair filter    (q7_volume_shipping)
- Q8  shape → conditional-share ratio per year         (q8_market_share)
- Q13 shape → outer join + distribution histogram      (q13_order_count_distribution)
- Q18 shape → HAVING-threshold join back to the fact   (q18_large_volume_customers)
- Q22 shape → scalar subquery + anti join              (q22_idle_rich_customers)
- Q6  → pure scan-filter-aggregate                     (q6_forecast_revenue)
- Q10 shape → agg + global two-phase top-20            (q10_returned_item_customers)
- Q12 shape → conditional-count split after fact join  (q12_priority_shipping_modes)
- Q14 → conditional revenue ratio per month            (q14_promo_revenue_ratio)
- Q15 → max-revenue supplier with tie semantics        (q15_top_supplier)
- plus GROUPING SETS, table checksum, incremental aggregate merge

Every aggregate routes through functions/exact.py so results
hash-match the DuckDB oracle under any partitioning; every dimension
side is explicitly broadcast and every fact-fact join keys on its
natural key, so the plans survive a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.exact import SQL_EXACT_AVG, SQL_EXACT_SUM, exact_avg, exact_sum
from .queries import query
from .tables import table

_REV = "l_extendedprice * (1 - l_discount)"
_SQL_REV_SUM = SQL_EXACT_SUM.format(expr=_REV)


@query(
    "q4_priority_with_discounted_lines",
    sql="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_discount > 0.05
      )
    GROUP BY o_orderpriority
    """,
    since=5,
)
def q4_priority_with_discounted_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join:
    1996 orders having at least one deep-discount line, counted per
    priority. The semi join keys on high-cardinality l_orderkey
    (co-partitioned shuffle, no duplication from multi-line orders);
    the date filter reaches the orders scan as a pushed predicate."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q7_volume_shipping",
    sql=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
           {_SQL_REV_SUM} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE s_nationkey < 5 AND c_nationkey < 5
      AND s_nationkey != c_nationkey
    GROUP BY 1, 2, 3
    """,
    since=5,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — cross-nation trade volume: revenue shipped
    from supplier-nation to customer-nation per year, for a small set
    of nation pairs (nation keys < 5). Join-order reasoning: the nation-key filters cut
    supplier and customer BEFORE any join; both dimension sides
    broadcast; the only big shuffle is lineitem⋈orders on the natural
    key. The pair predicate (different nations) is applied post-join
    on broadcast columns — no fact-side duplication."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"), "s_nationkey")
    )
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 5)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"), "c_nationkey")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(exact_sum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "q8_market_share",
    sql=f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           {SQL_EXACT_SUM.format(expr=f"CASE WHEN s_nationkey = 1 THEN {_REV} ELSE 0.0 END")}
             / {_SQL_REV_SUM} AS mkt_share,
           {_SQL_REV_SUM} AS total_revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    GROUP BY 1
    """,
    since=5,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: NATION_1 suppliers'
    fraction of PROMO-part revenue sold to AMERICA-region customers,
    per order year. The share is a ratio of two decimal-exact sums
    divided in double (deterministic on both engines). region→nation→
    customer is the classic snowflake broadcast chain; part's type
    filter cuts the fact rows before the orders join."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    national = F.when(F.col("s_nationkey") == 1, rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            (exact_sum(national) / exact_sum(rev)).alias("mkt_share"),
            exact_sum(rev).alias("total_revenue"),
        )
    )


@query(
    "q13_order_count_distribution",
    sql="""
    WITH per_cust AS (
      SELECT c_custkey, coalesce(cnt, 0) AS n_orders
      FROM customer
      LEFT JOIN (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders
        WHERE o_orderpriority != '5-LOW'
        GROUP BY o_custkey
      ) ON c_custkey = o_custkey
    )
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust
    GROUP BY n_orders
    """,
    since=5,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution (how many
    customers placed exactly N non-low-priority orders, including
    N=0). The scale move is aggregate-then-outer-join: orders reduce
    to one row per custkey FIRST, so the outer join touches
    |customers| + |custkeys| rows, never raw order rows; the final
    histogram keys on tiny n_orders with map-side combine."""
    per = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per, c.c_custkey == per.o_custkey, "left_outer")
        .select(F.coalesce("cnt", F.lit(0)).cast("long").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q18_large_volume_customers",
    sql=f"""
    WITH big AS (
      SELECT l_orderkey AS b_orderkey,
             {SQL_EXACT_SUM.format(expr="l_quantity")} AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING {SQL_EXACT_SUM.format(expr="l_quantity")} > 300
    )
    SELECT c_name, c_custkey, o_orderkey, o_totalprice, total_qty
    FROM big
    JOIN orders   ON b_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
    since=5,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: per-order quantity sums
    above a threshold, joined back to orders and customers. The
    HAVING aggregate runs FIRST (partial+final hash agg on
    l_orderkey), so only the handful of qualifying orderkeys flow
    into the joins; the surviving set is broadcast against orders —
    the fact table never shuffles for it."""
    big = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(exact_sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.b_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "total_qty")
    )


@query(
    "q22_idle_rich_customers",
    sql=f"""
    WITH avg_bal AS (
      SELECT {SQL_EXACT_AVG.format(expr="c_acctbal")} AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {SQL_EXACT_SUM.format(expr="c_acctbal")} AS total_acctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
    since=5,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — above-average-balance customers with no
    recent orders, aggregated per nation. Two decorrelations: the
    scalar AVG becomes a 1-row broadcast cross join (computed once,
    not per row), and NOT EXISTS becomes a LEFT ANTI join against
    the date-filtered orders (the filter cuts the anti-join build
    side before it shuffles)."""
    cust = table(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(exact_avg("c_acctbal").alias("ab"))
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal").alias("total_acctbal"),
        )
    )


@query(
    "grouping_sets_revenue",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    since=5,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form next to
    rollup_revenue; the CUBE variant is pinned in tests/test_extra.py
    after its round-11 driver-catalog retirement): per-status and
    per-priority totals in ONE
    pass — no UNION ALL of two scans, one expand + single hash agg.
    Uses the DataFrame ``groupingSets`` API (Spark 4)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "n_orders", "total_price")
    )


@query(
    "checksum_orders_table",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST('0x' || substring(md5(concat_ws('|',
                  o_orderkey, o_custkey, o_orderstatus,
                  CAST(round(o_totalprice * 100) AS BIGINT),
                  epoch_ms(o_orderdate), o_orderpriority)), 1, 8) AS UBIGINT)
                AS DECIMAL(38,0))) AS VARCHAR) AS checksum
    FROM orders
    """,
    since=5,
)
def checksum_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint — the anti-entropy check a
    100 TB replication / migration pipeline runs on both sides of a
    copy: per-row 32-bit hash of the canonicalized row (cents-exact
    price, epoch-ms date — the engine-portable encodings), summed
    exactly in DECIMAL(38,0). Commutative and associative, so any
    partitioning / task order / cluster size produces the identical
    checksum; emitted as a string (the value exceeds double's exact
    range at real row counts)."""
    o = table(spark, sf_dir, "orders")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    "o_orderstatus",
                    F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                    # o_orderdate infers as TIMESTAMP_NTZ; the cast
                    # reinterprets the same wall clock as a UTC
                    # instant (session tz pinned), matching epoch_ms
                    F.unix_millis(F.col("o_orderdate").cast("timestamp")).cast("string"),
                    "o_orderpriority",
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).cast("string").alias("checksum"),
    )


@query(
    "incremental_agg_merge_orders",
    sql="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    since=5,
)
def incremental_agg_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    update pattern: a BASE aggregate (orders before 2000) merged with
    a DELTA batch aggregate (2000 onward) by combining partial states
    (counts add; DECIMAL partial sums add exactly), instead of
    re-aggregating the full table. The oracle IS the full-table
    aggregate, so the hash gate proves state-merge ≡ recompute — the
    property that lets a 100 TB rollup absorb a daily delta touching
    only the delta's keys. Full-outer state merge handles keys present
    in only one side."""
    o = table(spark, sf_dir, "orders")
    cut = F.lit("2000-01-01 00:00:00").cast("timestamp")

    def part(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias(f"{tag}_status")).agg(
            F.count(F.lit(1)).alias(f"{tag}_n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias(f"{tag}_sum"),
        )

    base = part(o.filter(F.col("o_orderdate") < cut), "b")
    delta = part(o.filter(F.col("o_orderdate") >= cut), "d")
    merged = base.join(delta, base.b_status == delta.d_status, "full_outer")
    zero = F.lit(0).cast("decimal(38,10)")
    return merged.select(
        F.coalesce("b_status", "d_status").alias("o_orderstatus"),
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.coalesce("b_sum", zero) + F.coalesce("d_sum", zero))
        .cast("double")
        .alias("total_price"),
    )


# ---- second wave: the remaining partsupp-free TPC-H shapes ----------
# (Q2/Q9/Q11/Q16/Q20/Q21 need partsupp / receipt-commit dates the
# fixtures don't carry; everything else is covered between
# queries.py, queries_extra.py, queries_analytic.py, and here.)


@query(
    "q6_forecast_revenue",
    sql=f"""
    SELECT {SQL_EXACT_SUM.format(expr="l_extendedprice * l_discount")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    since=5,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the pure scan-filter-aggregate: discount-band
    revenue forecast. Every predicate (date range, discount band,
    quantity cap) reaches the parquet reader as a pushed filter; no
    join, no expand — one partial+final agg to a single row. The
    query that measures raw scan throughput at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q10_returned_item_customers",
    sql=f"""
    WITH scored AS (
      SELECT c_custkey, c_name, c_nationkey,
             {_SQL_REV_SUM} AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY c_custkey, c_name, c_nationkey
    )
    SELECT c_custkey, c_name, c_nationkey, revenue, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 20
    """,
    since=5,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — top-20 customers by returned-item revenue in
    a half-year window. The per-customer aggregate shuffles on
    c_custkey (high-cardinality, map-side combined); the global
    top-20 runs through the salted two-phase top-k (operators/topk) —
    never a single-task sort of all customers."""
    from .operators.topk import grouped_topk

    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    scored = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(exact_sum(rev).alias("revenue"))
    )
    return grouped_topk(
        scored,
        [],
        [F.col("revenue").desc(), F.col("c_custkey")],
        20,
        salt_col=F.col("c_custkey"),
    ).select("c_custkey", "c_name", "c_nationkey", "revenue", "rn")


@query(
    "q12_priority_shipping_modes",
    sql="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    since=5,
)
def q12_priority_shipping_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (the fixtures carry no shipmode column, so
    l_linestatus plays the grouping role): per status, how many 1997
    lines belong to urgent/high-priority orders vs the rest — the
    conditional-count split after a fact-fact join on the natural
    key. The date filter prunes lineitem at the scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue_ratio",
    sql=f"""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
           CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS ship_month,
           100.0 * {SQL_EXACT_SUM.format(expr=f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0.0 END")}
             / {_SQL_REV_SUM} AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    since=5,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promotion revenue share per month of 1996: the
    conditional-ratio aggregate after a broadcast part-dimension join.
    Since round 12 this row also carries retired E38
    (promo_revenue_by_brand): same slice, same broadcast join, same
    promo-conditional sums — only the grouping key differed. Both
    sums are decimal-exact; the 100·x/y finish divides in double
    identically on both engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
        )
        .agg((F.lit(100.0) * exact_sum(promo) / exact_sum(rev)).alias("promo_pct"))
    )


@query(
    "q15_top_supplier",
    sql=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no, {_SQL_REV_SUM} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(total_revenue) AS m FROM rev)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no, mx
    WHERE total_revenue = m
    """,
    since=17,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier(s) by quarterly revenue, keeping the
    spec's tie semantics (every supplier matching the max, not an
    arbitrary LIMIT 1). The max is a 1-row aggregate broadcast back
    as a cross join; the equality compare is safe because both sides
    are THE SAME decimal-exact sum (bit-identical under any
    partitioning — functions/exact.py), the one case where comparing
    doubles for equality is sound.

    The supplier-grain revenue frame feeds both the max aggregate
    and the tie filter; each consumer re-runs the quarter's lineitem
    scan + aggregation. It is not persisted: round 16 measured a
    persist at a flat 0.73 s solo while jobs went 8→9 and tasks
    22→182 — the cached frame pins the full shuffle partitioning AQE
    would coalesce."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(rev).alias("total_revenue")
    )
    mx = per.agg(F.max("total_revenue").alias("m"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("m"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "scd2_snapshot_join_orders",
    sql="""
    WITH dim AS (
      SELECT n_nationkey AS nationkey,
             v AS version,
             CASE v WHEN 1 THEN TIMESTAMP '1995-01-01 00:00:00'
                    WHEN 2 THEN TIMESTAMP '1997-01-01 00:00:00'
                    ELSE TIMESTAMP '1999-01-01 00:00:00' END AS valid_from,
             CASE v WHEN 1 THEN TIMESTAMP '1997-01-01 00:00:00'
                    WHEN 2 THEN TIMESTAMP '1999-01-01 00:00:00'
                    ELSE TIMESTAMP '2002-01-01 00:00:00' END AS valid_to
      FROM nation, UNNEST([1, 2, 3]) AS u(v)
    )
    SELECT nationkey, CAST(version AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN dim ON c_nationkey = nationkey
            AND o_orderdate >= valid_from AND o_orderdate < valid_to
    GROUP BY 1, 2
    """,
    since=5,
)
def scd2_snapshot_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 temporal snapshot join — every order matched to the
    dimension version VALID AT ITS ORDER DATE (key equality + date in
    [valid_from, valid_to)), the standard slowly-changing-dimension
    lookup a warehouse runs on every fact load. Distinct from the
    as-of join: validity intervals are closed ranges maintained in
    the dimension, not nearest-preceding events. The versioned
    dimension is synthesized here (3 validity windows per nation).

    Scale shape: an SCD2 dimension is |keys|·|versions| rows —
    broadcast when it fits (as here), bucket-join on the key with the
    range predicate as join residual when it does not; the fact table
    never shuffles for the broadcast form. Pushdown note: the date
    range condition rides the join, so each fact row matches exactly
    one version — no post-join dedup needed."""
    from datetime import datetime

    windows = [
        (1, datetime(1995, 1, 1), datetime(1997, 1, 1)),
        (2, datetime(1997, 1, 1), datetime(1999, 1, 1)),
        (3, datetime(1999, 1, 1), datetime(2002, 1, 1)),
    ]
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    vers = spark.createDataFrame(windows, "version long, valid_from timestamp, valid_to timestamp")
    dim = n.crossJoin(vers)
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(dim),
            (F.col("c_nationkey") == F.col("nationkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .groupBy("nationkey", "version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "copurchase_part_pairs",
    sql="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
    supp AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c_item FROM items GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS c_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    ),
    scored AS (
      SELECT part_a, part_b, c_pair,
             CAST(c_pair AS DOUBLE) / CAST(sa.c_item AS DOUBLE) AS confidence,
             CAST(c_pair AS DOUBLE) * n_orders
               / (CAST(sa.c_item AS DOUBLE) * sb.c_item) AS lift
      FROM pairs
      JOIN supp sa ON part_a = sa.l_partkey
      JOIN supp sb ON part_b = sb.l_partkey, n
    )
    SELECT part_a, part_b, c_pair, confidence, lift, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY c_pair DESC, part_a, part_b) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 20
    """,
    since=17,
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence — the pairwise stage of frequent-
    itemset mining: parts ordered together, with support, confidence
    (P(b|a)) and lift, top-20 by support. The quadratic step is
    bounded BY BASKET: the self-join keys on l_orderkey, so pair
    explosion is Σ(basket size²) — never corpus², and baskets are
    small by construction in any retail schema. Item supports join
    back co-partitioned on the part key; the transaction total is a
    1-row broadcast; the global top-20 is the salted two-phase
    top-k. Confidence/lift are pure count ratios — deterministic
    doubles on both engines.

    The distinct basket-item frame (five consumers) is not persisted:
    round 15 measured a persist at 2.6 s vs 2.0 s un-materialized
    across six interleaved solo samples — on local[32] the five
    chains run as concurrent stages on idle cores, while the cache
    serializes materialize-then-consume."""
    from .operators.topk import grouped_topk

    items = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = items.select(F.countDistinct("l_orderkey").alias("n_orders"))
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c_item"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= 3)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("c_item").alias("c_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("c_item").alias("c_b"))
    scored = (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_pair",
            (F.col("c_pair").cast("double") / F.col("c_a").cast("double")).alias("confidence"),
            (
                F.col("c_pair").cast("double")
                * F.col("n_orders")
                / (F.col("c_a").cast("double") * F.col("c_b"))
            ).alias("lift"),
        )
    )
    return grouped_topk(
        scored,
        [],
        [F.col("c_pair").desc(), F.col("part_a"), F.col("part_b")],
        20,
        salt_col=F.col("part_a") + F.col("part_b"),
    ).select("part_a", "part_b", "c_pair", "confidence", "lift", "rn")


# RETIRED (round 14, the r13-verdict cadence re-plan): the 4-table
# fact→dim join with exact grouped revenue is ``q5_local_supplier_
# volume`` (green r13, same tables, same broadcast dims); the
# ratio-to-parent finish — order-insensitive DECIMAL re-aggregate of
# per-group exact sums, broadcast joined back — is the
# ``chisq_event_value_independence`` broadcast-totals shape (green
# r13). The double-window-sum hash-divergence lesson is recorded in
# the docstring; the partition-invariance sweep keeps running on this
# undecorated function.
def revenue_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent — every nation's share of its region's revenue,
    the percent-of-total drill every OLAP hierarchy report shows. The
    parent total is a window sum over the ALREADY-AGGREGATED
    (region, nation) frame (≤ |nations| rows), so the 'unpartitioned-
    looking' window is aggregate-sized — the fact table contributes
    one exchange into the grouped sum and never touches a window.
    The parent total is NOT a double window sum (window addition
    order is engine-dependent — measured hash-divergent even at 5
    rows per region): the per-nation exact doubles re-enter a
    DECIMAL(38,10) aggregate, which is order-insensitive, and join
    back broadcast."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = table(spark, sf_dir, "region")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(exact_sum("o_totalprice").alias("revenue"))
    )
    totals = per.groupBy(F.col("region").alias("tregion")).agg(
        F.sum(F.col("revenue").cast("decimal(38,10)")).cast("double").alias("region_total")
    )
    return per.join(
        F.broadcast(totals), per.region == totals.tregion
    ).select(
        "region",
        "nation",
        "revenue",
        (F.col("revenue") / F.col("region_total")).alias("share_of_region"),
    )
