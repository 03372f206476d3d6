"""Query catalog: every implemented operator as a (Spark fn, oracle SQL) pair.

This is the engine's correctness surface. Each entry maps one
operator from SURVEY.md §2 (or an extension operator from the north
star) onto the driver's fixture tables. The oracle SQL is written to
be *bit-identical* to the Spark plan's result, not merely
semantically equivalent:

- every aggregate / computed column is aliased to the same name on
  both sides (the driver's hash sorts columns by name);
- double literals are emitted with ``CAST('<repr>' AS DOUBLE)`` so
  both engines parse the identical IEEE value;
- order-dependent double sums are routed through DECIMAL(38,10)
  (functions/exact.py) on both sides;
- timestamps are compared as epoch milliseconds (bigint), never as
  raw timestamp values;
- integer widths are aligned (counts/row_numbers cast to BIGINT).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.exact import exact_avg, exact_sum
from .operators.binned_agg import BinSpec, binned_agg
from .operators.enrich import add_lookup_column
from .operators.topk import grouped_topk
from .tables import table


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB-runnable oracle; None → rows-only check
    headline: bool = False  # included in bench.py
    streaming: bool = False  # runs a Structured Streaming job internally
    #: Driver round the current implementation landed in. Registration
    #: sets it, and a change to the query's Spark function or oracle SQL
    #: bumps it to the latest CORRECTNESS round + 1, so the query leads
    #: ``verify_order`` until the driver checks the new implementation.
    since: int = 0


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    sql: str | None = None,
    headline: bool = False,
    streaming: bool = False,
    since: int = 0,
):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, sql, headline, streaming, since)
        return fn

    return deco


#: Directory holding the driver's ``CORRECTNESS_r<N>.json`` files (the
#: repository root, one level above this package).
HISTORY_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def correctness_history() -> dict[str, dict[int, dict]]:
    """``{query: {round: row}}`` from every ``CORRECTNESS_r<N>.json``
    in ``HISTORY_DIR``."""
    hist: dict[str, dict[int, dict]] = {}
    for path in glob.glob(os.path.join(HISTORY_DIR, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path) as f:
            for name, row in json.load(f).items():
                hist.setdefault(name, {})[rnd] = row
    return hist


def row_failed(row: dict) -> bool:
    """A driver row that is red, hash-failed or errored. ``no_oracle``
    (the rows-only marker of a query without SQL) is not a failure."""
    return (
        row.get("err") not in (None, "no_oracle")
        or row.get("rows_match") is False
        or row.get("hash_match") is False
    )


def verify_order(registry: dict[str, Query], history: dict[str, dict[int, dict]]) -> list[str]:
    """The names of ``registry`` in driver-verify order, computed from
    the CORRECTNESS ``history``. The driver checks only a capped prefix
    of ``queries()``, so the queries that most need a fresh row lead:

    1. queries red, hash-failed or errored in the latest round;
    2. queries with no row on their current implementation (no row at
       a round ≥ ``Query.since``), oldest ``since`` first;
    3. everything else, oldest last-verified round first.

    Ties break by name, so the order is a deterministic permutation.
    Filling the window oldest-first keeps every query inside the
    3-round verify cadence whenever the catalog fits it."""
    latest = max((r for rows in history.values() for r in rows), default=0)

    def key(q: Query) -> tuple[int, int, str]:
        rows = history.get(q.name, {})
        if latest in rows and row_failed(rows[latest]):
            return (0, latest, q.name)
        current = [r for r in rows if r >= q.since]
        if not current:
            return (1, q.since, q.name)
        return (2, max(current), q.name)

    return [q.name for q in sorted(registry.values(), key=key)]


def ordered_registry() -> dict[str, Query]:
    """The catalog in driver-verify order (``verify_order`` over the
    committed CORRECTNESS history, read on each call)."""
    return {name: REGISTRY[name] for name in verify_order(REGISTRY, correctness_history())}


#: 1 h funnel step shared by the batch funnel (E82), the streaming
#: funnel state (E89), and BOTH their SQL oracles — one constant so a
#: step change cannot silently desynchronize a Spark plan from its
#: oracle mirror.
FUNNEL_STEP_MS = 3_600_000


def dlit(x: float) -> str:
    """Emit a float as a double-typed SQL literal with full precision
    (repr is shortest-roundtrip, so both engines parse the same IEEE
    double)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def sql_bin_center(col: str, lo: float, step: float, alias: str) -> str:
    """Oracle mirror of BinSpec.bin_id + bin_center."""
    return (
        f"(FLOOR((CAST({col} AS DOUBLE) - {dlit(lo)}) / {dlit(step)}) + 0.5) "
        f"* {dlit(step)} + {dlit(lo)} AS {alias}"
    )


def sql_in_range(col: str, lo: float, hi: float) -> str:
    return f"CAST({col} AS DOUBLE) >= {dlit(lo)} AND CAST({col} AS DOUBLE) < {dlit(hi)}"


# =====================================================================
# Reference surface (SURVEY.md §2)
# =====================================================================


@query(
    "scan_prune_filter",
    sql="""
    SELECT l_orderkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def scan_prune_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected scan (S2/S4) + filter: both the 3-column projection
    and the predicate reach the parquet reader (ReadSchema /
    PushedFilters — verified in tests/test_plans.py)."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .filter(F.col("l_orderkey") <= 1000)
    )


@query(
    "binned_agg_mean_1d",
    sql=f"""
    SELECT {sql_bin_center("user_id", 0.0, 25.0, "user_id_bin")},
           CAST(CAST(SUM(CAST(value / CAST('10.0' AS DOUBLE) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(value) AS value_mean
    FROM events
    WHERE {sql_in_range("user_id", 0.0, 150.0)}
    GROUP BY FLOOR((CAST(user_id AS DOUBLE) - {dlit(0.0)}) / {dlit(25.0)})
    """,
    headline=True,
)
def binned_agg_mean_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.py pipeline, mode=mean, 1-D grid over user_id, value
    prescaled by 10 (the JDS scaling, agg.py:145)."""
    return binned_agg(
        table(spark, sf_dir, "events"),
        [BinSpec("user_id", 0.0, 150.0, 25.0)],
        "value",
        mode="mean",
        prescale=10.0,
        out_col="value_mean",
    )


@query(
    "binned_agg_median_2d",
    sql=f"""
    SELECT {sql_bin_center("l_discount", 0.0, 0.02, "l_discount_bin")},
           {sql_bin_center("l_quantity", 0.0, 10.0, "l_quantity_bin")},
           MEDIAN(l_extendedprice) AS l_extendedprice_median
    FROM lineitem
    WHERE {sql_in_range("l_discount", 0.0, 0.2)}
      AND {sql_in_range("l_quantity", 0.0, 60.0)}
    GROUP BY FLOOR((CAST(l_discount AS DOUBLE) - {dlit(0.0)}) / {dlit(0.02)}),
             FLOOR((CAST(l_quantity AS DOUBLE) - {dlit(0.0)}) / {dlit(10.0)})
    """,
    headline=True,
)
def binned_agg_median_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.py pipeline, default mode=median (exact, interpolating),
    2-D grid — the geo (lat, lon) analogue on fixture columns."""
    return binned_agg(
        table(spark, sf_dir, "lineitem"),
        [BinSpec("l_discount", 0.0, 0.2, 0.02), BinSpec("l_quantity", 0.0, 60.0, 10.0)],
        "l_extendedprice",
        mode="median",
    )


@query(
    "binned_agg_max_2d",
    sql=f"""
    SELECT {sql_bin_center("l_discount", 0.0, 0.02, "l_discount_bin")},
           {sql_bin_center("l_quantity", 0.0, 10.0, "l_quantity_bin")},
           MAX(l_extendedprice) AS l_extendedprice_max
    FROM lineitem
    WHERE {sql_in_range("l_discount", 0.0, 0.2)}
      AND {sql_in_range("l_quantity", 0.0, 60.0)}
    GROUP BY FLOOR((CAST(l_discount AS DOUBLE) - {dlit(0.0)}) / {dlit(0.02)}),
             FLOOR((CAST(l_quantity AS DOUBLE) - {dlit(0.0)}) / {dlit(10.0)})
    """,
)
def binned_agg_max_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg.py pipeline, mode=max (A4)."""
    return binned_agg(
        table(spark, sf_dir, "lineitem"),
        [BinSpec("l_discount", 0.0, 0.2, 0.02), BinSpec("l_quantity", 0.0, 60.0, 10.0)],
        "l_extendedprice",
        mode="max",
    )


@query(
    "collate_union_all",
    sql="""
    WITH u AS (
        SELECT event_type, value FROM events
        UNION ALL
        SELECT event_type, value FROM events WHERE user_id < 50
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM u GROUP BY event_type
    """,
)
def collate_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--collate mode (SO1, agg.py:182-190): UNION ALL of multiple
    inputs, aggregated once — duplicates must be preserved by the
    union (unionByName, not distinct)."""
    ev = table(spark, sf_dir, "events").select("event_type", "value", "user_id")
    u = ev.select("event_type", "value").unionByName(
        ev.filter(F.col("user_id") < 50).select("event_type", "value")
    )
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), exact_sum("value").alias("value_sum")
    )


@query(
    "enrich_broadcast_lookup",
    sql="""
    SELECT c_custkey, c_name, n_name AS nation_name,
           COALESCE(r_name, 'No region') AS region_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN (SELECT * FROM region WHERE r_regionkey <= 2) r
      ON n_regionkey = r_regionkey
    """,
    headline=True,
)
def enrich_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_country.py re-modeled (U1): broadcast lookup join with the
    'No country' sentinel semantics — here customer→nation→region
    with a deliberately incomplete region lookup to exercise misses."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = table(spark, sf_dir, "region").filter(F.col("r_regionkey") <= 2)
    withnat = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "inner"
    ).select("c_custkey", "c_name", F.col("n_name").alias("nation_name"), "n_regionkey")
    enriched = add_lookup_column(
        withnat,
        reg.select(F.col("r_regionkey").alias("n_regionkey"), F.col("r_name").alias("region_name")),
        on=["n_regionkey"],
        value_col="region_name",
        default="No region",
    )
    return enriched.select("c_custkey", "c_name", "nation_name", "region_name")


# =====================================================================
# Standard relational surface (free in Spark; exposed + oracled)
# =====================================================================


@query(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        AS sum_charge,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation: partial-aggregable hash agg with
    map-side combine, one exchange on the (2-value × 2-value) key.

    ``spread`` (round 15): the fixture file is a single row group, so
    the scan+partial-agg stage otherwise runs as ONE task and the
    whole decimal-sum work is single-core (guide §2.5, "one huge
    unsplittable file" — repartition right after the read). Measured
    1.20 s → 0.75 s at sf0.1/32 cores; on a multi-file corpus spread
    is a no-op and the plan is unchanged. Decimal-exact sums make the
    result partitioning-invariant by construction."""
    from .tables import spread

    li = spread(table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_k_orders",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break: Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge) — no full sort, no full shuffle."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "window_rank_per_group",
    sql="""
    SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ) AS BIGINT) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def window_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function surface: per-group top-3 by row_number with a
    full deterministic tie-break.

    Two-phase (operators/topk.py): c_nationkey has only 25 distinct
    values, so the naive single window would sort the whole customer
    table inside ≤25 tasks at scale. The salted pre-reduce bounds
    every sort; the result is identical to the plain window (the
    oracle stays the single-window SQL)."""
    return grouped_topk(
        table(spark, sf_dir, "customer").select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        3,
        salt_col=F.col("c_custkey"),
    ).select("c_nationkey", "c_custkey", "c_acctbal", "rn")


@query(
    "set_except_nations",
    sql="""
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal < 0
    """,
)
def set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation surface: nations with customers but no
    negative-balance suppliers (EXCEPT = Spark subtract, distinct
    semantics). The predicate keeps the result non-empty on every
    fixture SF (plain customer-minus-supplier nations is {} at
    sf>=0.01, which made the oracle check vacuous)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.distinct().subtract(s.distinct())


@query(
    "json_extract_events",
    sql="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: JSON field extraction from the
    events.props string column."""
    return table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@query(
    "sessionize_events",
    sql="""
    WITH o AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
    f AS (
      SELECT user_id, event_id, tms,
        CASE WHEN LAG(tms) OVER w IS NULL
                  OR tms - LAG(tms) OVER w > 1800000
             THEN 1 ELSE 0 END AS new_s
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
    ),
    s AS (
      SELECT user_id, tms,
        CAST(SUM(new_s) OVER (
          PARTITION BY user_id ORDER BY tms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
      FROM f
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MAX(tms) - MIN(tms) AS duration_ms
    FROM s GROUP BY user_id, session_id
    """,
    headline=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) via lag + running
    sum — the classic two-window formulation; the streaming analogue
    (session_window + watermark) lives in streaming/windows.py."""
    gap_ms = 30 * 60 * 1000
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("tms")
    )
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "tms",
        F.when(
            F.lag("tms").over(w).isNull() | (F.col("tms") - F.lag("tms").over(w) > gap_ms),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # running sum ordered by the SAME (tms, event_id) key as the lag
    # window — ties on tms would otherwise make session assignment
    # nondeterministic (and Spark-vs-oracle divergent)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("tms", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.select(
        "user_id", "tms", F.sum("new_s").over(wrun).cast("long").alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("tms") - F.min("tms")).alias("duration_ms"),
    )


# extension query modules register themselves into REGISTRY on import
# (kept at the bottom to avoid a circular import at module load)
from . import (  # noqa: E402,F401
    queries_extra,
    queries_io,
    queries_multimodal,
    queries_sim,
    queries_streaming,
    queries_text,
    queries_pipeline,
    queries_analytic,
    queries_ir,
    queries_tpch2,
    queries_txlog,
)
