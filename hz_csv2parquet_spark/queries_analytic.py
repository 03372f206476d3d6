"""Round-3 analytic/time-series batch (SURVEY §2.9b E70-E73).

Four operator families a log-analytics deployment of the engine needs
beyond the reference surface: banded range self-joins (event
correlation without the quadratic equi-join blowup), timeline
densification (gap-fill), exact two-pass outlier detection (z-score
gating in pure integer arithmetic so the oracle is bit-identical),
and a TPC-H Q19-shaped disjunctive-predicate join (OR-of-ANDs that
still pushes to the scans).

Every query pairs the Spark plan with a construction-mirrored DuckDB
oracle; driver verification is scheduled by ``verify_order`` in
queries.py (tests/test_registry_order.py pins the discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.exact import exact_sum
from .operators.rangejoin import banded_interval_self_join
from .queries import FUNNEL_STEP_MS, query
from .tables import table

# ---------------------------------------------------------------------
# E68: banded range self-join — event pairs within 60 s
# ---------------------------------------------------------------------

_GAP_MS = 60_000


@query(
    "range_join_event_pairs",
    sql=f"""
    SELECT a.event_type AS type_a,
           b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(epoch_ms(b.ts) - epoch_ms(a.ts)) AS BIGINT) AS sum_gap_ms
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_ms(b.ts) - epoch_ms(a.ts) BETWEEN 0 AND {_GAP_MS}
     AND (epoch_ms(a.ts) < epoch_ms(b.ts)
          OR (epoch_ms(a.ts) = epoch_ms(b.ts) AND a.event_id < b.event_id))
    GROUP BY 1, 2
    """,
)
def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs ≤ 60 s apart, aggregated to transition
    counts per (type_a, type_b) — the "what happens within a minute
    of an error" query. The oracle writes the textbook inequality
    join; the Spark plan runs the banded form
    (operators/rangejoin.py): equi-join on (user, 60 s bucket) ∪
    (user, bucket+1), so a hot user's candidates are bounded by rate
    × band, not lifetime event count. Gap sums are integer ms —
    exact on both engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("__ms"),
        "event_id",
        "event_type",
    )
    pairs = banded_interval_self_join(ev, "user_id", "__ms", "event_id", _GAP_MS)
    return pairs.groupBy(
        F.col("event_type_a").alias("type_a"),
        F.col("event_type_b").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("gap_ms").alias("sum_gap_ms"),
    )


# ---------------------------------------------------------------------
# E69: gap-fill — dense hourly timeline with zero-filled holes
# ---------------------------------------------------------------------


@query(
    "gap_fill_hourly_events",
    sql="""
    WITH counts AS (
      SELECT event_type,
             CAST(FLOOR(epoch_ms(ts) / 3600000) AS BIGINT) AS hour_bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), spans AS (
      SELECT event_type, MIN(hour_bucket) AS lo, MAX(hour_bucket) AS hi
      FROM counts GROUP BY 1
    ), dense AS (
      SELECT event_type, UNNEST(generate_series(lo, hi)) AS hour_bucket
      FROM spans
    )
    SELECT d.event_type, d.hour_bucket,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM dense d LEFT JOIN counts c
      ON d.event_type = c.event_type AND d.hour_bucket = c.hour_bucket
    """,
    headline=True,
)
def gap_fill_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline densification: every hour between each event type's
    first and last event, with n_events = 0 on silent hours — the
    precursor to any gap/alerting/resampling analysis. Shape for
    scale: the raw table collapses to an hourly aggregate FIRST
    (bounded by #types × #hours regardless of fact cardinality —
    the time span does not grow with corpus size), and the dense
    axis is generated from that aggregate's spans via
    sequence+explode, never from the fact table. Both join inputs
    are aggregate-sized, so the left join is broadcast."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_millis("ts") / F.lit(3_600_000)).cast("long").alias("hour_bucket"),
    )
    counts = ev.groupBy("event_type", "hour_bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    spans = counts.groupBy("event_type").agg(
        F.min("hour_bucket").alias("__lo"), F.max("hour_bucket").alias("__hi")
    )
    dense = spans.select(
        "event_type",
        F.explode(F.sequence("__lo", "__hi")).alias("hour_bucket"),
    )
    return dense.join(F.broadcast(counts), ["event_type", "hour_bucket"], "left").select(
        "event_type",
        "hour_bucket",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------
# E70: exact two-pass z-score outlier gate
# ---------------------------------------------------------------------

_D38 = "decimal(38,0)"


# RETIRED (round 14, forward smoothing for the r16 window): the
# algebraized z-score gate — (n·v−S)² > k²·(n·SS−S²) in DECIMAL(38,0)
# with the tiny stats frame broadcast back onto the facts — is
# driver-gated VERBATIM by ``seasonal_anomaly_events`` (green r13;
# same integer algebra at 3σ on (type, hour) keys, same two-pass
# broadcast shape); exact moment sums by ``column_stats_lineitem``,
# the robust-outlier alternative by ``mad_outliers_events`` (both
# green r13). The function stays (undecorated) for test reuse and
# the record.
def zscore_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type outlier census: rows with |value − mean| > 2σ. The
    z-score gate is order-dependent in floating point (mean and
    variance are double sums), so the whole test is algebraized into
    integer arithmetic on cents: |v − S/n| > 2·sqrt((SS − S²/n)/n)
    ⇔ (n·v − S)² > 4·(n·SS − S²) — no division, no sqrt, no
    doubles; Spark evaluates it in DECIMAL(38,0), the oracle in
    HUGEINT, both exactly. Shape for scale: pass 1 is a per-type
    aggregate (map-side combine, tiny result), pass 2 re-scans the
    facts with the stats broadcast — facts never shuffle."""
    # every intermediate lives in DECIMAL(38,0) from the first
    # multiply on: LONG sums/products (SUM(vc²), n·v−S) would wrap
    # silently past 2^63 in non-ANSI Spark at large scale while the
    # DuckDB oracle promotes to HUGEINT — a latent cross-engine
    # divergence exactly where the query advertises bit-exactness.
    vc = F.round(F.col("value") * 100).cast("long").cast(_D38)
    ev = table(spark, sf_dir, "events").select("event_type", vc.alias("__vc"))
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("__n"),
        F.sum("__vc").alias("__s"),
        F.sum(F.col("__vc") * F.col("__vc")).alias("__ss"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    lhs = F.col("__n") * F.col("__vc") - F.col("__s")
    rhs = F.lit(4).cast(_D38) * (
        F.col("__n") * F.col("__ss") - F.col("__s") * F.col("__s")
    )
    return j.groupBy("event_type").agg(
        F.max("__n").cast("long").alias("n"),
        (F.max("__s").cast("double") / (F.lit(100.0) * F.max("__n").cast("double"))).alias(
            "value_mean"
        ),
        F.sum(F.when(lhs * lhs > rhs, 1).otherwise(0)).alias("n_outliers"),
    )


# ---------------------------------------------------------------------
# E71: TPC-H Q19-shaped disjunctive-predicate join
# ---------------------------------------------------------------------

_Q19_SQL_PRED = """
      (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 25
         AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 20 AND 40
         AND l_quantity BETWEEN 20 AND 45)
"""


@query(
    "q19_disjunctive_revenue",
    sql=f"""
    SELECT p_brand,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
                AS VARCHAR) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE {_Q19_SQL_PRED}
    GROUP BY p_brand
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue through an OR-of-ANDs predicate
    mixing dim (brand, size) and fact (quantity) columns. The
    single-table residues of the disjunction are derivable: Catalyst
    pushes ``brand IN (...)`` to the part scan and ``quantity
    BETWEEN min-lo AND max-hi`` to the lineitem scan, so both scans
    prune before the broadcast join; the full disjunction runs as
    the post-join filter. part is broadcast — lineitem never
    shuffles."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    # derived fact-side residue of the disjunction (Catalyst does not
    # infer cross-clause bounds on its own): quantity ∈ [1, 45]
    li = li.filter(F.col("l_quantity").between(1, 45))
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    p = p.filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#23") & s.between(5, 25) & q.between(10, 30))
        | ((b == "Brand#3") & s.between(20, 40) & q.between(20, 45))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(pred)
        .groupBy("p_brand")
        .agg(exact_sum(disc).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------
# E82: first-touch conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------

_STEP_MS = FUNNEL_STEP_MS  # 1 h between funnel steps (shared with E89 + oracles)


@query(
    "funnel_conversion_events",
    sql=f"""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    fc AS (
      SELECT e.user_id, MIN(e.ts) AS cts, MIN(v.vts) AS vts
      FROM events e JOIN fv v ON e.user_id = v.user_id AND e.ts >= v.vts
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    s2 AS (
      SELECT * FROM fc WHERE epoch_ms(cts) - epoch_ms(vts) <= {_STEP_MS}
    ),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS pts, MIN(s.cts) AS cts
      FROM events e JOIN s2 s ON e.user_id = s.user_id AND e.ts >= s.cts
      WHERE e.event_type = 'purchase' GROUP BY 1
    ),
    s3 AS (
      SELECT * FROM fp WHERE epoch_ms(pts) - epoch_ms(cts) <= {_STEP_MS}
    )
    SELECT 'view' AS step, CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click_1h', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'purchase_1h', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
    since=17,
)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel: users who viewed; whose FIRST
    click at/after their first view came within 1 h; whose first
    purchase at/after that click came within 1 h. First-touch (min-ts)
    semantics keep every stage a hash aggregate on ``user_id`` —
    deliberately NOT a per-pair range join, so no step explodes
    quadratically on hot users. Scale shape: three groupBys + two
    user-key equi-joins, all co-partitioned on user_id; counts reduce
    to three scalars. The product analytics staple over the events
    stream.

    The twice-consumed stage frames (fv feeds the click join AND its
    own count; s2 the purchase join AND its count) are not persisted:
    they are three sub-0.5 s scalar counts over tiny user-grain
    aggregates, and round 15 measured a persist as a loss on local[32]
    (it serializes materialize-then-consume)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ms = lambda c: F.unix_millis(F.col(c))  # noqa: E731 — integer-exact epoch ms
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"), F.min("vts").alias("vts"))
    )
    s2 = fc.filter(ms("cts") - ms("vts") <= _STEP_MS)
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "cts"), "user_id")
        .filter(F.col("ts") >= F.col("cts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"), F.min("cts").alias("cts"))
    )
    s3 = fp.filter(ms("pts") - ms("cts") <= _STEP_MS)
    one = lambda df, name: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(F.lit(name).alias("step"), "n_users")
    return one(fv, "view").unionByName(one(s2, "click_1h")).unionByName(
        one(s3, "purchase_1h")
    )


# ---------------------------------------------------------------------
# E86: weekly retention cohorts
# ---------------------------------------------------------------------

_WEEK_MS = 7 * 24 * 3_600_000


@query(
    "retention_cohorts_events",
    sql=f"""
    WITH weeks AS (
      SELECT user_id,
             CAST(FLOOR(epoch_ms(ts) / {_WEEK_MS}) AS BIGINT) AS week
      FROM events GROUP BY 1, 2
    ),
    cohorts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1
    )
    SELECT c.cohort_week,
           w.week - c.cohort_week AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users grouped by first-activity week
    (cohort), counted in every later week they reappear — the
    (cohort_week, week_offset) grid behind every retention curve.
    Integer epoch-week arithmetic end to end. Scale shape: the fact
    stream collapses to distinct (user, week) FIRST (bounded by
    users × weeks, not events), the cohort frame is a second hash agg
    on the same user_id partitioning (exchange reuse), and the final
    grid is tiny. The join keys on user_id — co-partitioned with both
    aggregates, no broadcast needed, no skew (each user contributes
    ≤ #weeks rows)."""
    weeks = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.unix_millis("ts") / F.lit(_WEEK_MS)).cast("long").alias("week"),
        )
        .distinct()
    )
    cohorts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


# ---------------------------------------------------------------------
# E87: top event-path trigrams (behavioral sequence mining)
# ---------------------------------------------------------------------


@query(
    "event_path_trigrams",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavioral paths: consecutive event-type
    triples per user (ordered by ts, event_id tie-break), counted and
    ranked — sequence mining's first query. Scale shape: the LEAD
    window partitions on high-cardinality user_id (each partition =
    one user's events, never the stream); the trigram count is a hash
    agg on ≤ |types|³ keys; the exact top-20 is TakeOrderedAndProject
    (per-partition heads + driver merge), NOT a global sort.
    Deterministic under ties via the secondary path ordering."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("__t2"),
        F.lead("event_type", 2).over(w).alias("__t3"),
    )
    return (
        seq.filter(F.col("__t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "__t2", "__t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------
# E88: per-group OLS trend slope (exact-sum closed form)
# ---------------------------------------------------------------------


@query(
    "trend_slope_by_type",
    sql="""
    WITH c AS (
      SELECT event_type,
             CAST(FLOOR(epoch_ms(ts) / 3600000) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx
      FROM c GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope_per_hour
    FROM s
    """,
)
def trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time: closed-form
    slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with x = epoch hour and
    y = value in cents. Every sum is EXACT integer arithmetic in
    DECIMAL(38,0) (oracle: HUGEINT) — the one division happens once
    per group on exact operands, so the double result is
    bit-identical across engines and row orders; a naive double Σxy
    would be neither. Scale shape: one map-side-combined hash agg to
    |types| rows, then scalar arithmetic — the same
    moments-then-finish pattern as the z-score gate (E72)."""
    vc = F.round(F.col("value") * 100).cast("long").cast(_D38)
    x = F.floor(F.unix_millis("ts") / F.lit(3_600_000)).cast("long").cast(_D38)
    c = table(spark, sf_dir, "events").select(
        "event_type", x.alias("__x"), vc.alias("__y")
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_D38).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return s.select(
        "event_type",
        F.col("__n").cast("long").alias("n"),
        (num.cast("double") / den.cast("double") / F.lit(100.0)).alias(
            "slope_per_hour"
        ),
    )


# ---------------------------------------------------------------------
# E93: median-absolute-deviation outlier gate (robust z-score)
# ---------------------------------------------------------------------


@query(
    "mad_outliers_events",
    sql="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events
    ),
    m1 AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(round(2 * median(vc)) AS BIGINT) AS med2
      FROM c GROUP BY 1
    ),
    m2 AS (
      SELECT c.event_type,
             CAST(round(2 * median(abs(2 * c.vc - m1.med2))) AS BIGINT) AS mad2d
      FROM c JOIN m1 USING (event_type) GROUP BY 1
    )
    SELECT c.event_type,
           MAX(m1.n) AS n,
           CAST(MAX(m1.med2) AS DOUBLE) / 200.0 AS value_median,
           CAST(MAX(m2.mad2d) AS DOUBLE) / 400.0 AS mad,
           CAST(SUM(CASE WHEN 4 * abs(2 * c.vc - m1.med2) > 3 * m2.mad2d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM c JOIN m1 USING (event_type) JOIN m2 USING (event_type)
    GROUP BY 1
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per type: |v − median| > 1.5·MAD (the
    median-absolute-deviation gate that, unlike the 2σ z-score E72,
    is not dragged by the outliers themselves). The gate is
    algebraized into pure integers on cents — with med2 = 2·median
    and mad2d = 2·median(|2v − med2|), the test |v − med| > 1.5·MAD
    ⇔ 4·|2v − med2| > 3·mad2d; doubled medians of integers are
    integer-valued, so both engines compare exact integers and the
    only doubles in the output are display divisions of exact
    operands. Scale shape: three passes over the facts (median →
    MAD → gate), each a per-type aggregate with the tiny stats frame
    broadcast back — facts never shuffle; exact per-group medians are
    the acknowledged E19 trade with the E77 two-phase rank as the
    100 TB swap.

    Round 15: the MAD aggregate carries n/med2 through (constant
    within a group, so max() is the value) instead of re-joining m1 —
    the old ``m1.join(m2)`` re-executed m1's whole facts pass a
    second time under the join's left branch, making the three-pass
    design a four-pass plan."""
    vc = F.round(F.col("value") * 100).cast("long")
    c = table(spark, sf_dir, "events").select("event_type", vc.alias("__vc"))
    m1 = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.round(F.median("__vc") * 2).cast("long").alias("__med2"),
    )
    j = c.join(F.broadcast(m1), "event_type")
    d2 = F.abs(F.lit(2) * F.col("__vc") - F.col("__med2"))
    stats = j.groupBy("event_type").agg(
        F.round(F.median(d2) * 2).cast("long").alias("__mad2d"),
        F.max("__n").alias("__n"),
        F.max("__med2").alias("__med2"),
    )
    out = (
        c.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("__n").alias("n"),
            (F.max("__med2").cast("double") / F.lit(200.0)).alias("value_median"),
            (F.max("__mad2d").cast("double") / F.lit(400.0)).alias("mad"),
            F.sum(
                F.when(
                    F.lit(4) * F.abs(F.lit(2) * F.col("__vc") - F.col("__med2"))
                    > F.lit(3) * F.col("__mad2d"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return out


@query(
    "hierarchy_depths_documents",
    sql="""
    WITH RECURSIVE r AS (
      SELECT doc_id AS v, doc_id AS cur, 0 AS d FROM documents
      UNION ALL
      SELECT v, cur // 2, d + 1 FROM r WHERE cur > 0
    )
    SELECT CAST(v AS BIGINT) AS doc_id, CAST(d AS BIGINT) AS depth
    FROM r WHERE cur = 0
    """,
    since=5,
)
def hierarchy_depths_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy depth for every node of a synthesized tree
    (parent(v) = v÷2, root 0) by pointer doubling
    (operators/graph.py) — the log-round distributed answer to what a
    single-node engine writes as a recursive CTE, which is exactly
    what the oracle runs (DuckDB WITH RECURSIVE): the third
    hash-checked iterative algorithm next to PageRank and the PCA
    power iteration, and the only one where the oracle uses genuine
    recursion Spark does not have."""
    from .operators.graph import pointer_doubling_depths

    d = table(spark, sf_dir, "documents").select(F.col("doc_id").alias("v"))
    parents = d.select(
        "v",
        F.when(F.col("v") > 0, F.floor(F.col("v") / 2)).otherwise(F.lit(0))
        .cast("long")
        .alias("parent"),
    )
    return pointer_doubling_depths(parents).select(
        F.col("v").alias("doc_id"), "depth"
    )


@query(
    "skyline_orders",
    sql="""
    WITH pts AS (
      SELECT o_orderkey, epoch_ms(o_orderdate) AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS p
      FROM orders
    )
    SELECT o_orderkey, d, p
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b WHERE b.d > a.d AND b.p > a.p
    )
    """,
    since=17,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not strictly dominated
    in (order date, price) — no other order is both newer AND more
    expensive. The oracle is the semantic NOT-EXISTS definition; the
    Spark plan is the scale decomposition that avoids both the
    quadratic and the single global sort:

    1. date range-buckets (64 over the known domain) — per-bucket
       max price is an aggregate-sized frame;
    2. suffix max over STRICTLY NEWER buckets — a 64-row window,
       broadcast back;
    3. within a bucket, the newer-max at each distinct date comes
       from the (bucket, date)-grain aggregate sorted per bucket —
       every sort in the plan is bounded by one bucket's distinct
       dates;
    4. keep iff price ≥ every strictly-newer max (integer cents —
       exact comparisons).

    Same two-phase shape as the scalable NTILE (E77): the global
    order is recovered from bucket-local orders plus a tiny
    cross-bucket frame. The decomposition lives in
    operators/skyline.py, shared with the brute-force property test."""
    from .operators.skyline import skyline_2d

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("p"),
    )
    lo = F.unix_millis(F.lit("1995-01-01 00:00:00").cast("timestamp"))
    hi = F.unix_millis(F.lit("2002-01-01 00:00:00").cast("timestamp"))
    return skyline_2d(o, "d", "p", lo, hi, n_buckets=64).select("o_orderkey", "d", "p")
