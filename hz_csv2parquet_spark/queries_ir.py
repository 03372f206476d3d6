"""Round-5 additions: IR retrieval (BM25, inverted index), exact
vector centroids, moment-exact correlation, seasonal outliers, event
debouncing, and running totals.

Each query pairs the Spark plan with a DuckDB oracle mirrored
*construction for construction* — same integer scaling, same order
of IEEE-754 operations (only +,-,*,/ and sqrt, all correctly
rounded; no transcendentals in compared output), same DECIMAL(38,10)
routing for order-insensitive float sums — so the driver's value-hash
gate is a hard check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.exact import SQL_EXACT_SUM
from .functions.text import sql_tokens
from .operators.ir import BM25_B, BM25_K1, bm25_topk, inverted_index
from .queries import query
from .tables import table

# ---------------------------------------------------------------------
# E95: BM25 ranked retrieval
# ---------------------------------------------------------------------

#: fixed query bag for the fixture corpus (all high-df tokens, so the
#: idf spread — not raw tf — decides the ranking)
BM25_QUERY_TERMS = ["hash", "join", "spark", "stream", "window"]


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY_TERMS)))
    score = SQL_EXACT_SUM.format(expr="term_score")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens("text")}) AS tok FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(len({sql_tokens("text")}) AS BIGINT) AS dl
      FROM documents
    ),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_dl
      FROM dl
    ),
    qtoks AS (SELECT doc_id, tok FROM toks WHERE tok IN ({terms})),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM qtoks GROUP BY 1, 2
    ),
    dft AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM qtoks GROUP BY 1
    ),
    stats AS (
      SELECT tok,
             CAST(n_docs - df AS DOUBLE) + 0.5 AS idf_num,
             CAST(df AS DOUBLE) + 0.5 AS idf_den,
             CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
      FROM dft CROSS JOIN corpus
    ),
    scored AS (
      SELECT tf.doc_id,
             (idf_num / idf_den)
               * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r})
                  / (CAST(tf AS DOUBLE)
                     + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                      + {BM25_B!r} * (CAST(dl AS DOUBLE) / avgdl))))
               AS term_score
      FROM tf JOIN dl USING (doc_id) JOIN stats USING (tok)
    )
    SELECT doc_id, {score} AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """


@query("bm25_topk_documents", sql=_bm25_sql(), headline=True)
def bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 (rational-idf variant — see
    operators/ir.py for the no-log design argument) for a fixed
    query bag. Scale shape: pre-filtered explode (non-query tokens
    die map-side), |terms|-row stats frame broadcast, per-doc score
    through the exact decimal sum, TakeOrdered finish — the corpus
    never shuffles on raw tokens and there is no global sort."""
    return bm25_topk(
        table(spark, sf_dir, "documents"), "doc_id", "text", BM25_QUERY_TERMS, k=10
    )


# ---------------------------------------------------------------------
# E96: inverted index (bounded posting lists)
# ---------------------------------------------------------------------


# RETIRED (round 14, the r13-verdict cadence re-plan): every stage is
# driver-gated by greener siblings — the tokenize → (token, doc)
# reduce → per-token df/tf stats pipeline by ``bm25_topk_documents``
# and ``top_terms_per_lang`` (both headline-benched, both in this
# round's mandatory window), and the bounded-postings rank-≤-k cut by
# the salted ``top_k_orders`` grouped-top-k (same no-unbounded-
# collect_set argument). operators/ir.py ``inverted_index`` keeps its
# pytest pins. The function stays (undecorated) for test reuse and
# the record.
def inverted_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-grain inverted index: df, total tf, and a bounded
    posting sample (8 smallest doc ids, comma-joined) per token.
    The posting cut happens on the already-reduced (token, doc) pair
    frame via a rank window — no unbounded collect_set, so a
    stopword's postings never materialize on one executor (see
    operators/ir.py)."""
    return inverted_index(
        table(spark, sf_dir, "documents"), "doc_id", "text", posting_sample=8
    )


# ---------------------------------------------------------------------
# E97: exact embedding centroids per label
# ---------------------------------------------------------------------


@query(
    "embedding_centroids_by_label",
    sql="""
    WITH vals AS (
      SELECT label, i - 1 AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 100000000.0) AS BIGINT) AS y
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100000000.0 AS centroid
    FROM vals GROUP BY 1, 2
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the centroid building block under
    k-means / SemDeDup / class prototypes — computed to bit-exact
    reproducibility: each float component is quantized to an integer
    at 1e-8 (round's tie boundaries are integers — exactly
    representable doubles, so Spark's shortest-repr rounding and
    DuckDB's binary rounding always agree, unlike a direct
    double→DECIMAL(38,10) cast whose 1e-10 grid is not exactly
    representable), summed exactly in DECIMAL(38), and divided once.
    Shape: posexplode → one hash agg keyed (label, dim) —
    |labels|·dim result rows, map-side combinable."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    y = F.round(F.col("val").cast("double") * F.lit(1e8)).cast("long")
    return (
        e.groupBy(
            F.col("label").cast("long").alias("label"),
            F.col("pos").cast("long").alias("pos"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y.cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            "label",
            "pos",
            "n",
            (
                F.col("__s").cast("double") / F.col("n").cast("double") / F.lit(1e8)
            ).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------
# E98: moment-exact correlation matrix
# ---------------------------------------------------------------------

_CORR_COLS = [
    ("quantity", "l_quantity"),
    ("price", "l_extendedprice"),
    ("discount", "l_discount"),
]
_CORR_PAIRS = [("quantity", "price"), ("quantity", "discount"), ("price", "discount")]


def _corr_sql() -> str:
    ys = ", ".join(
        f"CAST(round({c} * 100) AS BIGINT) AS y_{a}" for a, c in _CORR_COLS
    )
    moments = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for a, _ in _CORR_COLS:
        moments.append(f"CAST(SUM(CAST(y_{a} AS HUGEINT)) AS HUGEINT) AS s_{a}")
        moments.append(
            f"CAST(SUM(CAST(y_{a} * y_{a} AS HUGEINT)) AS HUGEINT) AS ss_{a}"
        )
    for a, b in _CORR_PAIRS:
        moments.append(
            f"CAST(SUM(CAST(y_{a} * y_{b} AS HUGEINT)) AS HUGEINT) AS sp_{a}_{b}"
        )
    selects = []
    for a, b in _CORR_PAIRS:
        num = f"CAST(CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS VARCHAR) AS DOUBLE)"
        da = f"sqrt(CAST(CAST(n * ss_{a} - s_{a} * s_{a} AS VARCHAR) AS DOUBLE))"
        db = f"sqrt(CAST(CAST(n * ss_{b} - s_{b} * s_{b} AS VARCHAR) AS DOUBLE))"
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n, "
            f"{num} / ({da} * {db}) AS corr FROM m"
        )
    union = " UNION ALL ".join(selects)
    return f"""
    WITH c AS (SELECT {ys} FROM lineitem),
    m AS (SELECT {", ".join(moments)} FROM c)
    {union}
    """


@query("correlation_matrix_lineitem", sql=_corr_sql())
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over (quantity, price, discount),
    cents-scaled to integers so every moment is exact (DECIMAL(38)
    sums), finished with one correctly-rounded double expression per
    pair — bit-identical to the oracle. ONE map-side-combined
    aggregation over the fact table produces a single moment row; the
    three matrix entries explode from it without rescanning (at
    100 TB: one pass, one 1-row shuffle)."""
    li = table(spark, sf_dir, "lineitem").select(
        *[
            F.round(F.col(c) * 100).cast("long").alias(f"y_{a}")
            for a, c in _CORR_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for a, _ in _CORR_COLS:
        aggs.append(F.sum(F.col(f"y_{a}").cast("decimal(38,0)")).alias(f"s_{a}"))
        aggs.append(
            F.sum((F.col(f"y_{a}") * F.col(f"y_{a}")).cast("decimal(38,0)")).alias(
                f"ss_{a}"
            )
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(f"y_{a}") * F.col(f"y_{b}")).cast("decimal(38,0)")).alias(
                f"sp_{a}_{b}"
            )
        )
    m = li.agg(*aggs)

    def entry(a: str, b: str):
        num = (
            F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ).cast("double")
        da = F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
                "double"
            )
        )
        db = F.sqrt(
            (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
                "double"
            )
        )
        return F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col("n").cast("long").alias("n"),
            (num / (da * db)).alias("corr"),
        )

    return m.select(
        F.explode(F.array(*[entry(a, b) for a, b in _CORR_PAIRS])).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------
# E99: seasonal (hour-of-day) outlier gate
# ---------------------------------------------------------------------


@query(
    "seasonal_anomaly_events",
    sql="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(FLOOR(epoch_ms(ts) / 3600000) AS BIGINT) % 24 AS hour_of_day,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, hour_of_day,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS ssq
      FROM c GROUP BY 1, 2
    )
    SELECT event_id, event_type, hour_of_day, y
    FROM c JOIN s USING (event_type, hour_of_day)
    WHERE (n * y - s) * (n * y - s) > 9 * (n * ssq - s * s)
    """,
)
def seasonal_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events more than 3σ from their (event_type, hour-of-day)
    seasonal baseline — the diurnal-pattern-aware variant of the
    z-score gate (E72). All-integer algebra on cents: the gate
    (n·y−s)² > 9·(n·ssq−s²) multiplies the usual |y−μ| > 3σ through
    by n², so no division or sqrt is compared — exact on both
    engines. The baseline frame is |types|×24 rows → **broadcast**
    back onto the fact stream; the facts shuffle once (the stats
    agg), and at 100 TB the agg is map-side combinable to ≤ 24·|types|
    partials per task. Hour is derived by integer epoch math —
    timezone-free on both engines."""
    c = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.floor(F.unix_millis("ts") / 3600000) % 24).alias("hour_of_day"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    s = c.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("ssq"),
    )
    dev = F.col("n") * F.col("y") - F.col("s")
    gate = dev * dev > F.lit(9) * (
        F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    )
    return (
        c.join(F.broadcast(s), ["event_type", "hour_of_day"])
        .filter(gate)
        .select("event_id", "event_type", "hour_of_day", "y")
    )


# ---------------------------------------------------------------------
# E100: debounce (min-gap suppression)
# ---------------------------------------------------------------------

_DEBOUNCE_MS = 300_000


@query(
    "debounce_events",
    sql=f"""
    WITH c AS (
      SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
             LAG(epoch_ms(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_ms(ts), event_id
             ) AS prev_ms
      FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(ms - prev_ms AS BIGINT) AS gap_ms
    FROM c
    WHERE prev_ms IS NULL OR ms - prev_ms > {_DEBOUNCE_MS}
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: keep an event only if the previous event of
    the same (user, type) is more than 5 min older (lag-gap form —
    each event judged against its immediate predecessor, expressible
    identically in both engines). The window partitions on
    high-cardinality (user_id, event_type) — per-partition state is
    one user's one type, so the sort under the window is bounded by
    a single user's rate, never the table."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ms", "event_id")
    c = (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.unix_millis("ts").alias("ms"))
        .withColumn("prev_ms", F.lag("ms").over(w))
    )
    return c.filter(
        F.col("prev_ms").isNull() | (F.col("ms") - F.col("prev_ms") > _DEBOUNCE_MS)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("ms") - F.col("prev_ms")).alias("gap_ms"),
    )


# ---------------------------------------------------------------------
# E101: running revenue totals per customer
# ---------------------------------------------------------------------


# ---------------------------------------------------------------------
# E102: bigram language-model quality score
# ---------------------------------------------------------------------


@query(
    "lm_bigram_score_documents",
    since=5,
    headline=True,
    sql=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens("text")} AS t FROM documents
    ),
    fb AS (SELECT doc_id, t FROM base WHERE len(t) >= 2),
    pairs AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM fb, unnest(generate_series(1, len(t) - 1)) u(i)
    ),
    b AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bc FROM pairs GROUP BY 1, 2),
    u AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS uc FROM b GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz
      FROM (SELECT unnest(t) AS tok FROM base)
    ),
    model AS (
      SELECT w1, w2,
             CAST(bc + 1 AS DOUBLE) / CAST(uc + vsz AS DOUBLE) AS p
      FROM b JOIN u USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {SQL_EXACT_SUM.format(expr="p")} / CAST(COUNT(*) AS DOUBLE) AS avg_p
    FROM pairs JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
)
def lm_bigram_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality score: train add-one-smoothed
    bigram probabilities p(w2|w1) = (B+1)/(U+V) on the corpus itself,
    then score each document by its mean bigram probability — the
    in-distribution/fluency signal a perplexity filter gives, in
    rational form (no log: only correctly-rounded +,-,*,/ reach the
    compared output, and the mean-probability ordering is what the
    gate thresholds anyway). Scale shape: the model is a (w1,w2)-keyed
    aggregate of the same pair stream it scores — both sides of the
    scoring join shuffle on the bigram key (co-partitioned); U is a
    model-grain window-sum on w1 (never corpus-grain); V is a scalar
    broadcast. Sums route through DECIMAL(38,10) so the per-doc mean
    is partition-order-independent."""
    from .functions.text import tokens
    from .tables import memo_persist

    # tokenization (regex normalize + split) is the expensive per-row
    # work and THREE consumers need its output (bigram model build,
    # scoring join, vocabulary count) — persist the token arrays once
    # so the corpus text is read and tokenized exactly once per run;
    # at 100 TB the durable form is a parquet write of the same frame.
    # Round 15: this replaces a localCheckpoint of the bigram-pair
    # stream that still left the vocabulary count re-tokenizing the
    # corpus a second time (and persist over checkpoint: the base plan
    # is a two-node scan+project, so the lineage cut bought nothing
    # while its eager materialization job cost ~0.2 s per run).
    base = memo_persist(
        table(spark, sf_dir, "documents").select(
            "doc_id", tokens("text").alias("t")
        ),
        "lm_bigram_base",
    )
    fb = base.filter(F.size("t") >= 2)
    pairs = fb.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    b = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    # unigram continuation totals as a window-sum over the bigram
    # table itself: sum(bc) partitioned on w1 is the exact long sum
    # the old groupBy("w1")+join("w1") computed, but it reuses the ONE
    # (w1,w2) aggregation instead of re-running the pair-stream
    # aggregate a second time under the join's right branch (DataFrame
    # plans share no common subexpressions — guide §2.4)
    uw = Window.partitionBy("w1")
    v = base.select(F.explode("t").alias("tok")).agg(
        F.count_distinct("tok").alias("vsz")
    )
    model = (
        b.withColumn("uc", F.sum("bc").over(uw))
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            (
                (F.col("bc") + 1).cast("double")
                / (F.col("uc") + F.col("vsz")).cast("double")
            ).alias("p"),
        )
    )
    from .functions.exact import exact_sum

    return (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            exact_sum("p").alias("__s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("__s") / F.col("n_bigrams").cast("double")).alias("avg_p"),
        )
    )


# ---------------------------------------------------------------------
# E103: PageRank over the event-type transition graph
# ---------------------------------------------------------------------

_PR_ITERS = 5
_PR_DAMP = 0.85


def _pagerank_sql() -> str:
    prev = "r0"
    iters = []
    for k in range(1, _PR_ITERS + 1):
        s = SQL_EXACT_SUM.format(expr="r * p")
        iters.append(
            f"""r{k} AS (
      SELECT n.node,
             0.15 + {_PR_DAMP!r} * COALESCE(i.s, 0.0) AS r
      FROM n LEFT JOIN (
        SELECT e.b AS node, {s} AS s
        FROM p e JOIN {prev} pr ON e.a = pr.node
        GROUP BY e.b
      ) i USING (node)
    )"""
        )
        prev = f"r{k}"
    body = ",\n    ".join(iters)
    return f"""
    WITH c AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events
    ),
    lagged AS (
      SELECT event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ms, event_id
             ) AS prev
      FROM c
    ),
    ed AS (
      SELECT prev AS a, event_type AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    outw AS (SELECT a, CAST(SUM(w) AS BIGINT) AS ow FROM ed GROUP BY 1),
    p AS (
      SELECT a, b, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS p
      FROM ed JOIN outw USING (a)
    ),
    n AS (SELECT DISTINCT event_type AS node FROM events),
    r0 AS (SELECT node, 1.0 AS r FROM n),
    {body}
    SELECT node AS event_type, r AS rank FROM {prev}
    """


@query("pagerank_event_types", sql=_pagerank_sql(), since=17, headline=True)
def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, damping 0.85) over the event-type
    transition graph mined from per-user consecutive events — the
    iterative-algorithm shape (weighted graph build → fixed-point
    loop) on top of the same primitives as connected components
    (operators/graph.py). The heavy distributed work is the edge
    build: one LAG window partitioned on high-cardinality user_id and
    one hash agg to |types|² edge rows; the iteration then runs on
    the tiny normalized-transition frame (broadcast joins, exact
    decimal contribution sums so every iteration is partition-order
    independent). The oracle replays the identical five iterations as
    chained CTEs — a hash-checked iterative algorithm, not rows-only."""
    from .functions.exact import exact_sum

    from .tables import memo_checkpoint

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    lagged = ev.select("event_type", F.lag("event_type").over(w).alias("prev"))
    ed = (
        lagged.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("a"), F.col("event_type").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = ed.groupBy("a").agg(F.sum("w").alias("ow"))
    # the heavy edge build materializes ONCE via the checkpoint memo,
    # lineage-truncated so the 5-iteration plan downstream re-analyzes
    # a three-node scan instead of the whole window agg; coalesce(1)
    # keeps ≤|types|² rows from paying 32-partition shuffle
    # round-trips per iteration
    p = memo_checkpoint(
        ed.join(outw, "a")
        .select(
            "a",
            "b",
            (F.col("w").cast("double") / F.col("ow").cast("double")).alias("p"),
        )
        .coalesce(1),
        "pagerank_edges",
    )
    nodes = memo_checkpoint(
        ev.select(F.col("event_type").alias("node")).distinct().coalesce(1),
        "pagerank_nodes",
    )
    r = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(_PR_ITERS):
        incoming = (
            p.join(r, p["a"] == r["node"])
            .select(F.col("b").alias("node"), (F.col("r") * F.col("p")).alias("rp"))
            .groupBy("node")
            .agg(exact_sum("rp").alias("s"))
        )
        r = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(0.15) + F.lit(_PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return r.select(F.col("node").alias("event_type"), F.col("r").alias("rank"))


# E105 (merge_upsert_events, the SCD1 merge as a plain full-outer
# join) was retired in round 10: txlog_merge_read_events exercises the
# identical base/changes split through the real stats-pruned MERGE and
# shares its oracle shape, so the join-only variant added no evidence.


# ---------------------------------------------------------------------
# E106: gaps-and-islands (consecutive event-type runs)
# ---------------------------------------------------------------------


# RETIRED (round 13, the r12-verdict cadence re-plan): the
# gaps-and-islands island-id idiom (two windows on the same partition
# key -> constant-within-run key -> aggregate) is driver-gated by
# ``sessionize_events`` (lag-flag + running-sum form of the same
# primitive, same events table); the run aggregation is a plain
# map-side-combinable groupBy gated everywhere. The function stays
# (undecorated) for the run-length property test in
# tests/test_properties.py and the record.
def event_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's consecutive
    same-event-type rows into runs (the rn − rn_per_type difference
    trick — constant within a run, strictly increasing across runs),
    keeping runs of length ≥ 2. The sequence-analysis primitive
    behind crash-loop and retry-storm detection. Both windows
    partition on user_id (high-cardinality): state is one user's
    timeline; the run aggregation keys on (user, type, run_key) —
    map-side combinable."""
    w_all = Window.partitionBy("user_id").orderBy("ms", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ms", "event_id")
    c = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_millis("ts").alias("ms"),
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_all))
        .withColumn("rn_t", F.row_number().over(w_typ))
    )
    return (
        c.groupBy(
            "user_id", "event_type", (F.col("rn") - F.col("rn_t")).alias("run_key")
        )
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("ms").alias("start_ms"),
            F.max("ms").alias("end_ms"),
        )
        .filter(F.col("run_len") >= 2)
    )


# ---------------------------------------------------------------------
# E107: rolling 7-day distinct active users (fan-out form)
# ---------------------------------------------------------------------


@query(
    "rolling_7d_active_users",
    since=5,
    sql="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT) AS day
      FROM events
    ),
    fan AS (
      SELECT user_id, day + o AS as_of_day
      FROM d, unnest(generate_series(0, 6)) t(o)
    ),
    days AS (SELECT DISTINCT CAST(FLOOR(epoch_ms(ts) / 86400000) AS BIGINT) AS as_of_day FROM events)
    SELECT as_of_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
    FROM fan JOIN days USING (as_of_day)
    GROUP BY 1
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day — the DAU/
    WAU family. Sliding-window DISTINCT can't be windowed directly at
    scale; the published shape is the bounded fan-out: collapse facts
    to distinct (user, day) FIRST (the big reduction), then each
    survivor fans out to the ≤7 as-of days it supports, and a
    count-distinct per day finishes. Fan-out factor is the window
    length — constant — and the semi-join against observed days
    drops phantom trailing days on both engines identically."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_millis("ts") / 86400000).alias("day")
    )
    d = ev.distinct()
    days = ev.select(F.col("day").alias("as_of_day")).distinct()
    fan = d.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("as_of_day")
    )
    return (
        fan.join(days, "as_of_day")
        .groupBy("as_of_day")
        .agg(F.count_distinct("user_id").alias("active_7d"))
    )


# ---------------------------------------------------------------------
# E108: dataset-level data-quality constraint checks
# ---------------------------------------------------------------------


@query(
    "data_quality_checks",
    since=5,
    sql="""
    SELECT 'orders_null_custkey' AS check_name,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'orders_dup_orderkey',
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
           CAST(SUM(c) AS BIGINT)
    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_value_out_of_range',
           CAST(COUNT(*) FILTER (WHERE value < 0 OR value > 10000) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM events
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check suite over the warehouse — null keys,
    duplicate primary keys, FK orphans, domain ranges — one row per
    check with violation and row counts (the expectations report a
    pipeline gates a load on). Each check is a conditional-count
    aggregation or a key-partitioned left join; nothing collects, and
    every count is map-side combinable. Checks that pass with 0
    violations are still emitted — silence is not evidence."""
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    events = table(spark, sf_dir, "events")

    def check(name: str, df: DataFrame, cond) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count_if(cond).alias("n_violations"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.lit("orders_dup_orderkey").alias("check_name"),
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n_violations"),
            F.sum("c").alias("n_rows"),
        )
    )
    orphan = (
        lineitem.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.lit("lineitem_orphan_orderkey").alias("check_name"),
            F.count_if(F.col("o_orderkey").isNull()).alias("n_violations"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return (
        check("orders_null_custkey", orders, F.col("o_custkey").isNull())
        .unionAll(dup)
        .unionAll(orphan)
        .unionAll(
            check("lineitem_nonpositive_qty", lineitem, F.col("l_quantity") <= 0)
        )
        .unionAll(
            check(
                "events_value_out_of_range",
                events,
                (F.col("value") < 0) | (F.col("value") > 10000),
            )
        )
    )


# ---------------------------------------------------------------------
# E109: per-document keyword extraction (tf-idf top-3)
# ---------------------------------------------------------------------


@query(
    "keywords_per_document",
    since=5,
    sql=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens("text")} AS t FROM documents
    ),
    toks AS (SELECT doc_id, unnest(t) AS token FROM base),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, tf,
             CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
               AS score
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, score, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token
      ) AS rn FROM scored
    ) WHERE rn <= 3
    """,
)
def keywords_per_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf·(N/df)
    (rational idf — same no-transcendental argument as E95). The
    per-doc variant of E29's corpus-level tf-idf: the rank window
    partitions on high-cardinality doc_id, so the sort under it is
    one document's vocabulary, never the corpus.

    Round 15: df is a window COUNT over the reduced (doc, token)
    frame partitioned on the token (one row per (doc, token), so the
    window count IS the old ``groupBy(token)`` document frequency) —
    the old df-aggregate + token-grain join re-executed the whole
    tokenize → explode → tf subtree a second time under the join's
    right branch (DataFrame plans share no common subtrees). The plan
    is now a LINEAR chain: one tokenize pass, tf exchange → token
    window → doc window, no join beyond the 1-row broadcast."""
    from .functions.text import tokens as _tokens

    base = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens("text").alias("t")
    )
    toks = base.select("doc_id", F.explode("t").alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "score", F.col("rn").cast("long").alias("rn"))
    )


# ---------------------------------------------------------------------
# E110: deterministic train/val/test split
# ---------------------------------------------------------------------

_SPLIT_SEED = 11


@query(
    "train_val_test_split_documents",
    since=5,
    sql=f"""
    WITH g AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substring(md5('{_SPLIT_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) AS u
      FROM documents
    ),
    tagged AS (
      SELECT doc_id, lang,
             CASE WHEN CAST(u AS DOUBLE) < {0.8 * 2.0**32!r} THEN 'train'
                  WHEN CAST(u AS DOUBLE) < {0.9 * 2.0**32!r} THEN 'val'
                  ELSE 'test' END AS split
      FROM g
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM tagged GROUP BY 1, 2
    """,
)
def train_val_test_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment via the same
    content-hash gate as stratified sampling (E30): u32(md5(seed|id))
    against fixed thresholds — reproducible on any partitioning, no
    rand(), stable across reruns/engines, and a document can never
    migrate between splits when the corpus grows (the property that
    matters for eval integrity). Output is the per-(split, lang)
    manifest. Pure narrow map + one small agg."""
    u = F.conv(F.substring(F.md5(F.concat(F.lit(f"{_SPLIT_SEED}|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double")
    split = (
        F.when(u < F.lit(0.8 * 2.0**32), F.lit("train"))
        .when(u < F.lit(0.9 * 2.0**32), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------
# E111: trimmed mean per group (scalable, exact)
# ---------------------------------------------------------------------


# RETIRED (round 14, the r13-verdict cadence re-plan): the E77
# two-phase histogram rank this rides is driver-gated by
# ``percentiles_by_segment_scalable`` (in this round's mandatory
# window) and ``rfm_segmentation_customers`` (green r13); the robust-
# stats finish (integer rank trim gate + cents-exact sum) is the
# ``mad_outliers_events`` family (green r13). The rank-gate-vs-
# sorted-slice property stays pinned in tests/test_properties.py and
# the partition-invariance sweep on this undecorated function.
def trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of event value per type — the robust-mean
    aggregate, computed scalably: ranks come from the E77 two-phase
    histogram rank (operators/rank.py — every sort bounded by a
    256th-bucket cell, no full-partition window sort), the trim gate
    is integer rank arithmetic, and the kept values sum exactly in
    cents. The oracle runs the textbook single-window form; both
    trim exactly floor(n/20) rows per tail."""
    from .operators.rank import two_phase_rank

    c = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    ranked = two_phase_rank(
        c, ["event_type"], "value", ["event_id"], lo=0.0, hi=1000.0
    )
    kept = ranked.filter(
        (F.col("rn") > F.floor(F.col("n_part") / 20))
        & (F.col("rn") <= F.col("n_part") - F.floor(F.col("n_part") / 20))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum(F.col("y").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(100.0)
        ).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------
# E112: quantile normalization (exact uniform transform)
# ---------------------------------------------------------------------


# RETIRED (round 14, the r13-verdict cadence re-plan): the rank
# machinery is the same driver-gated E77 two-phase rank
# (``percentiles_by_segment_scalable``, in this round's mandatory
# window; ``rfm_segmentation_customers`` green r13); the
# (2·rank−1)/2n projection is a trivial narrow finish pinned against
# a sorted-rank brute force in tests/test_properties_events.py and
# kept under the partition-invariance sweep on this undecorated
# function.
def quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile normalization of event values within each type:
    q = (2·rank − 1) / (2n) maps values onto a uniform (0,1) grid —
    the feature-scaling transform that makes heterogeneous metrics
    comparable. Ranks via the E77 two-phase histogram rank: the
    full-table window the oracle runs is exactly what this plan
    avoids — no partition-wide sort, every in-bucket sort bounded by
    a 256th of the range."""
    from .operators.rank import two_phase_rank

    c = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ranked = two_phase_rank(
        c, ["event_type"], "value", ["event_id"], lo=0.0, hi=1000.0
    )
    return ranked.select(
        "event_id",
        "event_type",
        (
            (F.lit(2.0) * F.col("rn").cast("double") - F.lit(1.0))
            / (F.lit(2.0) * F.col("n_part").cast("double"))
        ).alias("q"),
    )


# ---------------------------------------------------------------------
# E114: table statistics collection (ANALYZE equivalent)
# ---------------------------------------------------------------------


@query(
    "column_stats_lineitem",
    since=5,
    sql="""
    SELECT 'l_quantity' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS ndv,
           CAST(round(MIN(l_quantity) * 100) AS BIGINT) AS min_cents,
           CAST(round(MAX(l_quantity) * 100) AS BIGINT) AS max_cents
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_extendedprice IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           CAST(round(MIN(l_extendedprice) * 100) AS BIGINT),
           CAST(round(MAX(l_extendedprice) * 100) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE l_discount IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           CAST(round(MIN(l_discount) * 100) AS BIGINT),
           CAST(round(MAX(l_discount) * 100) AS BIGINT)
    FROM lineitem
    """,
)
def column_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style column statistics (row count, nulls, NDV,
    cents-exact min/max) for the numeric lineitem columns — the
    stats a cost-based optimizer and a data catalog both feed on.
    ONE pass over the fact table computes every column's aggregates
    side by side (count_distinct expands internally, but the scan is
    shared); the per-column rows explode from the single stats row —
    no per-column rescan, which is the difference between ANALYZE
    costing one pass and costing |columns| passes at 100 TB."""
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count_if(F.col(c).isNull()).alias(f"null_{c}"),
            F.count_distinct(F.col(c)).alias(f"ndv_{c}"),
            F.round(F.min(c) * 100).cast("long").alias(f"min_{c}"),
            F.round(F.max(c) * 100).cast("long").alias(f"max_{c}"),
        ]
    m = table(spark, sf_dir, "lineitem").agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("col"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(f"null_{c}").cast("long").alias("n_null"),
            F.col(f"ndv_{c}").cast("long").alias("ndv"),
            F.col(f"min_{c}").alias("min_cents"),
            F.col(f"max_{c}").alias("max_cents"),
        )
        for c in cols
    ]
    return m.select(F.explode(F.array(*entries)).alias("r")).select("r.*")


# ---------------------------------------------------------------------
# E115: Z-order clustering key (multi-dimensional data layout)
# ---------------------------------------------------------------------


# RETIRED (round 14, the r13-verdict cadence re-plan): the Morton
# key is a pure narrow integer expression whose production consumer —
# the txlog layout rewrite ``TxTable.compact(layout_key=...)`` — is
# driver-gated by ``txlog_time_travel_orders`` (rotated into this
# round's window through the SQL front door); the interleave
# arithmetic stays pinned against a Python bit-interleave in
# tests/test_properties_events.py and the both-dimensions file-
# skipping claim in tests/test_txlog.py. The function stays
# (undecorated) for test reuse and the record.
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user, hour) — the
    multi-dimensional layout key Delta's OPTIMIZE ZORDER BY computes:
    writing files sorted by ``zkey`` makes min/max footer stats
    selective for range predicates on EITHER dimension, turning
    two-column point/range scans into file-skipping scans. The
    interleave is a pure integer expression (16 bits per dimension,
    shifts and masks — whole-stage codegen, no UDF) shared with the
    txlog layout rewrite (operators/zorder.py `morton_key`;
    `TxTable.compact(layout_key=...)` over the key is the OPTIMIZE
    ZORDER maintenance job, pinned in tests/test_txlog.py) — this
    query oracles the key computation the data skipping depends
    on."""
    from .operators.zorder import morton_key

    c = table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 65536).alias("ua"),
        (F.floor(F.unix_millis("ts") / 3600000) % 65536).alias("hb"),
    )
    return c.select(
        "event_id", "ua", "hb", morton_key(F.col("ua"), F.col("hb")).alias("zkey")
    )


@query(
    "chisq_event_value_independence",
    sql="""
    WITH o AS (
      SELECT event_type, CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS hi,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
    ct AS (SELECT hi, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS grand FROM o),
    e AS (
      SELECT o.event_type, o.hi, obs,
             CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(grand AS DOUBLE)
               AS expect
      FROM o JOIN rt USING (event_type) JOIN ct USING (hi), n
    )
    SELECT event_type, CAST(hi AS BIGINT) AS hi, obs, expect,
           (CAST(obs AS DOUBLE) - expect) * (CAST(obs AS DOUBLE) - expect) / expect
             AS chisq_term
    FROM e
    """,
    since=5,
)
def chisq_event_value_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency analysis — is event type independent of
    high/low value? Observed cell counts vs the independence
    expectation (row·col/N), one χ² term per cell (the analyst sums
    them against the critical value; emitting per-cell terms keeps
    every intermediate under the hash gate). All inputs are integer
    counts, so the double expectation/term expressions are
    deterministic on both engines.

    100 TB shape: ONE pass builds the contingency cells (map-side
    combined, |types|×2 rows); margins and the grand total derive
    from the tiny cell frame and join back broadcast-sized. The fact
    table is read once."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("hi")
    )
    o = ev.groupBy("event_type", "hi").agg(F.count(F.lit(1)).alias("obs"))
    from .tables import memo_persist

    o = memo_persist(o, "chisq_cells")
    rt = o.groupBy("event_type").agg(F.sum("obs").cast("long").alias("row_tot"))
    ct = o.groupBy("hi").agg(F.sum("obs").cast("long").alias("col_tot"))
    n = o.agg(F.sum("obs").cast("long").alias("grand"))
    e = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hi")
        .crossJoin(F.broadcast(n))
    )
    obs_d = F.col("obs").cast("double")
    expect = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand").cast("double")
    )
    return e.select(
        "event_type",
        F.col("hi").cast("long").alias("hi"),
        F.col("obs").cast("long").alias("obs"),
        expect.alias("expect"),
        ((obs_d - expect) * (obs_d - expect) / expect).alias("chisq_term"),
    )


@query(
    "interval_coverage_users",
    sql="""
    WITH iv AS (
      SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 300000 AS e,
             event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN s > coalesce(MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id,
             MIN(s) AS island_start, MAX(e) AS island_end
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_ms
    FROM merged GROUP BY user_id
    """,
    since=5,
)
def interval_coverage_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage — each event opens a 5-minute activity
    window; overlapping windows per user merge into islands, and the
    user's covered time is the exact union length (the dedup-aware
    'active minutes' metric; naive per-event summing double-counts
    overlaps). Island detection is the running-max-of-end trick: a
    window starts a new island iff it begins after every earlier
    window has closed. All arithmetic is epoch-ms integers — exact.

    Scale shape: every window partitions on high-cardinality user_id
    (each sort is one user's events) and the island reduction keys on
    (user, island) with map-side combine — same contract as
    sessionize/event_type_runs, pinned by their plan tests."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + F.lit(300000)).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # same TOTAL order (s, event_id) as the flag window: an (s, e)
    # order leaves same-timestamp rows in arbitrary relative order,
    # which would let the running island sum differ across engines
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).cast("long").alias("covered_ms"),
    )


# RETIRED (round 13, the r12-verdict cadence re-plan): LAG-based
# event-time deltas on the (user, ts, event_id) total order are
# driver-gated by ``sessionize_events`` and ``debounce_events`` (both
# greener than this row); the integer moment sums finished by one
# double division are the ``column_stats_lineitem`` shape (in this
# round's window). The function stays (undecorated) for the
# brute-force property test in tests/test_properties_events.py, the
# partition-invariance sweep, and the record.
def interarrival_stats_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: mean gap and the squared
    coefficient of variation CV² = (n·Σg² − (Σg)²)/(Σg)² — CV² ≈ 1
    is Poisson-random, ≫ 1 is bursty (bot/session behavior). The
    whole statistic is integer epoch-ms sums finished by one double
    division, so it is exact under any partitioning. The LAG window
    partitions on high-cardinality user_id with the (ts, event_id)
    total order; gap sums combine map-side."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = ev.select("user_id", (F.col("t") - F.lag("t").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    # gap² overflows int64 (gaps span months in ms) — products run in
    # DECIMAL(19,0)², summed exactly, finished in double on both sides
    agg = g.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(38,0)")).cast("double").alias("sg"),
        F.sum(F.col("gap").cast("decimal(19,0)") * F.col("gap").cast("decimal(19,0)"))
        .cast("double")
        .alias("sg2"),
    )
    return agg.filter(F.col("sg") > 0).select(
        "user_id",
        "n_gaps",
        (F.col("sg") / F.col("n_gaps")).alias("mean_gap_ms"),
        (
            (F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg"))
            / (F.col("sg") * F.col("sg"))
        ).alias("cv2"),
    )


#: Benford expected first-digit shares log10(1+1/d), d=1..9 — emitted
#: as shortest-roundtrip literals so both engines parse the identical
#: doubles (no runtime log10, whose libm rounding differs by engine)
_BENFORD = {
    1: 0.30102999566398114, 2: 0.17609125905568124, 3: 0.12493873660829985,
    4: 0.09691001300805638, 5: 0.07918124604762478, 6: 0.06694678963061318,
    7: 0.05799194697768658, 8: 0.05115252244738127, 9: 0.04575749056067514,
}


# RETIRED (round 13, the r12-verdict cadence re-plan): the
# observed-vs-expected distribution comparison (tiny expected table
# broadcast against a map-side-combined count) is driver-gated by
# ``chisq_event_value_independence`` (in this round's window); the
# cents-integer digit extraction is the q1 cents idiom plus string
# functions gated across the text family. The _BENFORD literals and
# this undecorated function stay for the partition-invariance test
# and the record.
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the classic fraud /
    synthetic-data forensic: observed first-significant-digit shares
    against log₁₀(1+1/d). The expected shares are shipped as
    shortest-roundtrip double LITERALS (runtime log10 would differ by
    a ulp between libms); the digit comes from the cents-integer's
    decimal string, identical in both engines. One scan, a 9-key
    map-side-combined count, totals broadcast."""
    digits = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    c = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    e = spark.createDataFrame(
        [(k, v) for k, v in _BENFORD.items()], "digit long, expected double"
    )
    obs = F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
    return (
        e.join(c, "digit", "left_outer")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            obs.alias("observed"),
            "expected",
            F.abs(obs - F.col("expected")).alias("deviation"),
        )
    )


@query(
    "locf_carry_forward_events",
    sql="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
    since=5,
)
def locf_carry_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward — the IGNORE NULLS window
    semantic: every event carries the most recent purchase value of
    its user (NULL until the first purchase), the standard sparse-
    metric densification (sensor readings, last known price, feature
    staleness). One window partitioned on high-cardinality user_id
    with the (ts, event_id) total order; the value itself is the
    fixture double, carried verbatim — no arithmetic to diverge."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.last(purchase_val, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query(
    "event_diversity_users",
    sql="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c * c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) * SUM(c)) AS hhi,
           1.0 - CAST(SUM(c * c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) * SUM(c))
             AS gini_diversity
    FROM c GROUP BY user_id
    """,
    since=5,
)
def event_diversity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user — Herfindahl concentration
    HHI = Σcᵢ²/n² and its Gini-impurity complement (1 at maximal
    concentration / 0-ish at uniform use): the log-free diversity
    metric (Shannon entropy's libm would hash-diverge; HHI ranks the
    same concentration ordering). Integer Σc² over per-(user, type)
    counts — exact under any partitioning — finished by one double
    division. Two map-side-combined aggregations keyed on
    high-cardinality (user, type) then user."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c"))
        ).alias("hhi"),
        (
            F.lit(1.0)
            - F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c"))
        ).alias("gini_diversity"),
    )


@query(
    "impute_group_median_events",
    sql="""
    WITH base AS (
      SELECT event_id, event_type,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT event_type, MEDIAN(v) AS m FROM base WHERE v IS NOT NULL GROUP BY 1
    ),
    filled AS (
      SELECT base.event_type, coalesce(v, m) AS v, (v IS NULL) AS was_null
      FROM base LEFT JOIN med ON base.event_type = med.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN was_null THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           CAST(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS value_sum
    FROM filled GROUP BY event_type
    """,
    since=5,
)
def impute_group_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by group median — the standard
    numeric data-prep pass: 'error' events' values are treated as
    missing (the fixtures carry no real nulls) and filled with their
    type's EXACT median of observed values; output proves the fill
    end-to-end (imputed count + decimal-exact post-fill sum per
    type). The median is the same interpolating exact median as the
    reference's binned aggregation (SURVEY §2.4, A3) — percentile_
    approx would not hash-match.

    Scale shape: medians reduce per type (map-side) and join back
    BROADCAST at |types| rows; the fact table never shuffles. Exact
    median forces the object-hash agg on the small per-type frame
    only — the acknowledged A3 trade (SURVEY §4)."""
    base = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    med = (
        base.filter(F.col("v").isNotNull())
        .groupBy(F.col("event_type").alias("met"))
        .agg(F.median("v").alias("m"))
    )
    filled = base.join(
        F.broadcast(med), base.event_type == med.met, "left_outer"
    ).select(
        "event_type",
        F.coalesce("v", "m").alias("v"),
        F.col("v").isNull().alias("was_null"),
    )
    from .functions.exact import exact_sum

    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("was_null"), 1).otherwise(0)).cast("long").alias("n_imputed"),
        exact_sum("v").alias("value_sum"),
    )


@query(
    "hourly_peaks_events",
    sql="""
    WITH h AS (
      SELECT event_type, epoch_ms(ts) // 3600000 AS hour_bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, hour_bucket, n,
             lag(n)  OVER (PARTITION BY event_type ORDER BY hour_bucket) AS prev_n,
             lead(n) OVER (PARTITION BY event_type ORDER BY hour_bucket) AS next_n
      FROM h
    )
    SELECT event_type, CAST(hour_bucket AS BIGINT) AS hour_bucket, n, prev_n, next_n
    FROM w
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    """,
    since=5,
)
def hourly_peaks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum (peak) detection over the hourly series — the
    LAG+LEAD window pair: an hour is a peak when it strictly exceeds
    both neighbors (boundary hours excluded; plateaus are not peaks).
    The alerting primitive under every 'traffic spike' monitor.

    Scale shape: the raw scan reduces FIRST to the (type, hour) grain
    — map-side combined — and the neighbor windows run on that
    aggregate-sized frame, partitioned per type with sorts bounded by
    one type's hours. Integer counts throughout."""
    h = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_millis("ts") / F.lit(3600000)).alias("hour_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_bucket")
    hw = h.select(
        "event_type",
        F.col("hour_bucket").cast("long").alias("hour_bucket"),
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return hw.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    )
