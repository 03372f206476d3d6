"""Text-analysis + deduplication queries over the ``documents`` table.

Extension surface (north star): every operator here is an entry a
100 TB training-data pipeline needs — exact dedup, MinHash-LSH,
SimHash, blocked n-gram Jaccard, language ID, quality scoring — each
with a DuckDB oracle that mirrors the Spark plan *construction for
construction* (same hashes, same folds, same casts), so the driver's
hash gate is a hard check of the whole pipeline including the LSH
bucketing.

The fixture corpus has 500 unique documents, so dedup queries build
a deterministic corpus-with-planted-duplicates first (UNION ALL with
offset ids / perturbed text) — both engines build it from the same
expression, and the plant is what makes the checks non-vacuous.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .operators.dedup import (
    blocked_jaccard_pairs,
    exact_dedup_summary,
    minhash_dedup_pairs,
    simhash_near_pairs,
)
from .queries import query
from .tables import table

# ---------------------------------------------------------------------
# SQL mirror helpers (DuckDB list-function dialect)
# ---------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"

# DuckDB mirror of operators.dedup.shingle_set — canonical home is
# functions/text.py so sibling query modules can import it without a
# circular import through this module.
_sql_shingles = T.sql_shingles


def _sql_jaccard(a: str, b: str) -> str:
    inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
    union = f"(len({a}) + len({b}) - {inter})"
    return f"CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE)"


# =====================================================================
# text statistics / language id / quality
# =====================================================================


@query(
    "text_stats_documents",
    sql=f"""
    SELECT doc_id,
           {T.sql_token_count("text")} AS n_tokens,
           CAST(length({T.sql_normalize_text("text")}) AS BIGINT) AS n_chars_norm,
           {T.sql_fingerprint("text")} AS fingerprint,
           {T.sql_char_fingerprint("text")} AS char_fp,
           {T.sql_lang_id("text")} AS lang_pred,
           CAST({T.sql_stopword_count("text", "en")} AS DOUBLE)
             / CAST(greatest({T.sql_token_count("text")}, 1) AS DOUBLE) AS en_stop_ratio,
           {T.sql_non_alnum_ratio("text")} AS non_alnum_ratio,
           CAST({T.sql_quality_flags("text")["n_tokens_ok"]} AS INT)
             + CAST({T.sql_quality_flags("text")["tok_len_ok"]} AS INT)
             + CAST({T.sql_quality_flags("text")["symbols_ok"]} AS INT) AS quality_score
    FROM documents
    """,
    headline=True,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token/char counts, whole-text and
    char-shingle (winnowing-style) fingerprints, stopword-heuristic
    language ID, and a 0-3 quality score (count of passed
    Gopher-style rule flags). All JVM-side expressions — one narrow
    projection, no shuffle."""
    from .tables import spread

    d = spread(table(spark, sf_dir, "documents"))
    flags = T.quality_flags("text")
    quality = sum(f.cast("int") for f in flags.values())
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.length(T.normalize_text("text")).cast("long").alias("n_chars_norm"),
        T.fingerprint("text").alias("fingerprint"),
        T.char_fingerprint("text").alias("char_fp"),
        T.lang_id("text").alias("lang_pred"),
        (
            T.stopword_count("text", "en").cast("double")
            / F.greatest(T.token_count("text"), F.lit(1)).cast("double")
        ).alias("en_stop_ratio"),
        T.non_alnum_ratio("text").alias("non_alnum_ratio"),
        quality.alias("quality_score"),
    )


@query(
    "text_quality_by_lang",
    sql=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({T.sql_token_count("text")}) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST({T.sql_quality_flags("text")["tok_len_ok"]} AS INT)) AS BIGINT)
             AS n_tok_len_ok,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality rollup per labeled language — the
    monitoring aggregate a data pipeline emits per shard. Integer
    sums (order-insensitive), one shuffle on the 5-value lang key
    with map-side partial aggregation."""
    d = table(spark, sf_dir, "documents")
    flags = T.quality_flags("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count("text")).alias("total_tokens"),
        F.sum(flags["tok_len_ok"].cast("int")).cast("long").alias("n_tok_len_ok"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "repetition_stats_documents",
    sql=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM.format(c="text")}, ' ') AS t FROM documents
    ),
    toks AS (SELECT doc_id, unnest(t) AS tok FROM base),
    per_tok AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    tstats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_cnt,
             CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN c ELSE 0 END)
                  AS BIGINT) AS n_alpha
      FROM per_tok GROUP BY 1
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM base
    ),
    per_big AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY 1, 2),
    bstats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS d_bigrams
      FROM per_big GROUP BY 1
    )
    SELECT t.doc_id,
           t.n_tokens,
           1.0 - CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
             AS dup_token_frac,
           CAST(t.top_cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
             AS top_token_frac,
           coalesce(1.0 - CAST(b.d_bigrams AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE),
                    0.0) AS dup_bigram_frac,
           CAST(t.n_alpha AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS alpha_frac,
           (1.0 - CAST(t.n_distinct AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) <= 0.80
             AND (CAST(t.top_cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) <= 0.20
             AND coalesce(1.0 - CAST(b.d_bigrams AS DOUBLE)
                                / CAST(b.n_bigrams AS DOUBLE), 0.0) <= 0.40
             AND (CAST(t.n_alpha AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)) >= 0.80
             AS passes_quality
    FROM tstats t LEFT JOIN bstats b ON t.doc_id = b.doc_id
    """,
    headline=True,
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition heuristics per document: duplicate
    token/bigram mass, most-common-token frequency, alphabetic-token
    fraction, and the conjunctive quality gate. Scale-safe shape —
    explode → (doc, token) partial-agg → per-doc stats (see
    operators/repetition.py docstring for the design argument)."""
    from .operators.repetition import repetition_stats

    from .tables import spread

    return repetition_stats(spread(table(spark, sf_dir, "documents")), "doc_id", "text")


@query(
    "top_terms_per_lang",
    sql=f"""
    WITH base AS (
      SELECT doc_id, lang, string_split({_NORM.format(c="text")}, ' ') AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, lang, unnest(t) AS token FROM base),
    tf AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM toks GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT lang, token, tf, doc_freq,
             CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)
               AS idf_score
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT lang, token, tf, doc_freq, idf_score, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY idf_score DESC, token
      ) AS rn FROM scored
    ) WHERE rn <= 10
    """,
    headline=True,
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per language: linear-idf-weighted term
    frequency (tf·N/df — transcendental-free on purpose: ln() is not
    bit-identical across engines, rational arithmetic is), exact
    top-10 per lang via the two-phase salted top-k.

    Single-pass shape: every doc carries exactly one lang, so doc
    frequency per token is the sum over langs of per-(lang, token)
    distinct-doc counts — both tf and df derive from ONE aggregation
    of the exploded stream at (lang, token, doc_id) grain. The big
    stream is shuffled once (map-side partial agg collapses
    within-doc repeats before the exchange), df materializes as a
    window-sum over ``token`` at vocab grain, and the whole plan is a
    LINEAR chain — one corpus scan, no shared subtree for Catalyst to
    recompute. Replaces the round-7 two-consumer design (checkpointed
    token stream + a second full-stream ``distinct`` shuffle for df)
    — at 100 TB that was an extra corpus-sized write plus an extra
    corpus-sized exchange."""
    from .operators.topk import grouped_topk

    from .tables import spread

    toks = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("token")
    )
    per_doc = toks.groupBy("lang", "token", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    tf = per_doc.groupBy("lang", "token").agg(
        F.sum("c").alias("tf"), F.count(F.lit(1)).alias("df_part")
    )
    # token-partitioned window: vocab-grain rows only, one exchange
    tf = tf.withColumn(
        "doc_freq", F.sum("df_part").over(Window.partitionBy("token"))
    )
    # corpus size off the raw table scan (metadata-cheap, no tokenize)
    n = table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.crossJoin(F.broadcast(n))
        .withColumn(
            "idf_score",
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("doc_freq").cast("double"),
        )
    )
    top = grouped_topk(
        scored,
        ["lang"],
        [F.col("idf_score").desc(), F.col("token")],
        10,
        salt_col=F.hash("token"),
    )
    return top.select("lang", "token", "tf", "doc_freq", "idf_score", "rn")


@query(
    "contamination_check_documents",
    sql=f"""
    WITH probe AS (
      SELECT doc_id AS probe_id, {_sql_shingles("text", 3)} AS psh
      FROM documents WHERE doc_id % 50 = 0
    ),
    probe_grams AS (SELECT probe_id, unnest(psh) AS gram FROM probe),
    corpus AS (
      SELECT doc_id, unnest({_sql_shingles("text", 3)}) AS gram
      FROM documents
    ),
    hits AS (
      SELECT c.doc_id, p.probe_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN probe_grams p USING (gram)
      WHERE c.doc_id <> p.probe_id
      GROUP BY 1, 2
    )
    SELECT doc_id, probe_id, n_shared
    FROM hits WHERE n_shared >= 2
    """,
    headline=True,
)
def contamination_check_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination sweep: flag corpus documents sharing ≥2
    distinct word-3-grams with any probe (benchmark) document — the
    n-gram-overlap decontamination pass every training pipeline runs
    before an eval. The probe set (every 50th doc as a stand-in
    benchmark) is tiny by construction, so its exploded grams are
    **broadcast**: the corpus scan joins in place, no corpus shuffle;
    the only aggregation keys on the (corpus-doc, probe-doc) hit
    pairs. At 100 TB this is exactly the published shape (map-side
    gram join against a distributed eval-gram set).

    The shingle frame is persisted via the single-slot memo: without
    the materialization boundary, InferFiltersFromGenerate turns each
    explode into a ``size(__sh) > 0`` filter whose pushdown re-inlines
    the whole shingle transform BELOW the parallelizing repartition —
    computing shingles twice per row, once on the unparallelized scan
    side (measured 1.34× the accepted floor in round 4). The persist
    computes them once, post-repartition; at 100 TB the memo's durable
    form is a parquet write of the same frame."""
    from .operators.dedup import shingle_set

    from .tables import memo_persist, spread

    d = memo_persist(
        spread(table(spark, sf_dir, "documents")).select(
            "doc_id", shingle_set("text", 3).alias("__sh")
        ),
        "contamination_shingles",
    )
    probe = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("probe_id"), F.explode("__sh").alias("gram"))
    )
    corpus = d.select("doc_id", F.explode("__sh").alias("gram"))
    hits = (
        corpus.join(F.broadcast(probe), "gram")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("doc_id", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return hits.select("doc_id", "probe_id", "n_shared")


# =====================================================================
# deterministic sampling / sharding
# =====================================================================

_SAMPLE_SEED = 7
_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "fr": 0.3}
_SAMPLE_DEFAULT = 0.1
_N_SHARDS = 8


def _sql_u32(key: str, seed: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5('{seed}|' || {key}), 1, 8)) AS UBIGINT)"
    )


def _sql_sample_threshold() -> str:
    whens = " ".join(
        f"WHEN '{v}' THEN {r * 2.0**32!r}" for v, r in sorted(_SAMPLE_RATES.items())
    )
    return f"CASE lang {whens} ELSE {_SAMPLE_DEFAULT * 2.0**32!r} END"


@query(
    "sample_stratified_documents",
    sql=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST({_sql_u32("CAST(doc_id AS VARCHAR)", _SAMPLE_SEED)} AS DOUBLE)
          < {_sql_sample_threshold()}
    """,
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates via
    a content-hash gate (u32(md5(seed|doc_id)) < rate·2³²) — the
    reproducible corpus-rebalancing pass. Pure narrow filter: no
    shuffle, no rand(), identical result on any partitioning or
    engine (operators/sampling.py)."""
    from .operators.sampling import deterministic_sample

    return deterministic_sample(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        "doc_id",
        _SAMPLE_RATES,
        seed=_SAMPLE_SEED,
        strata_col="lang",
        default_rate=_SAMPLE_DEFAULT,
    )


@query(
    "shard_assignment_documents",
    sql=f"""
    SELECT CAST({_sql_u32("CAST(doc_id AS VARCHAR)", 0)} % {_N_SHARDS} AS INT)
             AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def shard_assignment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment (hash mod N) + per-shard
    balance summary — the fixed-count training-shard writer's
    partitioner, checked for uniformity. One shuffle on the N-value
    shard key with map-side partial aggregation."""
    from .operators.sampling import shard_assign

    d = shard_assign(
        table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
        _N_SHARDS,
    )
    return d.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_SHUF_SEED = 42
_SHUF_SHARD_SIZE = 64


@query(
    "global_shuffle_documents",
    sql=f"""
    SELECT doc_id,
           CAST(rn1 - 1 AS BIGINT) AS rn,
           CAST((rn1 - 1) // {_SHUF_SHARD_SIZE} AS INT) AS shard_id,
           CAST((rn1 - 1) % {_SHUF_SHARD_SIZE} AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5('gshuf{_SHUF_SEED}|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn1
      FROM documents
    ) t
    """,
)
def global_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle → contiguous training shards:
    position = rank in the md5-of-id total order; shards are
    contiguous 64-row slices, so any shard prefix is an unbiased
    corpus sample. The Spark plan is the two-phase scalable global
    row-number (256 hash-prefix buckets → cumulative offsets →
    parallel within-bucket ranks, operators/sampling.py) — bit-equal
    to the naive single-task ORDER BY the oracle runs, which is the
    point: the hash gate proves the distributed rank IS the global
    rank."""
    from .operators.sampling import global_shuffle_positions

    return global_shuffle_positions(
        table(spark, sf_dir, "documents").select("doc_id"),
        "doc_id",
        _SHUF_SHARD_SIZE,
        seed=_SHUF_SEED,
    )


# =====================================================================
# deduplication
# =====================================================================


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 3rd doc (offset ids) — the
    deterministic planted-duplicate corpus for exact dedup.

    No ``spread`` here, deliberately: exact dedup's per-row work is
    one normalize+md5 — far cheaper than the full-text repartition
    spread pays for (measured 1.40s → 0.49s at sf0.1 dropping it).
    spread stays where per-row work is shingle-heavy (MinHash/
    SimHash/Jaccard corpora); on a real multi-file corpus it is a
    no-op either way."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


_SQL_EXACT_CORPUS = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
"""


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate copies of docs 0-99 (one appended
    token, offset ids, same source) — planted near-dups for the
    MinHash / SimHash / Jaccard pipelines."""
    from .tables import spread

    # ONE spread over the union (round 15): spreading the base table
    # first put a RoundRobin exchange in BOTH union branches (two
    # row-moves + local sorts) and a third stacked one downstream in
    # the signature builders — the union of the raw scans followed by
    # a single repartition is the same corpus with one exchange.
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    near = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
    )
    return spread(d.unionByName(near))


_SQL_NEAR_CORPUS = """
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, source, text || ' zz9' AS text
        FROM documents WHERE doc_id < 100
"""


@query(
    "dedup_exact_documents",
    sql=f"""
    WITH corpus AS ({_SQL_EXACT_CORPUS})
    SELECT md5({_NORM.format(c="text")}) AS text_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keep_id
    FROM corpus GROUP BY 1
    """,
    headline=True,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication summary over the planted corpus: one row
    per distinct normalized text with copy count + representative id.
    Single shuffle on the text hash; output = distinct docs."""
    return exact_dedup_summary(_exact_corpus(spark, sf_dir), "text", "doc_id")


def _sql_minhash_ctes(num_hashes: int = 16, bands: int = 4, threshold: float = 0.6) -> str:
    """DuckDB CTE block mirroring operators.dedup.minhash_dedup_pairs
    on the planted near-dup corpus — same 32-bit base hash per
    shingle, same multiply-mod MinHash family, same polynomial band
    hashes, same bucket join, same Jaccard verify. Ends with a
    ``pairs`` CTE so downstream oracles (the pair query itself, the
    connected-components clustering) can build on it."""
    from .operators.dedup import MINHASH_P, _mh_coeffs

    r = num_hashes // bands
    mins = []
    for i in range(num_hashes):
        a, b = _mh_coeffs(i)
        mins.append(
            f"list_min(list_transform(h32, h -> ({a} * h + {b}) % {MINHASH_P})) AS m{i}"
        )
    band_exprs = []
    for j in range(bands):
        bh = f"m{j * r}"
        for i in range(j * r + 1, (j + 1) * r):
            bh = f"({bh} * 31 + m{i})"
        band_exprs.append(bh)
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {j} AS band_id, {band_exprs[j]} AS bh FROM sig"
        for j in range(bands)
    )
    mins_sql = ",\n           ".join(mins)
    return f"""corpus AS ({_SQL_NEAR_CORPUS}),
    sh AS (
      SELECT doc_id, {_sql_shingles("text")} AS sh FROM corpus
    ),
    sh32 AS (
      SELECT doc_id, sh,
             list_transform(sh, x ->
               CAST(CAST(concat('0x', substring(md5(x), 1, 8)) AS UBIGINT) AS BIGINT)) AS h32
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
           {mins_sql}
      FROM sh32
    ),
    bands AS (
{band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b, {_sql_jaccard("sa.sh", "sb.sh")} AS jaccard
      FROM cand
      JOIN sh sa ON cand.id_a = sa.doc_id
      JOIN sh sb ON cand.id_b = sb.doc_id
      WHERE {_sql_jaccard("sa.sh", "sb.sh")} >= {threshold}
    )"""


def _sql_minhash_pairs(num_hashes: int = 16, bands: int = 4, threshold: float = 0.6) -> str:
    return f"""
    WITH {_sql_minhash_ctes(num_hashes, bands, threshold)}
    SELECT id_a, id_b, jaccard FROM pairs
    """


@query("dedup_minhash_documents", sql=_sql_minhash_pairs(), headline=True)
def dedup_minhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate detection over the planted corpus:
    16 seeded-md5 MinHashes over word-3-shingles, 4 bands × 4 rows,
    bucket join on (band, band-hash), exact-Jaccard verify ≥ 0.6.
    Never compares all pairs — the shuffle keys on band hashes."""
    return minhash_dedup_pairs(
        _near_corpus(spark, sf_dir), "doc_id", "text", threshold=0.6, num_hashes=16, bands=4
    )


@query(
    "dedup_cluster_documents",
    sql=f"""
    WITH RECURSIVE {_sql_minhash_ctes()},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(v, lbl) AS (
      SELECT doc_id AS v, doc_id AS lbl FROM corpus
      UNION
      SELECT e.dst AS v, r.lbl FROM reach r JOIN edges e ON e.src = r.v
    ),
    lab AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY v)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS keep
    FROM lab
    """,
)
def dedup_cluster_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup endgame: MinHash-verified near-dup PAIRS are
    transitive, so they must collapse into clusters (A~B, B~C ⇒ one
    cluster {A,B,C}) with one kept representative — the connected-
    components pass every published dedup pipeline (RefinedWeb,
    SlimPajama, Dolma) runs after LSH. Iterative min-label
    propagation on DataFrames (operators/graph.py): one edges⋈labels
    shuffle + one min-agg per round, converging in cluster-diameter
    rounds (2-3 for dup graphs). The oracle replays the clustering
    as a recursive CTE over the SAME pair table, so the hash gate
    covers the transitive closure itself. Output per corpus doc:
    (doc_id, cluster_id = min member id, cluster_size, keep)."""
    from .operators.graph import dup_clusters

    corpus = _near_corpus(spark, sf_dir)
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.6, num_hashes=16, bands=4
    )
    return dup_clusters(corpus, "doc_id", pairs)


def _sql_simhash_word(digit_base: int) -> str:
    """One 32-bit SimHash word from md5 hex digits
    ``digit_base..digit_base+7`` — mirrors operators.dedup.simhash64's
    ``word`` fold (same digit arithmetic, same >0 sign rule)."""
    hexs = "0123456789abcdef"
    bit_terms = " + ".join(
        f"""CASE WHEN list_sum(list_transform(th, h ->
          (CAST(floor((instr('{hexs}', substring(h, {digit_base + b // 4}, 1)) - 1) / {2 ** (b % 4)}) AS BIGINT) % 2) * 2 - 1
        )) > 0 THEN {2**b} ELSE 0 END"""
        for b in range(32)
    )
    return f"CAST({bit_terms} AS BIGINT)"


def _sql_simhash_pairs(max_hamming: int = 3) -> str:
    band_exprs = [
        "CAST(floor(s0 / 65536) AS BIGINT)",
        "CAST(s0 % 65536 AS BIGINT)",
        "CAST(floor(s1 / 65536) AS BIGINT)",
        "CAST(s1 % 65536 AS BIGINT)",
    ]
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, s0, s1, {j} AS band_id, {bv} AS bv FROM sig"
        for j, bv in enumerate(band_exprs)
    )
    ham = "(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)))"
    return f"""
    WITH corpus AS ({_SQL_NEAR_CORPUS}),
    th AS (
      SELECT doc_id,
             list_transform(string_split({_NORM.format(c="text")}, ' '), h -> md5(h)) AS th
      FROM corpus
    ),
    sig AS (
      SELECT doc_id, {_sql_simhash_word(1)} AS s0, {_sql_simhash_word(9)} AS s1 FROM th
    ),
    banded AS (
{band_rows}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    """


@query("dedup_simhash_documents", sql=_sql_simhash_pairs(), headline=True, since=17)
def dedup_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the planted corpus: 64-bit
    frequency-weighted signatures (two 32-bit words), 16-bit-chunk
    bands (pigeonhole for Hamming ≤ 3, 65 536 keys per band — the
    Manku-et-al scale shape), XOR-popcount verify. All built-in
    expressions."""
    return simhash_near_pairs(_near_corpus(spark, sf_dir), "doc_id", "text", max_hamming=3)


def jaccard_block_key(c) -> Column:
    """Content-derived blocking key for pairwise dedup:
    ``(min, max) char-5-shingle hash × 64-char length band``. Unlike
    a categorical key (source/domain — ~constant cardinality, so
    in-block all-pairs goes quadratic as the corpus grows), this key's
    cardinality grows ~linearly with the data: colliding requires
    sharing BOTH hash extremes of the shingle set AND a length band
    (min alone concentrates on globally-small-hash common shingles —
    measured 203 blocks/500 fixture docs vs 403 with the pair, max
    block 12 → 6). Near-dups under small edits/appends rarely disturb
    either extreme (~1−#changed/#shingles each), so plants stay
    blocked with their originals. Pinned by
    tests/test_dedup.py::test_jaccard_block_key_grows_with_corpus."""
    from .functions.hashing import char_shingles, let_bound, stable_md5

    hashed = F.transform(
        char_shingles(T.normalize_text(c), k=5), lambda x: stable_md5(x, seed=0)
    )
    band = F.floor(F.length(T.normalize_text(c)) / F.lit(64)).cast("string")
    return let_bound(
        hashed, lambda h: F.concat_ws("|", F.array_min(h), F.array_max(h), band)
    )


def _sql_jaccard_block(col: str) -> str:
    n = T.sql_normalize_text(col)
    hashed = (
        f"list_transform(list_transform("
        f"generate_series(1, greatest(length({n})-4, 1)), "
        f"i -> substring({n}, i, 5)), x -> md5('0|' || x))"
    )
    return (
        f"concat(list_min({hashed}), '|', list_max({hashed}), '|', "
        f"CAST(CAST(floor(length({n}) / 64) AS BIGINT) AS VARCHAR))"
    )


@query(
    "ngram_jaccard_pairs",
    sql=f"""
    WITH corpus AS ({_SQL_NEAR_CORPUS}),
    sh AS (
      SELECT {_sql_jaccard_block("text")} AS blk, doc_id,
             {_sql_shingles("text")} AS sh
      FROM corpus
    )
    SELECT a.blk AS blk, a.doc_id AS id_a, b.doc_id AS id_b,
           {_sql_jaccard("a.sh", "b.sh")} AS jaccard
    FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE {_sql_jaccard("a.sh", "b.sh")} >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: all pairs *within a block*
    (never global all-pairs), word-3-shingle Jaccard ≥ 0.5. The block
    key is content-derived (:func:`jaccard_block_key` — min char-
    shingle fingerprint × length band), so block cardinality grows
    with the corpus: the round-3 registration blocked on ``source``
    (5 values in the fixture), which is O(n²/5) — a genuine quadratic
    at 100×. Planted near-dups append one token, which keeps the
    minimum shingle and (usually) the length band, so plants stay
    discoverable within their block."""
    d = _near_corpus(spark, sf_dir).withColumn("blk", jaccard_block_key("text"))
    return blocked_jaccard_pairs(d, "doc_id", "text", block_col="blk", threshold=0.5)


@query(
    "levenshtein_near_pairs",
    sql=f"""
    WITH {_sql_minhash_ctes()},
    n AS (
      SELECT doc_id, substring({_NORM.format(c="text")}, 1, 64) AS nt FROM corpus
    )
    SELECT cand.id_a AS id_a, cand.id_b AS id_b,
           CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS edit_distance
    FROM cand
    JOIN n a ON cand.id_a = a.doc_id
    JOIN n b ON cand.id_b = b.doc_id
    WHERE levenshtein(a.nt, b.nt) <= 8
    """,
    headline=True,
)
def levenshtein_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: MinHash-LSH candidates →
    Levenshtein verify — the verify-only-candidates composition (same
    scale shape as E2). The round-3 registration blocked on ``source``
    (5 fixture values ⇒ in-block all-pairs is O(n²/5), a quadratic at
    100×); candidates now come from the banded MinHash bucket join
    (operators/dedup.py:lsh_candidate_pairs — shuffle keys on
    (band, band-hash), candidate count ≪ all-pairs, signature table
    shared with dedup_minhash via the memo), and the O(n·m)
    Levenshtein runs only on candidates, on a 64-char normalized
    prefix so per-pair cost is bounded. The prefix distance
    lower-bounds full-document distance for the planted append dups.
    Both engines implement identical Wagner-Fischer semantics; the
    oracle replays the full candidate generation."""
    from .operators.dedup import lsh_candidate_pairs

    d = _near_corpus(spark, sf_dir)
    cand = lsh_candidate_pairs(d, "doc_id", "text", num_hashes=16, bands=4)
    n = d.select("doc_id", F.substring(T.normalize_text("text"), 1, 64).alias("__nt"))
    a = n.select(F.col("doc_id").alias("id_a"), F.col("__nt").alias("__na"))
    b = n.select(F.col("doc_id").alias("id_b"), F.col("__nt").alias("__nb"))
    dist = F.levenshtein(F.col("__na"), F.col("__nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", dist.cast("long").alias("edit_distance"))
        .filter(F.col("edit_distance") <= 8)
    )


@query(
    "grouped_lang_stats_pandas",
    sql=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({T.sql_token_count("text")}) AS BIGINT) AS total_tokens,
           CAST(MAX({T.sql_token_count("text")}) AS BIGINT) AS max_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def grouped_lang_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map UDF path (``groupBy().applyInPandas`` — the
    fourth and last Arrow surface after scalar pandas_udf,
    mapInPandas, and applyInPandasWithState): per-language corpus
    stats computed with pandas inside each group. Integer-only
    aggregates keep the Python path hash-checkable against the plain
    GROUP BY oracle. Scale note: one shuffle on lang; a group must
    fit one executor's Arrow batch stream — fine for per-key
    reductions, wrong for unbounded raw-row collection (use
    mapInPandas + groupBy for that)."""
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", T.token_count("text").alias("n_tokens")
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf.lang.iloc[0]],
                "n_docs": [len(pdf)],
                "total_tokens": [int(pdf.n_tokens.sum())],
                "max_tokens": [int(pdf.n_tokens.max())],
                "total_chars": [int(pdf.n_chars.sum())],
            }
        )

    return d.groupBy("lang").applyInPandas(
        stats,
        schema="lang string, n_docs bigint, total_tokens bigint, "
        "max_tokens bigint, total_chars bigint",
    )


# =====================================================================
# vocabulary coverage / OOV rate (E83)
# =====================================================================


@query(
    "vocab_oov_rate_documents",
    sql=f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM.format(c="text")}, ' ') AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, unnest(t) AS token FROM base),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dfreq AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY 1
    ),
    vocab AS (SELECT token FROM dfreq, nd WHERE df * 20 >= n_docs)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY 1
    """,
)
def vocab_oov_rate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the corpus "core vocab" (tokens in
    ≥ 5 % of documents — integer-arithmetic threshold df·20 ≥ N, no
    float rate) and score every document's out-of-vocabulary token
    rate — the tokenizer-fit / domain-shift signal a training
    pipeline tracks per corpus snapshot. Scale shape: the vocab is
    high-df by construction so its size is bounded by
    tokens-per-doc / 0.05 regardless of corpus size → **broadcast**;
    the token stream joins map-side and aggregates on doc_id. The df
    table itself shuffles on token exactly like TF-IDF (E32)."""
    from .tables import memo_persist, spread

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", T.tokens("text").alias("__t")
    )
    # the token stream feeds the df aggregate AND the final join —
    # persist it so the normalize/split/explode pipeline runs once,
    # not once per consumer (the same diamond the contamination check
    # fixed this round).
    toks = memo_persist(
        d.select("doc_id", F.explode("__t").alias("token")), "vocab_toks"
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        toks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    vocab = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(F.col("__df") * 20 >= F.col("n_docs"))
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(oov).cast("long").alias("n_oov"),
            (F.sum(oov).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "oov_rate"
            ),
        )
    )


# =====================================================================
# pairwise source similarity via per-source MinHash signatures (E90)
# =====================================================================


@query(
    "dedup_substring_spans",
    sql=f"""
    WITH t8 AS (
      SELECT doc_id, t AS tk FROM (
        SELECT doc_id, string_split({_NORM.format(c="text")}, ' ') AS t FROM documents
      ) WHERE len(t) >= 8
    ),
    g AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(array_to_string(list_slice(tk, i, i + 7), ' ')), 1, 15)
                  AS UBIGINT) AS BIGINT) AS gh
      FROM t8, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
      FROM g WHERE gh IN (SELECT gh FROM dup)
      GROUP BY doc_id
    )
    SELECT t8.doc_id,
           CAST(len(tk) - 7 AS BIGINT) AS n_grams,
           coalesce(n_dup, 0) AS n_dup,
           CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(len(tk) - 7 AS DOUBLE) AS dup_ratio
    FROM t8 LEFT JOIN per ON t8.doc_id = per.doc_id
    """,
    headline=True,
    since=5,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring measurement at 8-gram granularity
    (the scalable stand-in for suffix-array substring dedup, Lee et
    al. 2022): every 8-token window is hashed WITH its position
    multiplicity; a window occurring ≥2 times anywhere in the corpus
    is a duplicated span, and each document reports its duplicated-
    window fraction — the signal substring-level trainers cut on.

    100 TB shape (round-15 single-consumption rewrite): explode →
    (gram, doc)-grain count with map-side combine → corpus total per
    gram as a window-sum over the SAME pair frame → per-doc reduce.
    The gram stream is consumed exactly ONCE — the previous form
    materialized (localCheckpoint) the positional gram table and fed
    it to both a corpus-grain count and a semi join back, i.e. one
    extra corpus-scale pass plus a checkpoint write per run; the
    window-total replaces the dup-gram table AND the semi join with
    one gh-keyed exchange of pair-grain (already-combined) rows.
    Same skew class as before — a pathologically hot gram lands on
    one key either way; its rows are pair-grain (≤ docs containing
    it), not gram-grain. Measured 1.52 s → 1.23 s at sf0.1. Docs
    shorter than 8 tokens have no windows and are excluded on both
    sides. The (doc, tokens) frame feeds the gram chain and the
    per-doc totals — persisted via the single-slot memo so the
    tokenize runs once (the durable form at cluster scale is a
    parquet write of the token table)."""
    from .tables import memo_persist, spread

    d = memo_persist(
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", T.tokens("text").alias("tk"))
        .filter(F.size("tk") >= 8),
        "substring_tokens",
    )

    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - F.lit(7)),
                # 60-bit integer gram key (first 15 md5 hex
                # digits): 4x smaller shuffle rows than the
                # 32-char md5 string, same dup semantics — the
                # truncation is mirrored in the oracle, so even a
                # collision (≈n²/2^61, vanishing) matches
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(F.col("tk"), i, 8), " ")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("gh"),
    )
    # positional multiplicity per (gram, doc) — partial+final count,
    # map-side combine collapses within-partition repeats
    per_pair = grams.groupBy("gh", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    # corpus-wide occurrence count of each gram, computed over the
    # pair frame itself (window-sum keyed on gh — no second pass)
    tot = per_pair.withColumn("gtot", F.sum("c").over(Window.partitionBy("gh")))
    per = (
        tot.filter(F.col("gtot") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_dup"))
    )
    totals = d.select("doc_id", (F.size("tk") - F.lit(7)).cast("long").alias("n_grams"))
    return (
        totals.join(per, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            (
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_ratio"),
        )
    )


@query(
    "collocations_by_lift",
    sql=f"""
    WITH t AS (SELECT string_split({_NORM.format(c="text")}, ' ') AS tk FROM documents),
    uni AS (
      SELECT u.w, CAST(COUNT(*) AS BIGINT) AS c_w
      FROM t, UNNEST(tk) AS u(w) GROUP BY u.w
    ),
    big AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tok,
             CAST(SUM(len(tk) - 1) AS BIGINT) AS n_big
      FROM t
    ),
    scored AS (
      SELECT w1, w2, c_ab,
             CAST(c_ab AS DOUBLE) * n_tok * n_tok
               / (CAST(n_big AS DOUBLE) * u1.c_w * u2.c_w) AS lift
      FROM big, tot
      JOIN uni u1 ON w1 = u1.w
      JOIN uni u2 ON w2 = u2.w
      WHERE c_ab >= 5
    )
    SELECT w1, w2, c_ab, lift, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 20
    """,
    since=5,
)
def collocations_by_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the PMI ranking in its log-free LIFT form:
    lift(a,b) = p(ab) / (p(a)·p(b)) with all probabilities as exact
    integer count ratios, so the score is one deterministic double
    expression (log-based PMI would hash-diverge across engines'
    libm; the monotone lift ranks identically). Corpus-wide top-20
    above a min-support of 5.

    100 TB shape: two independent explode → two-phase counts (token
    and bigram grain, both map-side combined); unigram counts join
    back at bigram grain co-partitioned on the word key; the scalar
    totals arrive via a 1-row broadcast; global top-20 through the
    salted two-phase top-k. Nothing is ever per-pair quadratic.

    Round 15: the tokenized frame is memo-persisted — it feeds THREE
    consumers (totals, unigram counts, bigram counts) and the unigram
    aggregate a further two (both sides of the lift join), so the
    un-materialized plan re-read and re-tokenized the corpus four
    times per run. The vocab-grain unigram table is persisted too, so
    its aggregation runs once, not once per join side."""
    from .operators.topk import grouped_topk
    from .tables import memo_persist, spread

    d = memo_persist(
        spread(table(spark, sf_dir, "documents")).select(T.tokens("text").alias("tk")),
        "collocations_tokens",
    )
    n = F.size("tk")
    tot = d.agg(
        F.sum(n).cast("long").alias("n_tok"),
        F.sum(n - 1).cast("long").alias("n_big"),
    )
    uni = memo_persist(
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w")),
        "collocations_uni",
    )
    pairs = F.zip_with(
        F.slice(F.col("tk"), 1, n - 1),
        F.slice(F.col("tk"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    scored = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            (
                F.col("c_ab").cast("double")
                * F.col("n_tok")
                * F.col("n_tok")
                / (F.col("n_big").cast("double") * F.col("c_w1") * F.col("c_w2"))
            ).alias("lift"),
        )
    )
    return grouped_topk(
        scored,
        [],
        [F.col("lift").desc(), F.col("w1"), F.col("w2")],
        20,
        salt_col=F.abs(F.hash("w1", "w2")),
    ).select("w1", "w2", "c_ab", "lift", "rn")


# E123 (minhash_banding_eval, precision/recall of the LSH candidate
# set against exact all-pairs Jaccard truth on the planted sample) was
# retired in round 12: its candidate generator is the SAME
# lsh_candidate_pairs the driver gates through dedup_minhash_documents
# (whose oracle replays shingles, the multiply-mod family, and the
# band bucket join), the exact-Jaccard truth arithmetic is driver-gated
# by ngram_jaccard_pairs, and the count/ratio finish is pinned in
# pytest — so the harness row duplicated evidence two production rows
# already carry.


# RETIRED (round 14, the r13-verdict cadence re-plan): every stage is
# driver-gated by greener siblings — 3-shingle extraction and the
# co-partitioned pair self-join on the shingle key by
# ``ngram_jaccard_pairs`` (in this round's mandatory window, same
# pair-grain oracle), the df build + broadcast join-back by
# ``bm25_topk_documents`` and ``vocab_oov_rate_documents``, the
# decimal-exact dot/norm sums by ``semantic_dedup_embeddings``'s E97
# arithmetic, and the salted global top-k by ``top_k_orders``. The
# function stays (undecorated) for test reuse and the record.
def tfidf_doc_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse idf-weighted document similarity through the inverted
    index — the lexical complement of the dense embedding cosine, at
    3-SHINGLE grain (the fixtures' word vocabulary is ~31 stopword-
    like tokens, df ≈ corpus — word grain cannot discriminate;
    distinct phrases can, exactly why the dedup family shingles too).
    Binary set weights wt = N/df (rational idf, BM25-family
    convention); postings self-join on the shingle key, df band 2..20
    pruning hapax shingles (no pair contribution) and boilerplate
    phrases (the frequent-posting blowup every sparse-join engine
    caps). Dots and norms are decimal-exact; global top-20 via the
    salted two-phase top-k.

    100 TB shape: the self-join is co-partitioned on the shingle; the
    df cap bounds each posting list's pair fan-out at df² ≤ 400 —
    total work is Σ df², controlled by the cap, never |docs|²."""
    from .operators.dedup import shingle_set
    from .operators.topk import grouped_topk
    from .tables import spread

    w0 = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(shingle_set("text", 3)).alias("sh")
    )
    df_ = w0.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    n = w0.select(F.countDistinct("doc_id").alias("n_docs"))
    w = (
        w0.join(df_, "sh")
        .filter((F.col("df") >= 2) & (F.col("df") <= 20))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "sh", (F.col("n_docs").cast("double") / F.col("df")).alias("wt")
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("wt") * F.col("wt")).cast("decimal(38,10)")).cast("double")).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("id_a"), "sh", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "sh", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,10)")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    scored = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"))
    )
    return grouped_topk(
        scored,
        [],
        [F.col("cosine").desc(), F.col("id_a"), F.col("id_b")],
        20,
        salt_col=F.col("id_a") + F.col("id_b"),
    ).select("id_a", "id_b", "cosine", "rn")
