"""Corpus-maintenance queries for the LLM-data-pipeline surface.

Round-3 extension operators (E62-E67): the jobs a training-data
platform runs *around* the filters in queries_text.py — redaction,
chunking into training windows, snapshot diffing, boilerplate
detection, vocabulary statistics, canonical-representative pick.
Every query pairs a Spark plan with a construction-mirrored DuckDB
oracle (same regexes, same slices, same hashes), so the driver's
value-hash gate checks the full pipeline, not just row counts.

The reference has no text surface (SURVEY.md §2.7); these extend the
north star the same way queries_text.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .functions.hashing import let_bound
from .queries import query
from .tables import spread, table

# ---------------------------------------------------------------------
# redaction
# ---------------------------------------------------------------------

# stand-in "PII" word class: the fixture corpus is synthetic
# space-separated words, so the pattern targets a fixed word set the
# way a real deployment would target emails/phones/SSNs. The plumbing
# under test — count matches, mask in place, hash the redacted text —
# is pattern-independent. Lookahead-free so Java regex ≡ RE2.
_PII_PAT = r"\b(key|value|data)\b"
_NORM_SQL = T.sql_normalize_text("coalesce(text, '')")


@query(
    "redact_mask_documents",
    sql=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(norm, '{_PII_PAT}', 1)) AS BIGINT) AS n_redactions,
           CAST(length(regexp_replace(norm, '{_PII_PAT}', '<pii>', 'g')) AS BIGINT)
             AS masked_len,
           md5(regexp_replace(norm, '{_PII_PAT}', '<pii>', 'g')) AS masked_md5
    FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents) t
    """,
)
def redact_mask_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction plumbing: count pattern matches per document,
    mask them in place, and emit the hash of the redacted text (the
    hash is what makes the oracle check the actual replacement, not
    just the count). Narrow projection — two regex passes per row,
    whole-stage codegen, zero shuffle."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", T.normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("norm")
    )
    masked = F.regexp_replace(F.col("norm"), _PII_PAT, "<pii>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("norm", F.lit(_PII_PAT), 1)).cast("long").alias(
            "n_redactions"
        ),
        F.length(masked).cast("long").alias("masked_len"),
        F.md5(masked).alias("masked_md5"),
    )


# ---------------------------------------------------------------------
# chunking into training windows
# ---------------------------------------------------------------------

_CHUNK_W = 32  # tokens per training window
_CHUNK_S = 24  # stride (8-token overlap)


@query(
    "chunk_documents_overlap",
    sql=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {_CHUNK_S})) AS st
      FROM t
    )
    SELECT doc_id,
           CAST((st - 1) // {_CHUNK_S} AS INT) AS chunk_id,
           CAST(len(list_slice(toks, st, st + {_CHUNK_W - 1})) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, st, st + {_CHUNK_W - 1}), ' ')) AS chunk_md5
    FROM s
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split every document into
    32-token training windows with stride 24 (8-token overlap) — the
    fixed-context packing step of an LLM pretraining pipeline. One
    output row per window with its token count and content hash.

    Pure expressions: tokens are let-bound (the HOF re-evaluation
    trap — without the binding every window re-runs the
    normalization regex), windows explode from a stride sequence,
    slices never leave the row. Narrow plan, zero shuffle; output
    rows ≈ corpus tokens / stride."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("__txt")
    )
    chunks = let_bound(
        T.tokens("__txt"),
        lambda tk: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(_CHUNK_S)),
            lambda s: F.struct(
                F.floor((s - 1) / _CHUNK_S).cast("int").alias("chunk_id"),
                F.size(F.slice(tk, s, _CHUNK_W)).alias("n_chunk_tokens"),
                F.md5(F.concat_ws(" ", F.slice(tk, s, _CHUNK_W))).alias("chunk_md5"),
            ),
        ),
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_md5"
    )


# ---------------------------------------------------------------------
# snapshot diff
# ---------------------------------------------------------------------


@query(
    "corpus_diff_documents",
    sql="""
    WITH old AS (
      SELECT doc_id, md5(coalesce(text, '')) AS h
      FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' v2'
                      ELSE coalesce(text, '') END) AS h
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
)
def corpus_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus update: diff two snapshots into
    added / removed / changed / unchanged per document. The fixture
    derives both snapshots from one table (old = id % 7 ≠ 0, new =
    id % 5 ≠ 0 with every 11th text revised) so the diff is
    deterministic and non-vacuous in all four states.

    Scale shape: each side reduces to (id, content-hash) BEFORE the
    join — the full-outer join ships 32-byte digests, never document
    bodies, and keys on high-cardinality doc_id."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("__txt")
    )
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("o_id"), F.md5("__txt").alias("o_h")
    )
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("n_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("__txt"), F.lit(" v2"))
            ).otherwise(F.col("__txt"))
        ).alias("n_h"),
    )
    j = old.join(new, old.o_id == new.n_id, "full_outer")
    return j.select(
        F.coalesce("o_id", "n_id").alias("doc_id"),
        F.when(F.col("o_h").isNull(), "added")
        .when(F.col("n_h").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# ---------------------------------------------------------------------
# boilerplate detection
# ---------------------------------------------------------------------

_BP_N = 5  # gram length
# "boilerplate" = 5-gram appearing in > 5% of documents (integer form).
# The shingle mirror is the same construction the MinHash pipeline
# hashes (functions/text.py, no circular import).
from .functions.text import sql_shingles as _sql_shingles  # noqa: E402


@query(
    "boilerplate_ngram_stats",
    sql=f"""
    WITH g AS (
      SELECT doc_id, unnest({_sql_shingles("text", _BP_N)}) AS gram FROM documents
    ),
    gdf AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS dfq FROM g GROUP BY gram),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN 20 * d.dfq > n.n_docs THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(SUM(CASE WHEN 20 * d.dfq > n.n_docs THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS boiler_frac
    FROM g JOIN gdf d USING (gram) CROSS JOIN n
    GROUP BY g.doc_id
    """,
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection à la CCNet/RefinedWeb: a 5-gram occurring
    in > 5% of documents is boilerplate (headers, nav text, license
    blurbs); per document, report how much of it is boilerplate. The
    gram document-frequency table is corpus-vocabulary-sized —
    broadcast back to the gram stream, so the corpus never shuffles
    for the join; the only wide stage keys on the gram itself.

    Round 15: the shingle frame is memo-persisted (the
    contamination-check pattern) — the gram stream feeds BOTH the
    document-frequency aggregate and the final per-doc join, so the
    un-materialized plan computed the normalize/tokenize/5-gram
    pipeline twice per run."""
    from .operators.dedup import shingle_set
    from .tables import memo_persist

    d = memo_persist(
        spread(table(spark, sf_dir, "documents")).select(
            "doc_id", shingle_set("text", _BP_N).alias("__sh")
        ),
        "boilerplate_shingles",
    )
    g = d.select("doc_id", F.explode("__sh").alias("gram"))
    gdf = g.groupBy("gram").agg(F.count(F.lit(1)).alias("dfq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = (F.lit(20) * F.col("dfq") > F.col("n_docs")).cast("long")
    return (
        g.join(F.broadcast(gdf), "gram")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(boiler).alias("n_boiler"),
            (F.sum(boiler).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "boiler_frac"
            ),
        )
    )


# ---------------------------------------------------------------------
# vocabulary statistics
# ---------------------------------------------------------------------


@query(
    "vocab_zipf_histogram",
    sql=f"""
    WITH tok AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS fq FROM tok GROUP BY token)
    SELECT CAST(length(bin(fq)) - 1 AS INT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(MIN(fq) AS BIGINT) AS min_freq,
           CAST(MAX(fq) AS BIGINT) AS max_freq,
           CAST(SUM(fq) AS BIGINT) AS sum_freq
    FROM freq
    GROUP BY 1
    """,
)
def vocab_zipf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf sanity histogram of the corpus vocabulary: token types
    bucketed by ⌊log₂(frequency)⌋ with per-bucket type counts and
    token-mass totals — the one-page fingerprint that catches a
    crawler gone wrong (mass in the singleton bucket) or a dedup gone
    wrong (mass in the head). ⌊log₂⌋ is computed as
    ``length(bin(n)) - 1`` — integer-exact on both engines, no
    transcendental log. Two hash aggregations; the first keys on
    high-cardinality token, the second on ~20 buckets."""
    d = spread(table(spark, sf_dir, "documents")).select(
        F.coalesce(F.col("text"), F.lit("")).alias("__txt")
    )
    tok = d.select(F.explode(T.tokens("__txt")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("fq"))
    return (
        freq.groupBy((F.length(F.bin("fq")) - 1).cast("int").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.min("fq").alias("min_freq"),
            F.max("fq").alias("max_freq"),
            F.sum("fq").alias("sum_freq"),
        )
    )


# ---------------------------------------------------------------------
# canonical-representative dedup
# ---------------------------------------------------------------------


@query(
    "dedup_canonical_documents",
    sql=f"""
    WITH c AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || '  ' AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    r AS (
      SELECT md5({T.sql_normalize_text("text")}) AS grp,
             doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY md5({T.sql_normalize_text("text")})
               ORDER BY length(text) DESC, doc_id
             ) AS rk,
             COUNT(*) OVER (
               PARTITION BY md5({T.sql_normalize_text("text")})
             ) AS n_copies
      FROM c
    )
    SELECT grp, doc_id AS canonical_id, CAST(n_copies AS BIGINT) AS n_copies
    FROM r WHERE rk = 1
    """,
)
def dedup_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: exact dedup that keeps the
    BEST copy, not the first — per normalized-text group, the longest
    raw text wins (most formatting preserved), ties break on doc_id.
    The planted duplicates (every 3rd doc re-appears with trailing
    whitespace and an offset id) normalize equal but differ in raw
    length, so the pick is non-trivial and the oracle checks it.

    One shuffle on the text hash; the per-group window sees only the
    duplicate set (tiny by definition after the hash partition)."""
    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("  ")).alias("text"),
    )
    c = d.unionByName(dup).select(
        F.md5(T.normalize_text("text")).alias("grp"), "doc_id", F.length("text").alias("__len")
    )
    w = Window.partitionBy("grp").orderBy(F.col("__len").desc(), "doc_id")
    wc = Window.partitionBy("grp")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "grp",
            F.col("doc_id").alias("canonical_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------
# E72: paragraph-level dedup (chunk-grain exact dedup + reassembly)
# ---------------------------------------------------------------------

_PARA_W = 10  # tokens per pseudo-paragraph

_NORM_DOC = T.sql_normalize_text("coalesce(text, '')")


@query(
    "dedup_paragraph_documents",
    sql=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_DOC}, ' ') AS tk FROM documents
    ), c AS (
      SELECT doc_id,
             CAST(greatest(ceil(len(tk)/{_PARA_W}.0), 1) AS BIGINT) AS n_chunks,
             i AS chunk_idx,
             array_to_string(list_slice(tk, {_PARA_W}*i+1, {_PARA_W}*i+{_PARA_W}), ' ')
               AS chunk
      FROM t, UNNEST(generate_series(
               0, CAST(greatest(ceil(len(tk)/{_PARA_W}.0), 1) AS BIGINT) - 1)) AS u(i)
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT doc_id,
           CAST(MAX(n_chunks) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(chunk, ' ' ORDER BY chunk_idx)) AS kept_md5
    FROM r WHERE rn = 1
    GROUP BY doc_id
    """,
)
def dedup_paragraph_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup — the C4/CCNet move: drop repeated
    passages *inside* otherwise-unique documents, then reassemble.
    Documents are split into non-overlapping 10-token chunks
    (pseudo-paragraphs — the fixture corpus has no newlines); a chunk
    survives iff it is the corpus-first occurrence of its md5
    (row_number over the hash, ordered by (doc_id, chunk_idx));
    surviving chunks re-join in order and the output carries total /
    kept counts plus the md5 of the reassembled text.

    Scale shape: explode to chunk grain (narrow), ONE shuffle on the
    chunk hash for the first-occurrence window (bucket size = copies
    of one chunk, tiny by construction), one shuffle back on doc_id
    to reassemble. No joins, no quadratic step — the same plan at
    100 TB, with the chunk-hash shuffle as the only wide edge."""
    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", T.normalize_text(F.coalesce(F.col("text"), F.lit(""))).alias("__norm")
    )
    toks = d.select("doc_id", F.split("__norm", " ").alias("__t"))
    n_chunks = F.greatest(
        F.ceil(F.size("__t") / F.lit(float(_PARA_W))), F.lit(1)
    ).cast("long")
    chunk_structs = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(
                F.slice("__t", (i * _PARA_W + 1).cast("int"), _PARA_W), " "
            ).alias("chunk"),
        ),
    )
    chunks = toks.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        F.explode(chunk_structs).alias("__c"),
    ).select(
        "doc_id", "n_chunks", F.col("__c.chunk_idx"), F.col("__c.chunk")
    )
    first_w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    kept = chunks.withColumn("__rn", F.row_number().over(first_w)).filter(
        F.col("__rn") == 1
    )
    ordered = F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk")))
    return kept.groupBy("doc_id").agg(
        F.max("n_chunks").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(F.transform(ordered, lambda s: s.getField("chunk")), " ")
        ).alias("kept_md5"),
    )


# ---------------------------------------------------------------------
# E73: weighted deterministic sampling (inclusion ∝ quality weight)
# ---------------------------------------------------------------------

_WS_SEED = 7
_WS_NUM, _WS_DEN = 3, 4000  # p(keep) = min(1, n_chars · 3/4000)


@query(
    "weighted_sample_documents",
    sql=f"""
    WITH g AS (
      SELECT source, n_chars,
             CAST(concat('0x', substring(md5('{_WS_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT)
               < least(4294967296,
                       (least(CAST(n_chars AS BIGINT), {(_WS_DEN + _WS_NUM - 1) // _WS_NUM})
                        * {_WS_NUM * 2**32}) // {_WS_DEN})
               AS keep
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
    FROM g GROUP BY source
    """,
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling
    (operators/sampling.py:weighted_sample): inclusion probability ∝
    n_chars (p = min(1, n_chars·3/4000)), decided by an integer
    threshold on the content hash — longer documents are kept at a
    proportionally higher rate, docs ≥ 1334 chars always. No rand(),
    no floats: the keep set is identical on any cluster size, any
    engine. Reported as per-source totals over kept AND dropped rows
    — the keep decision is a flag column, so the census is one
    narrow aggregate (no join-back against the filtered frame)."""
    from .operators.sampling import weighted_keep_flag

    d = spread(table(spark, sf_dir, "documents")).select("doc_id", "source", "n_chars")
    keep = weighted_keep_flag("doc_id", "n_chars", _WS_NUM, _WS_DEN, seed=_WS_SEED)
    return d.withColumn("__k", keep).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__k"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum(F.when(F.col("__k"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("sampled_chars"),
    )


# =====================================================================
# per-lang quality percentile gate (E84)
# =====================================================================


@query(
    "quality_percentile_filter_documents",
    sql=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {T.sql_token_count("text")} AS n_tokens,
             {T.sql_non_alnum_ratio("text")} AS non_alnum_ratio
      FROM documents
    ),
    th AS (
      SELECT lang,
             quantile_cont(n_tokens, 0.25) AS tok_p25,
             quantile_cont(non_alnum_ratio, 0.75) AS sym_p75
      FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.non_alnum_ratio
    FROM scored s JOIN th ON s.lang = th.lang
    WHERE s.n_tokens >= th.tok_p25 AND s.non_alnum_ratio <= th.sym_p75
    """,
)
def quality_percentile_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: keep documents at or above their
    language's 25th-percentile token count AND at or below its 75th-
    percentile symbol ratio — the adaptive per-slice filter (quality
    thresholds that track each language's own distribution) every
    curation pipeline prefers over global constants. Exact
    interpolating percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``) make the gate hash-checkable; the thresholds
    frame is |langs| rows → **broadcast**, so the corpus never
    shuffles — score, join, filter is one narrow pass. At 100 TB the
    exact per-group percentile swaps for the two-phase bucket rank
    (E77) or ``approx_percentile`` with the same gate semantics."""
    from .tables import memo_persist

    # the scored frame (two regex passes per document) feeds both the
    # threshold aggregate and the gating join — persist it so the
    # scoring runs once, not per consumer.
    d = memo_persist(
        spread(table(spark, sf_dir, "documents")).select(
            "doc_id",
            "lang",
            T.token_count("text").alias("n_tokens"),
            T.non_alnum_ratio("text").alias("non_alnum_ratio"),
        ),
        "quality_scored",
    )
    th = d.groupBy("lang").agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("__tok_p25"),
        F.percentile("non_alnum_ratio", F.lit(0.75)).alias("__sym_p75"),
    )
    return (
        d.join(F.broadcast(th), "lang")
        .filter(
            (F.col("n_tokens") >= F.col("__tok_p25"))
            & (F.col("non_alnum_ratio") <= F.col("__sym_p75"))
        )
        .select("doc_id", "lang", "n_tokens", "non_alnum_ratio")
    )


# =====================================================================
# doc-length histogram with cumulative mass (E91)
# =====================================================================


@query(
    "udaf_grouped_agg_chars",
    sql="""
    SELECT lang,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang
    """,
    since=5,
)
def udaf_grouped_agg_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate through the GROUPED_AGG ``pandas_udf`` path —
    the fifth and last Arrow surface (after scalar pandas_udf,
    mapInPandas, applyInPandas, applyInPandasWithState): per-language
    character totals where each aggregate is a whole-group numpy
    reduction on the executors. Integer arithmetic end-to-end, so the
    Python aggregation is bit-exact against the SQL oracle — the gate
    checks the Arrow UDAF machinery itself, not an approximation.

    Scale note: GROUPED_AGG ships each group's column to Python in
    one Arrow batch — right for bounded groups (per-language stats,
    per-user features), wrong for pathological single-key skew; the
    salted two-phase rewrite (operators/packing.py salted_sum) is the
    escape hatch there. Real users plug in true custom math
    (percentile-of-diffs, learned scalers) where built-ins end."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # NB: real-type annotations set post-hoc — the module's
    # `from __future__ import annotations` would stringify inline
    # hints and break pandas_udf's GROUPED_AGG signature inference
    def _sum_impl(v):
        return int(v.sum())

    def _max_impl(v):
        return int(v.max())

    def _cnt_impl(v):
        return len(v)

    # GROUPED_AGG UDFs cannot mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count is a UDAF too
    _sum_impl.__annotations__ = {"v": pd.Series, "return": int}
    _max_impl.__annotations__ = {"v": pd.Series, "return": int}
    _cnt_impl.__annotations__ = {"v": pd.Series, "return": int}
    udaf_sum = pandas_udf(_sum_impl, "long")
    udaf_max = pandas_udf(_max_impl, "long")
    udaf_cnt = pandas_udf(_cnt_impl, "long")
    d = table(spark, sf_dir, "documents").select("lang", "n_chars")
    return d.groupBy("lang").agg(
        udaf_sum("n_chars").alias("total_chars"),
        udaf_max("n_chars").alias("max_chars"),
        udaf_cnt("n_chars").alias("n_docs"),
    )
