"""Similarity-search queries over the ``embeddings`` table.

Brute-force cosine top-k (exact baseline), sign-LSH bucketed top-k
(the 100 TB shape), and embedding-cosine near-dup pairs. The DuckDB
oracles replay the identical computation — including the strict
left-fold dot products and the md5-parity LSH planes — so cosine
values and bucket assignments hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.similarity import brute_force_topk, embedding_near_pairs, lsh_topk
from .queries import query
from .tables import table


def _sql_dot(a: str, b: str) -> str:
    """Strict left-fold double dot product — mirrors
    operators.similarity.dot_double exactly (same order, same casts)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


def _sql_bucket(vec: str, planes: int = 4) -> str:
    """Mirror of operators.similarity.lsh_bucket: sign bits of
    projections onto md5-parity ±1 planes."""
    terms = []
    for j in range(planes):
        sign = (
            f"CASE WHEN (instr('0123456789abcdef', "
            f"substring(md5('{j}_' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END"
        )
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({vec})), "
            f"i -> CAST({vec}[i] AS DOUBLE) * {sign})), (x, y) -> x + y)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {2**j} ELSE 0 END")
    return f"CAST({' + '.join(terms)} AS BIGINT)"


@query(
    "similarity_topk_embeddings",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("q.qv", "c.embedding")} AS cosine
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    headline=True,
)
def similarity_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors: broadcast queries
    (corpus never shuffles), JVM-side left-fold cosine, two-phase
    top-k. The brute-force ANN baseline."""
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@query(
    "similarity_lsh_embeddings",
    sql=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bkt FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM b WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("q.qv", "c.embedding")} AS cosine
      FROM b c JOIN q ON c.bkt = q.bkt
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def similarity_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-LSH: candidates share the query's
    4-plane bucket, cosine within-bucket only — the shuffle keys on
    the bucket id, never |Q|·|corpus|. Oracle replays the identical
    bucketing, so this checks the LSH itself, not just the cosines."""
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, planes=4)


_SQL_VEC_CORPUS = """
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
"""


def _sql_banded_bucket(vec: str, tbl: int, planes: int, dim: int) -> str:
    """Mirror of operators.similarity.banded_lsh_bucket: the SAME
    literal ±1 sign lists (plane_signs is plain hashlib, shared by
    both emitters), same strict left-fold projection."""
    from .operators.similarity import plane_signs

    terms = []
    for j in range(planes):
        lst = "[" + ", ".join(
            "1.0" if s > 0 else "-1.0" for s in plane_signs(tbl, j, dim)
        ) + "]"
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, len({vec})), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lst})[i])), (x, y) -> x + y)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {2**j} ELSE 0 END")
    return f"CAST({' + '.join(terms)} AS BIGINT)"


def _sql_embedding_near_pairs(
    threshold: float = 0.95, dim: int = 64, planes: int = 16, tables: int = 4
) -> str:
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {t} AS tbl, "
        f"{_sql_banded_bucket('embedding', t, planes, dim)} AS bkt FROM corpus"
        for t in range(tables)
    )
    return f"""
    WITH corpus AS ({_SQL_VEC_CORPUS}),
    banded AS (
{band_rows}
    ),
    cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM banded l JOIN banded r
        ON l.tbl = r.tbl AND l.bkt = r.bkt AND l.vec_id < r.vec_id
    )
    SELECT id_a, id_b, {_sql_cosine("ca.embedding", "cb.embedding")} AS cosine
    FROM cand
    JOIN corpus ca ON cand.id_a = ca.vec_id
    JOIN corpus cb ON cand.id_b = cb.vec_id
    WHERE {_sql_cosine("ca.embedding", "cb.embedding")} >= {threshold}
    """


@query("embedding_near_pairs", sql=_sql_embedding_near_pairs(), since=17)
def embedding_near_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over a planted corpus
    (50 duplicated vectors): banded multi-table sign-LSH (4 tables ×
    16 planes → 65 536 buckets per table), candidate pairs verified
    by exact cosine ≥ 0.95. Identical vectors land in identical
    buckets in every table, so every plant is found — the embedding
    analogue of MinHash-banded dedup at corpus scale."""
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    plant = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return embedding_near_pairs(
        emb.unionByName(plant), threshold=0.95, dim=64, planes=16, tables=4
    )


def _sql_kmeans_ctes(
    tbl: str = "embeddings",
    n_centroids: int = 8,
    iters: int = 2,
    train_mod: int = 4,
) -> tuple[list[str], str]:
    """CTE list replaying operators.similarity.kmeans_centroids over
    table ``tbl`` (same init, same sample, same cosine assignment
    tie-break, same exact-decimal element-wise means — the VARCHAR
    hop on the decimal sum is the DuckDB correct-rounding route, see
    functions/exact.py). Returns (ctes, final centroid CTE name)."""
    cos = _sql_cosine("v.embedding", "c.kv")
    ctes = [
        f"cents0 AS (SELECT CAST(vec_id AS BIGINT) AS cell, embedding AS kv "
        f"FROM {tbl} WHERE vec_id < {n_centroids})"
    ]
    prev = "cents0"
    for it in range(1, iters + 1):
        ctes.append(f"""a{it} AS (
      SELECT vec_id, cell, embedding FROM (
        SELECT v.vec_id, c.cell, v.embedding,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos} DESC, c.cell) AS rn
        FROM {tbl} v CROSS JOIN {prev} c
        WHERE v.vec_id % {train_mod} = 0
      ) WHERE rn = 1
    )""")
        ctes.append(f"""m{it} AS (
      SELECT cell, u.i AS i,
             CAST(CAST(SUM(CAST(u.x AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu
      FROM (
        SELECT cell, unnest(list_transform(generate_series(1, len(embedding)),
                 i -> struct_pack(i := i, x := CAST(embedding[i] AS DOUBLE)))) AS u
        FROM a{it}
      ) t GROUP BY cell, u.i
    )""")
        ctes.append(
            f"cents{it} AS (SELECT cell, list(mu ORDER BY i) AS kv FROM m{it} GROUP BY cell)"
        )
        prev = f"cents{it}"
    return ctes, prev


def _sql_assign_cte(tbl: str, cents: str) -> str:
    """Nearest-centroid assignment CTE body (mirror of
    operators.similarity.ivf_assign at nprobe=1)."""
    cos = _sql_cosine("v.embedding", "c.kv")
    return f"""(
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos} DESC, c.cell) AS rn
        FROM {tbl} v CROSS JOIN {cents} c
      ) WHERE rn = 1
    )"""


def _sql_ivf_topk(
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 10,
    iters: int = 2,
    train_mod: int = 4,
) -> str:
    """Mirror of operators.similarity.ivf_topk INCLUDING the k-means
    training loop, same probe set, same final ranking."""
    cos = _sql_cosine("v.embedding", "c.kv")
    ctes, prev = _sql_kmeans_ctes("embeddings", n_centroids, iters, train_mod)
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH {cte_sql},
    assign AS {_sql_assign_cte("embeddings", prev)},
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT v.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos} DESC, c.cell) AS rn
        FROM embeddings v CROSS JOIN {prev} c
        WHERE v.vec_id < 5
      ) WHERE rn <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_sql_cosine("q.embedding", "n.embedding")} AS cosine
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings n ON n.vec_id = a.vec_id
      WHERE p.query_id != a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@query("similarity_ivf_embeddings", sql=_sql_ivf_topk(nprobe=3), since=17)
def similarity_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a trained quantizer (operators/similarity.py
    ivf_topk): centroids from deterministic Lloyd's k-means (2
    refinement passes over a 1/4 sample, init = first 8 vectors),
    corpus partitioned into centroid cells (inverted file), queries
    probe their 3 nearest cells, exact cosine within probed cells
    only. The third scale path next to brute force and sign-LSH. The
    oracle replays the ENTIRE training loop, so the hash gate checks
    the centroids, the assignment, and the ranking."""
    from .operators.similarity import ivf_topk

    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    # dim=64 is the fixture's pinned vector width (TESTDATA.md;
    # asserted per row by checked_dim inside the trainer) — declaring
    # it skips the trainer's 1-row width probe job
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=8, nprobe=3, iters=2,
        train_mod=4, dim=64,
    )


def _sql_semantic_dedup(threshold: float = 0.95) -> str:
    """Mirror of operators.similarity.semantic_dedup on the planted
    corpus: same k-means training (over the planted corpus), same
    nearest-cell assignment, same within-cell pair cosines, same
    min-id keep policy."""
    ctes, prev = _sql_kmeans_ctes("corpus")
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH corpus AS ({_SQL_VEC_CORPUS}),
    {cte_sql},
    assign AS {_sql_assign_cte("corpus", prev)},
    dropped AS (
      SELECT DISTINCT b.vec_id AS id_b
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN corpus ca ON ca.vec_id = a.vec_id
      JOIN corpus cb ON cb.vec_id = b.vec_id
      WHERE {_sql_cosine("ca.embedding", "cb.embedding")} >= {threshold}
    )
    SELECT s.vec_id, s.cell, d.id_b IS NULL AS keep
    FROM assign s LEFT JOIN dropped d ON s.vec_id = d.id_b
    """


@query("semantic_dedup_embeddings", sql=_sql_semantic_dedup(), since=17)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over a planted corpus (50
    duplicated vectors): k-means-cluster the embedding space, mark
    any vector with a ≥0.95-cosine lower-id neighbor IN ITS CLUSTER
    as a semantic duplicate, keep the minimum id. Comparisons never
    leave a cluster — O(n²/k) with k scaling with the corpus — and
    the oracle replays training, assignment, and keep policy, so the
    hash gate covers the whole pipeline. Planted copies are identical
    vectors ⇒ same cell, cosine 1 ⇒ exactly the 50 plants drop."""
    from .operators.similarity import semantic_dedup

    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    plant = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return semantic_dedup(emb.unionByName(plant), threshold=0.95, dim=64)


@query("similarity_topk_pandas_udf", sql=None)
def similarity_topk_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/pandas_udf variant of similarity_topk_embeddings —
    the sanctioned escape hatch when score math outgrows built-in
    HOFs. numpy's pairwise summation differs from the JVM left-fold
    by float ulps, so this path is rows-only for the driver;
    value-level equivalence to the JVM path is pinned in
    tests/test_similarity.py."""
    from .operators.similarity import brute_force_topk_pandas

    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    return brute_force_topk_pandas(emb, emb.filter(F.col("vec_id") < 5), k=10)


# RETIRED (round 14, the r13-verdict cadence re-plan): a narrow
# projection + posexplode with no shuffle — the array-column
# expression machinery (transform/array_max/posexplode over
# ``embedding``) is driver-gated by ``pca_power_iteration_embeddings``
# and ``hard_negatives_embeddings`` (both green r13), and the
# quantization arithmetic (max-abs scale, portable floor(x/s+0.5),
# 1e-30 zero guard) stays pinned with a reconstruction-error bound in
# tests/test_similarity.py on this undecorated function.
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (max-abs
    scale per vector, round-half-up via floor(x/s + 0.5) — the
    portable rounding: both engines floor identically, unlike their
    round() tie rules). The storage-compression pass an embedding
    pipeline runs before writing an ANN index; exploded to
    (vec_id, i, q) so the oracle hash pins every element. Narrow: one
    projection + posexplode, no shuffle. All-zero vectors quantize
    to zeros via the 1e-30 scale floor (no div-by-zero NaNs)."""
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    s = emb.select(
        "vec_id",
        "embedding",
        (
            F.greatest(
                F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
                F.lit(1e-30),
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    ex = s.select(
        "vec_id",
        F.col("scale").cast("double").alias("q_scale"),
        F.posexplode("embedding").alias("pos", "x"),
    )
    return ex.select(
        "vec_id",
        "q_scale",
        (F.col("pos") + 1).cast("long").alias("i"),
        F.floor(F.col("x").cast("double") / F.col("q_scale") + F.lit(0.5)).cast("long").alias("q"),
    )


@query(
    "hard_negatives_embeddings",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS ql
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_sql_cosine("q.qv", "c.embedding")} AS cosine
      FROM embeddings c CROSS JOIN q
      WHERE c.vec_id != q.query_id AND c.label != q.ql
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS BIGINT) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    since=5,
)
def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-5 most-similar corpus vectors with a DIFFERENT
    label — near-misses that teach a retriever the decision boundary.
    Same 100 TB shape as brute-force top-k (queries broadcast with
    their labels, corpus never shuffles, salted two-phase top-k); the
    label inequality rides the broadcast-join condition, so excluded
    positives never leave the scan stage."""
    from .operators.similarity import cosine
    from .operators.topk import grouped_topk
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("__cl"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id")) & (F.col("__cl") != F.col("__ql")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        5,
        salt_col=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rn")


# ---- E139: top principal direction via power iteration --------------

_PCA_DIMS = 16
_PCA_ITERS = 3


def _sql_pca() -> str:
    """Chained-CTE oracle replaying the full power iteration (same
    shape as the PageRank oracle: an iterative algorithm the hash
    gate checks end-to-end). Each iteration: per-row strict-left-fold
    dot against the previous direction, per-dim DECIMAL(38,10)-exact
    sums (the VARCHAR hop, functions/exact.py), then L2
    normalization in double."""
    slice_ = f"list_slice(embedding, 1, {_PCA_DIMS})"
    dot_prev = (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {_PCA_DIMS}), "
        f"i -> CAST(x[i] AS DOUBLE) * v.v[i])), (a, b) -> a + b)"
    )
    ctes = [f"c AS (SELECT {slice_} AS x FROM embeddings)",
            "v0 AS (SELECT [" + ", ".join(["1.0"] * _PCA_DIMS) + "] AS v)"]
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        sums = ", ".join(
            "CAST(CAST(SUM(CAST(CAST(x[{j}] AS DOUBLE) * d AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
            .format(j=j + 1)
            + f" AS s{j + 1}"
            for j in range(_PCA_DIMS)
        )
        raw = f"r{it} AS (SELECT {sums} FROM (SELECT x, {dot_prev} AS d FROM c, {prev} v))"
        norm = (
            "sqrt(" + " + ".join(f"s{j + 1} * s{j + 1}" for j in range(_PCA_DIMS)) + ")"
        )
        vec = "[" + ", ".join(f"s{j + 1} / {norm}" for j in range(_PCA_DIMS)) + "]"
        ctes.append(raw)
        ctes.append(f"v{it} AS (SELECT {vec} AS v FROM r{it})")
        prev = f"v{it}"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(i AS BIGINT) AS dim, v.v[i] AS loading
    FROM {prev} v, UNNEST(generate_series(1, {_PCA_DIMS})) AS u(i)
    """
    )


@query("pca_power_iteration_embeddings", sql=_sql_pca(), since=5)
def pca_power_iteration_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding corpus by
    POWER ITERATION — distributed linear algebra as three passes of
    v ← normalize(Σᵢ xᵢ·(xᵢ·v)), starting from the all-ones vector.
    Computed over the first 16 dimensions: the dim count only widens
    the per-pass aggregate (one decimal-exact sum per dimension, the
    SimHash-style wide agg); the algorithm and plan shape are
    dimension-generic.

    100 TB shape: each iteration is ONE corpus pass — per-row dot
    against the broadcast 1-row direction frame, then a 16-column
    map-side-combined exact aggregate to a single row; the corpus
    never shuffles. Determinism: strict left-fold dots and
    DECIMAL(38,10) sums make every iterate bit-stable under any
    partitioning, which is what lets the oracle replay all three
    iterations and hash-match the final loadings."""
    from .tables import memo_persist, spread

    # round 15: persist the sliced projection — each iteration is a
    # separate consumer of the corpus frame (DataFrame plans share no
    # common subtrees), so the un-materialized plan re-read and
    # re-sliced the parquet corpus once per iteration (3 scans/run);
    # at cluster scale this is the one-time projection write every
    # iterative-linear-algebra job starts with
    emb = memo_persist(
        spread(table(spark, sf_dir, "embeddings")).select(
            F.slice("embedding", 1, _PCA_DIMS).alias("x")
        ),
        "pca_corpus",
    )
    v = None  # 1-row DataFrame with column v: array<double>
    spark_v0 = emb.sparkSession.range(1).select(
        F.array(*[F.lit(1.0) for _ in range(_PCA_DIMS)]).alias("v")
    )
    v = spark_v0
    for _ in range(_PCA_ITERS):
        joined = emb.crossJoin(F.broadcast(v))
        d = F.aggregate(
            F.zip_with("x", "v", lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        withd = joined.select("x", d.alias("d"))
        # one F.expr per dimension sum (not Column-composed: 16 dims
        # × 5 iterations of nested casts built ~1 s of py4j driver
        # time per call; the parsed aggregate is identical)
        sums = withd.agg(
            *[
                F.expr(
                    f"CAST(sum(CAST(CAST(element_at(x, {j + 1}) AS DOUBLE) * d"
                    f" AS DECIMAL(38,10))) AS DOUBLE)"
                ).alias(f"s{j + 1}")
                for j in range(_PCA_DIMS)
            ]
        )
        norm = F.sqrt(
            sum((F.col(f"s{j + 1}") * F.col(f"s{j + 1}") for j in range(1, _PCA_DIMS)),
                F.col("s1") * F.col("s1"))
        )
        v = sums.select(
            F.array(*[F.col(f"s{j + 1}") / norm for j in range(_PCA_DIMS)]).alias("v")
        )
    return v.select(F.posexplode("v").alias("pos", "loading")).select(
        (F.col("pos") + 1).cast("long").alias("dim"), "loading"
    )


def _sql_brute_pairs() -> str:
    """(query_id, neighbor_id) of the exact cosine top-10 for the
    5-query eval set — the ground-truth CTE body shared by the two
    recall harnesses."""
    return f"""
    SELECT query_id, neighbor_id FROM (
      SELECT q2.query_id, c2.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q2.query_id
               ORDER BY {_sql_cosine("q2.qv", "c2.embedding")} DESC, c2.vec_id
             ) AS rn
      FROM embeddings c2
      CROSS JOIN (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id < 5) q2
      WHERE c2.vec_id != q2.query_id
    ) WHERE rn <= 10
    """


def _recall_select(approx_cte: str) -> str:
    """Overlap/recall finish shared by the recall harnesses: joins
    the approx candidate set against the brute ground truth."""
    return f"""
    WITH brute AS MATERIALIZED ({_sql_brute_pairs()}),
    approx AS MATERIALIZED ({approx_cte}),
    nl AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx GROUP BY 1),
    ov AS (
      SELECT brute.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM brute JOIN approx USING (query_id, neighbor_id)
      GROUP BY 1
    )
    SELECT qs.query_id,
           coalesce(n_approx, 0) AS n_approx,
           coalesce(n_overlap, 0) AS n_overlap,
           CAST(coalesce(n_overlap, 0) AS DOUBLE) / 10.0 AS recall
    FROM (SELECT DISTINCT query_id FROM brute) qs
    LEFT JOIN nl USING (query_id)
    LEFT JOIN ov USING (query_id)
    """


def _recall_frame(brute: DataFrame, approx: DataFrame) -> DataFrame:
    """Spark-side mirror of :func:`_recall_select`.

    Round 16 (VERDICT r15 item 8, upgraded from cosmetic once
    measured): the join form consumed ``brute`` twice (overlap join +
    the query-id spine) and ``approx`` twice (count + overlap), and
    DataFrame plans share no common subtrees — so the EXPENSIVE
    upstreams (the brute-force ground truth and the whole IVF
    train/assign/probe pipeline) each executed twice per run. This
    union-flag form consumes each side exactly once: tag, reduce to
    (query, neighbor) grain, then count per query. Identical rows to
    the join form — both top-k inputs are distinct (query, neighbor)
    pairs by construction (row_number ≤ k), so the pair-grain max()
    reduction is lossless, queries with no approx rows sum to 0
    (== the old coalesce(left_outer)), and the spine filter keeps
    exactly the brute-side query ids. Measured 5.12 → 3.93 s solo at
    sf0.1 (min of two post-change invocations 3.93/4.23; the 2k-row
    fixture is job-count-bound, so most of the halved work hides in
    dispatch — the structural evidence is the plan, 90 → 42
    Exchange+Scan lines, one brute and one IVF pipeline instead of
    two of each); the oracle SQL (_recall_select) is untouched and
    the hash gate pins the equivalence."""
    merged = brute.select(
        "query_id",
        "neighbor_id",
        F.lit(1).alias("__b"),
        F.lit(0).alias("__a"),
    ).unionByName(
        approx.select(
            "query_id",
            "neighbor_id",
            F.lit(0).alias("__b"),
            F.lit(1).alias("__a"),
        )
    )
    pairs = merged.groupBy("query_id", "neighbor_id").agg(
        F.max("__b").alias("__b"), F.max("__a").alias("__a")
    )
    return (
        pairs.groupBy("query_id")
        .agg(
            F.sum("__a").cast("long").alias("n_approx"),
            F.sum(F.col("__a") * F.col("__b")).cast("long").alias("n_overlap"),
            F.max("__b").alias("__has_b"),
        )
        .filter(F.col("__has_b") == 1)
        .select(
            "query_id",
            "n_approx",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(10.0)).alias("recall"),
        )
    )


@query(
    "ivf_recall_eval",
    sql=_recall_select(
        f"SELECT query_id, neighbor_id FROM ({_sql_ivf_topk(nprobe=3)}) ivf_t"
    ),
    since=17,
)
def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the trained-quantizer IVF index (8 cells, nprobe
    3) against brute-force ground truth, per query — completes the
    ANN measurement pair next to ann_recall_eval (sign-LSH). Together
    they are the accuracy dashboard an embedding pipeline watches
    while tuning nprobe / bands against scan cost: the oracle replays
    k-means training, cell assignment, probing, AND the recall
    reduction, so the whole measurement loop is hash-checked."""
    from .operators.similarity import brute_force_topk, ivf_topk
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 5)
    brute = brute_force_topk(emb, q, k=10).select("query_id", "neighbor_id")
    ivf = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=3, dim=64).select(
        "query_id", "neighbor_id"
    )
    return _recall_frame(brute, ivf)


# E122 (ann_recall_eval, recall@10 of the sign-LSH index against the
# brute-force truth) was retired in round 12: the LSH bucketing under
# test is driver-gated by similarity_lsh_embeddings (whose oracle
# replays the bucketing), and the recall reduction it shared —
# _recall_select / _recall_frame down to the same brute ground-truth
# CTE — stays driver-gated through ivf_recall_eval, so the LSH copy
# of the harness added no independent evidence.


# ---- E150: MMR diversity re-ranking ---------------------------------

_MMR_LAMBDA = 0.7
_MMR_K = 5


def _sql_mmr() -> str:
    """Chained-CTE oracle replaying the greedy MMR selection: the
    candidate pool (exact top-10 of query 0) and its pairwise cosine
    matrix are CTEs; each greedy step is one argmax CTE referencing
    the union of previously selected rows.

    Every CTE is ``AS MATERIALIZED``: each step references all prior
    steps, so DuckDB's default CTE inlining re-expands the chain
    combinatorially — measured +28k process memory mappings (and the
    intermittent parity OOMs once the session crossed
    vm.max_map_count) vs +76 materialized, identical rows."""
    lam, om = "CAST('0.7' AS DOUBLE)", "CAST('0.3' AS DOUBLE)"
    base = f"""cand AS MATERIALIZED (
      SELECT neighbor_id, cosine AS sim_q FROM (
        SELECT c.vec_id AS neighbor_id,
               {_sql_cosine("q.embedding", "c.embedding")} AS cosine,
               ROW_NUMBER() OVER (
                 ORDER BY {_sql_cosine("q.embedding", "c.embedding")} DESC, c.vec_id
               ) AS rn
        FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE c.vec_id != 0
      ) WHERE rn <= 10
    ),
    pair AS MATERIALIZED (
      SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b,
             {_sql_cosine("ea.embedding", "eb.embedding")} AS sim
      FROM cand a JOIN cand b ON a.neighbor_id != b.neighbor_id
      JOIN embeddings ea ON ea.vec_id = a.neighbor_id
      JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    ),
    s1 AS MATERIALIZED (
      SELECT 1 AS rank, neighbor_id, sim_q AS mmr_score FROM cand
      ORDER BY sim_q DESC, neighbor_id LIMIT 1
    )"""
    ctes = [base]
    prev_union = "SELECT neighbor_id FROM s1"
    for i in range(2, _MMR_K + 1):
        ctes.append(f"""s{i} AS MATERIALIZED (
      SELECT {i} AS rank, c.neighbor_id,
             {lam} * c.sim_q - {om} * max_sim.ms AS mmr_score
      FROM cand c
      JOIN (
        SELECT id_a, MAX(sim) AS ms FROM pair
        WHERE id_b IN ({prev_union}) GROUP BY id_a
      ) max_sim ON max_sim.id_a = c.neighbor_id
      WHERE c.neighbor_id NOT IN ({prev_union})
      ORDER BY mmr_score DESC, c.neighbor_id LIMIT 1
    )""")
        prev_union += f" UNION ALL SELECT neighbor_id FROM s{i}"
    selects = " UNION ALL ".join(
        f"SELECT CAST(rank AS BIGINT) AS rank, neighbor_id, mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + selects


@query("mmr_rerank_embeddings", sql=_sql_mmr(), since=5)
def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversity pass a
    retrieval pipeline runs on its ANN shortlist: greedily pick 5 of
    the top-10 candidates maximizing λ·sim(query, d) −
    (1−λ)·max_{s∈selected} sim(d, s). The candidate pool and its
    pairwise cosine matrix are computed distributed (pool size k' is
    a constant, so the matrix is k'² — bounded); the greedy loop then
    runs k driver-side argmax steps over that bounded frame, each a
    one-row collect (the same scalar-per-iteration protocol as the
    CC convergence check — never a data collect). Oracle replays the
    full greedy recursion as chained CTEs."""
    from .operators.similarity import brute_force_topk, cosine
    from .tables import spread

    emb = spread(table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0)
    cand = (
        brute_force_topk(emb, q, k=10)
        .select("neighbor_id", F.col("cosine").alias("sim_q"))
        .join(emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
        .localCheckpoint()
    )
    a = cand.select(F.col("neighbor_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = cand.select(F.col("neighbor_id").alias("id_b"), F.col("embedding").alias("__vb"))
    pair = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("sim"))
        .localCheckpoint()
    )
    first = (
        cand.orderBy(F.col("sim_q").desc(), "neighbor_id")
        .limit(1)
        .select("neighbor_id", F.col("sim_q").alias("mmr_score"))
        .collect()[0]
    )
    selected = [(1, int(first.neighbor_id), float(first.mmr_score))]
    # NB: not 1.0 - _MMR_LAMBDA — Python would give 0.30000000000000004,
    # one ulp off the oracle's CAST('0.3' AS DOUBLE)
    lam, om = F.lit(_MMR_LAMBDA), F.lit(0.3)
    for rank in range(2, _MMR_K + 1):
        chosen = [s[1] for s in selected]
        ms = (
            pair.filter(F.col("id_b").isin(chosen))
            .groupBy("id_a")
            .agg(F.max("sim").alias("ms"))
        )
        step = (
            cand.filter(~F.col("neighbor_id").isin(chosen))
            .join(ms, F.col("neighbor_id") == F.col("id_a"))
            .select(
                "neighbor_id",
                (lam * F.col("sim_q") - om * F.col("ms")).alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), "neighbor_id")
            .limit(1)
            .collect()[0]
        )
        selected.append((rank, int(step.neighbor_id), float(step.mmr_score)))
    return spark.createDataFrame(selected, "rank long, neighbor_id long, mmr_score double")


# ---- E156: nearest-centroid classifier eval -------------------------
# (centroid_classifier_eval was retired in round 12: its exact
# scaled-integer per-label centroid arithmetic is driver-gated by
# embedding_centroids_by_label — the same E97 decimal(38,0) sums —
# and the broadcast-centroid / fold-distance / per-vector-argmin
# assignment shape is driver-gated by semantic_dedup_embeddings,
# whose oracle replays the identical assignment; the confusion-count
# finish is a plain two-key groupBy already exercised catalog-wide.)
