"""Embedding similarity search — brute-force cosine top-k + sign-LSH.

Extension surface for the ``embeddings`` fixture (``array<float>``).
Two paths, mirroring how a real pipeline scales:

- **Brute force** (baseline): broadcast the (small) query set against
  the corpus, cosine per pair, two-phase top-k. Exact; cost is
  |Q|·|corpus| cosines — fine for small |Q| at any corpus size
  because the corpus never shuffles (queries are broadcast, the scan
  streams).
- **Sign-LSH** (scale path): random-hyperplane sketch — bucket id =
  sign bits of projections onto pseudo-random ±1 planes. Candidates
  only meet within a bucket (shuffle keys on the bucket id), cosine
  is computed for candidates only. Approximate; recall tunable by
  planes/tables.

Everything is JVM-side array arithmetic (``zip_with`` +
``aggregate`` left-folds in double) — no Python UDF. The fold order
is the engine-portable part: a strict left fold over the 64 elements
gives bit-identical doubles in Spark and DuckDB, which is what lets
even the LSH bucket assignment go through the hash oracle.

Plane construction: plane ``j``'s component for dimension ``i`` is
±1 by the parity of the first hex digit of ``md5("<j>_<i>")`` — an
engine-portable deterministic pseudo-random sign matrix, no stored
plane table needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .topk import grouped_topk

_HEX = "0123456789abcdef"


def dot_double(a: Column, b: Column) -> Column:
    """Strict left-fold dot product in double — deterministic and
    engine-portable (same fold order → same IEEE result)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every query vector.

    ``queries`` must be small — it is broadcast, so the corpus never
    shuffles for the join; the only exchanges are the two bounded
    top-k phases. Output: query_id, neighbor_id, cosine, rn."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        salt_col=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rn")


def lsh_bucket(vec: Column, planes: int = 4) -> Column:
    """Sign-LSH bucket id in [0, 2^planes): bit j is the sign of the
    projection onto pseudo-random ±1 plane j (md5-parity signs)."""

    def proj(j: int) -> Column:
        def step(acc: Column, i: Column) -> Column:
            h = F.md5(F.concat(F.lit(f"{j}_"), i.cast("string")))
            parity = (F.instr(F.lit(_HEX), F.substring(h, 1, 1)).cast("long") - 1) % 2
            sign = F.when(parity == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
            return acc + F.element_at(vec, i).cast("double") * sign

        return F.aggregate(F.sequence(F.lit(1), F.size(vec)), F.lit(0.0), step)

    bucket = F.lit(0).cast("long")
    for j in range(planes):
        bucket = bucket + F.when(proj(j) > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: candidates share the query's LSH
    bucket, cosine computed within-bucket only. The join shuffles on
    the bucket id — corpus-size-proportional work, never |Q|·|corpus|.
    Output: query_id, neighbor_id, cosine, rn (rank within found
    candidates)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        lsh_bucket(F.col(vec_col), planes).alias("__bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        lsh_bucket(F.col(vec_col), planes).alias("__bkt"),
    )
    scored = (
        c.join(F.broadcast(q), ["__bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("cosine"))
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        salt_col=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rn")


#: K ceiling for the one-row centroid fold (VERDICT r15 item 5). The
#: collected array is ONE row of K·dim doubles broadcast to every
#: executor, and the fold is O(K·dim) per corpus row — fine at the
#: k-means K of 8–64 and comfortable to ~16k cells × dim 64 (≈ 8M
#: doubles, a ~64 MB broadcast row). A 100 TB deployment sizing K ~
#: √n beyond that must NOT silently build a near-GB single row: the
#: assertion below fails the job loudly, and ``ivf_assign(...,
#: large_k=True)`` keeps the window-rank path alive as the documented
#: fallback (bit-equal order, shuffles |corpus|·K scored rows).
_CENTROID_FOLD_MAX = 16_384


def _centroid_array(k: DataFrame) -> DataFrame:
    """Collapse a (cell, __kv) centroid table into ONE row holding an
    array of (cell, kv) structs — the broadcastable form that makes
    cell assignment a row-local fold (see :func:`_nearest_cell`).
    Executes a runtime K-ceiling check on the single collected row
    (``_CENTROID_FOLD_MAX``): an oversized centroid set fails loudly
    instead of degrading into a giant broadcast row."""
    arr = F.collect_list(F.struct(F.col("cell"), F.col("__kv").alias("kv")))
    return k.agg(
        F.when(F.size(arr) <= F.lit(_CENTROID_FOLD_MAX), arr)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "ivf_assign: centroid count exceeds the one-row fold "
                        f"ceiling ({_CENTROID_FOLD_MAX}); pass large_k=True "
                        "to take the window-rank assignment path"
                    )
                )
            )
        )
        .alias("__cents")
    )


def _nearest_cell(vec: Column, cents_arr: Column) -> Column:
    """struct(c, cell) of ``vec``'s nearest centroid from the
    collected centroid array — a pure projection (no shuffle, no
    sort). The fold comparison replicates a (cosine DESC, cell ASC)
    window order exactly: NaN ranks greatest (Spark's comparison
    operators follow its NaN total order), a NULL cosine loses to any
    non-NULL, and an all-NULL row keeps the smallest cell id. The
    winner is permutation-invariant (strict total order with a
    deterministic tie-break), so ``collect_list``'s nondeterministic
    order cannot leak into the result.

    Two stages on purpose: ``transform`` scores every centroid ONCE,
    then the fold only compares the scored structs — a single-stage
    fold that builds the scored struct inside its comparison branches
    re-evaluates the 64-term cosine on every reference (lambda bodies
    get no common-subexpression elimination; measured ~5× the
    arithmetic)."""
    scored = F.transform(
        cents_arr,
        lambda ct: F.struct(cosine(vec, ct["kv"]).alias("c"), ct["cell"].alias("cell")),
    )

    def step(acc: Column, x: Column) -> Column:
        take = (
            (x["c"].isNotNull() & acc["c"].isNull())
            | (x["c"] > acc["c"])
            | (x["c"].eqNullSafe(acc["c"]) & (x["cell"] < acc["cell"]))
        )
        # init sentinel: both fields NULL → take unconditionally
        return F.when(acc["c"].isNull() & acc["cell"].isNull(), x).otherwise(
            F.when(take, x).otherwise(acc)
        )

    init = F.struct(
        F.lit(None).cast("double").alias("c"), F.lit(None).cast("long").alias("cell")
    )
    return F.aggregate(scored, init, step)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    train_mod: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column —
    the trained coarse quantizer for IVF. Output: (cell, vec_col).

    Every step is engine-portable so a SQL oracle can replay the
    whole training loop and the hash gate covers the centroids
    themselves:

    - init: the first ``k`` corpus vectors (no RNG);
    - train sample: ids ≡ 0 mod ``train_mod`` — a deterministic,
      content-keyed sample, so training cost is sample-sized while
      the full corpus is only touched at assignment time (the
      offline-train / online-assign split a real IVF deployment
      uses);
    - E-step: nearest centroid by the strict-left-fold cosine
      (bit-identical doubles), ties broken on cell id;
    - M-step: element-wise mean via exact DECIMAL(38,10) sums
      (order-independent under any partitioning) divided in double.

    Cells that attract no sample vectors drop out identically in
    both engines (inner-join semantics)."""
    from ..tables import memo_checkpoint

    sample = (
        corpus.filter((F.col(id_col) % train_mod) == 0) if train_mod > 1 else corpus
    )
    cents = corpus.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("long").alias("cell"), F.col(vec_col).alias("__kv")
    )
    # the M-step's no-explode shape needs the (fixed) vector
    # width: either declared by the caller — then asserted per row
    # via checked_dim, so a wrong declaration fails loudly instead
    # of computing truncated means — or probed with one bounded
    # 1-row collect. IVF vectors are fixed-dim by construction
    # (ragged input would already break the banded-LSH assertion).
    d = dim if dim is not None else len(corpus.select(vec_col).head()[0])
    s = sample.select(
        F.col(id_col).alias("__vid"),
        (checked_dim(F.col(vec_col), d) if dim is not None else F.col(vec_col)).alias(
            "__v"
        ),
    )
    for _ in range(iters):
        # E-step as a row-local fold over the collected centroid
        # array (same winner as the old (cos DESC, cell) window —
        # see _nearest_cell): the old per-iteration shuffle+sort
        # of |sample|·K scored rows is gone; assignment is a
        # projection behind a 1-row broadcast.
        assigned = s.join(F.broadcast(_centroid_array(cents))).select(
            _nearest_cell(F.col("__v"), F.col("__cents"))["cell"].alias("cell"),
            "__v",
        )
        # M-step: element-wise mean as ``dim`` per-position DECIMAL
        # sums in ONE partial-aggregable groupBy — replaces the old
        # posexplode → groupBy(cell, pos) → collect_list/sort_array
        # re-assembly (two shuffles of |sample|·dim exploded rows).
        # DECIMAL addition is exact and order-independent, so the
        # sums — and the double division by the cell count — are
        # bit-identical to the exploded form the oracle replays.
        # Emitted as ONE parsed expression: the Column-composed
        # form costs dim × ~7 py4j round trips per iteration
        # (~3 s of pure driver time at dim 64 — the same trap
        # banded_lsh_bucket documents).
        mus = ", ".join(
            "CAST(sum(CAST(CAST(element_at(__v, {i}) AS DOUBLE)"
            " AS DECIMAL(38,10))) AS DOUBLE) / CAST(count(1) AS DOUBLE)".format(i=i)
            for i in range(1, d + 1)
        )
        cents = assigned.groupBy("cell").agg(F.expr(f"array({mus})").alias("__kv"))
    # training stays one lazy plan (each operator executes once — no
    # diamonds inside the loop); the checkpoint materializes the k-row
    # quantizer once, so every consumer in this call reads k rows
    # instead of re-running the training plan.
    cents = memo_checkpoint(cents, "kmeans_centroids")
    return cents.select("cell", F.col("__kv").alias(vec_col))


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    keep_vec: bool = False,
    large_k: bool = False,
) -> DataFrame:
    """IVF cell assignment: each vector's ``nprobe`` nearest
    centroids by cosine (deterministic tie-break on centroid id).
    ``centroids`` is a (cell, vec_col) table — e.g. the output of
    :func:`kmeans_centroids` — and is broadcast; cost is |corpus|·K
    cosines — linear, which is the whole point of IVF. Output: id,
    cell, probe_rank (+ ``vec_col`` when ``keep_vec``).

    ``nprobe=1`` (the corpus-sized path) is an argmax, not a rank,
    and with the centroids broadcast the argmax is ROW-LOCAL: the
    K centroids are collected into one array row, cross-attached by a
    1-row broadcast, and each vector folds its nearest centroid out
    of that array in a single projection — ZERO exchanges, nothing
    sorted, and the vector never leaves its row (``keep_vec`` is
    free). The fold's comparison replicates the old window's
    (cosine DESC, cell ASC) total order exactly, including the edges:
    NaN ranks greatest (Spark comparison operators follow the NaN
    total order), a NULL cosine loses to any non-NULL, and an
    all-NULL row keeps the smallest cell id. The old plan shuffled
    and sorted all |corpus|·K scored rows just to rank them per
    vector. ``centroids`` must be non-empty (K ≥ 1 by construction).

    ``nprobe>1`` (the query-side path, |Q| rows) keeps the window
    rank, as does ``large_k=True``: the fold's one-row centroid array
    is bounded at ``_CENTROID_FOLD_MAX`` cells (asserted at runtime —
    see :func:`_centroid_array`), and a deployment sizing K past it
    opts into the window path explicitly (same total order, so the
    results are bit-identical; it shuffles the |corpus|·K scored rows
    the fold avoids)."""
    c = corpus.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    k = centroids.select("cell", F.col(vec_col).alias("__kv"))
    if nprobe == 1 and not large_k:
        arr = _centroid_array(k)
        best = _nearest_cell(F.col("__v"), F.col("__cents"))
        return c.join(F.broadcast(arr)).select(
            F.col("__vid").alias(id_col),
            best["cell"].alias("cell"),
            F.lit(1).alias("probe_rank"),
            *([F.col("__v").alias(vec_col)] if keep_vec else []),
        )
    scored = c.join(F.broadcast(k)).select(
        "__vid", "__v", "cell", cosine(F.col("__v"), F.col("__kv")).alias("__cos")
    )
    w = Window.partitionBy("__vid").orderBy(F.col("__cos").desc(), F.col("cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col("__vid").alias(id_col),
            "cell",
            F.col("__rn").alias("probe_rank"),
            *([F.col("__v").alias(vec_col)] if keep_vec else []),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    train_mod: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: centroids come from
    deterministic Lloyd's k-means (:func:`kmeans_centroids` — init =
    first ``n_centroids`` vectors, ``iters`` refinement passes over a
    1/``train_mod`` sample), corpus vectors are assigned to their
    nearest cell, each query probes its ``nprobe`` nearest cells and
    ranks candidates by exact cosine within them. The scan never
    compares a query against vectors outside probed cells — the
    inverted-file structure IS the shuffle key. Output: query_id,
    neighbor_id, cosine, rn."""
    # a projection of the k-row checkpointed quantizer: persisting it
    # again would only copy k rows
    cents = kmeans_centroids(corpus, id_col, vec_col, n_centroids, iters, train_mod, dim)
    # keep_vec: the assignment aggregate carries each vector next to
    # its cell, so no corpus-by-id re-join is needed to build the
    # inverted file — one shuffle join of the full corpus removed
    corpus_cells = ivf_assign(
        corpus, cents, id_col, vec_col, nprobe=1, keep_vec=True
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    )
    probes = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "cell"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    scored = (
        corpus_cells.join(F.broadcast(probes), "cell")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("cosine"))
        # no dedup needed: each corpus vector lives in exactly one cell
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        salt_col=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rn")


def plane_signs(table: int, plane: int, dim: int) -> list[float]:
    """±1 components of pseudo-random plane ``plane`` in LSH table
    ``table``: the parity of the first hex digit of
    ``md5("t<table>:<plane>_<i>")`` — the same md5-parity family as
    :func:`lsh_bucket`, but hashed ONCE driver-side and shipped as a
    literal array, so the per-row work is pure multiply-add (no
    per-element md5 in the hot path). Deterministic, no stored plane
    table, replayable in any engine."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"t{table}:{plane}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(1, dim + 1)
    ]


def checked_dim(vec: Column, dim: int) -> Column:
    """``vec``, asserted to have exactly ``dim`` elements. A wrong
    ``dim`` would make zip_with null-pad the projection, silently
    collapsing every affected plane bit to 0 (wrong buckets, lost
    recall, no error) — fail loudly instead."""
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.format_string(
                f"banded_lsh: vector length %s != declared dim {dim}", F.size(vec)
            )
        )
    )


def banded_lsh_bucket(vec_sql: str, table: int, planes: int, dim: int) -> Column:
    """Sign-LSH bucket id in [0, 2^planes) for one hash table: bit j
    is the sign of the projection onto literal ±1 plane j (strict
    left-fold in double — engine-portable). ``dim`` must equal the
    vector length (zip_with would null-pad otherwise — enforced by a
    :func:`checked_dim` assertion at the banded entry point).

    ``vec_sql`` is a column name / SQL fragment: the whole table's
    bucket expression is emitted as ONE F.expr string. The
    Column-composed form issued tables × planes × dim py4j calls just
    for the ±1 literal arrays (measured ~4.4 s of driver time per
    embedding_near_pairs build at 16 planes × 4 tables × 64 dims);
    the parsed fold is arithmetically identical."""
    terms = []
    for j in range(planes):
        signs = ", ".join(f"{s}D" for s in plane_signs(table, j, dim))
        proj = (
            f"aggregate(zip_with({vec_sql}, array({signs}),"
            f" (x, s) -> CAST(x AS DOUBLE) * s), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"IF({proj} > 0, {2**j}L, 0L)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def embedding_near_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    planes: int = 16,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) via banded multi-table sign-LSH — the embedding
    analogue of MinHash-LSH banding: candidates meet only inside a
    (table, bucket) cell, the exact cosine runs on candidates only.

    Scale math (the reason for the shape): one 16-plane table has
    2¹⁶ = 65 536 buckets, so expected occupancy is n/65 536 and the
    within-bucket self-join stays near-linear at 10⁹ rows — where the
    round-2 single-table planes=4 design (16 buckets, O(n²/16)) went
    quadratic. Multiple tables buy recall the way MinHash bands do:
    P[meet] = 1 − (1 − p^planes)^tables for per-plane agreement p, so
    4 tables × 16 planes catches high-cosine pairs while keeping
    random pairs apart. Identical vectors collide in every table.

    Plan: corpus → explode to (table, bucket) keys → per-cell
    self-join → DISTINCT candidate ids → join vectors back → exact
    cosine ≥ threshold. Shuffles key on (table, bucket) and on id —
    never all-pairs. Output: id_a, id_b, cosine."""
    from ..tables import memo_checkpoint

    base = corpus.select(
        F.col(id_col).alias("__id"), checked_dim(F.col(vec_col), dim).alias("__v")
    )

    # lineage-truncate the banded keys via the checkpoint memo (NOT
    # memo_persist): the bucket projection carries
    # tables × planes × dim md5-derived hyperplane terms, so even
    # ANALYZING the frame (per-leg resolution in the self-join below)
    # costs seconds per call — the same trap the SimHash signature
    # table documents at tables.memo_checkpoint. The self-join's two
    # legs read the checkpointed blocks (the signature-table parquet
    # write is the durable form at cluster scale).
    banded = memo_checkpoint(
        base.select(
            "__id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            banded_lsh_bucket("__v", t, planes, dim).alias("bkt"),
                        )
                        for t in range(tables)
                    ]
                )
            ).alias("b"),
        ).select("__id", "b.tbl", "b.bkt"),
        "embnear_banded",
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bkt") == F.col("r.bkt"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 2,
    train_mod: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    compare vectors ONLY within their cluster — a ≥``threshold``
    cosine to a lower-id cluster-mate marks a vector as a semantic
    duplicate. Output: (id_col, cell, keep).

    Keep policy: minimum id per ε-neighborhood (deterministic and
    engine-portable; the paper keeps the member farthest from the
    centroid — same cardinality, different representative).

    Scale shape: centroids are broadcast (assignment is |corpus|·k
    cosines, narrow); the pair join shuffles on the cell id, and the
    within-cell comparison is O(n²/k) total — the published config
    scales k with the corpus (k ≈ n / target-cluster-size, e.g.
    50k clusters for 100M embeddings) precisely so cell occupancy
    stays bounded. The k-means training loop is sample-sized
    (1/``train_mod``), deterministic, and oracle-replayable."""
    from ..tables import memo_persist

    cents = kmeans_centroids(corpus, id_col, vec_col, n_centroids, iters, train_mod, dim)
    # both self-join legs read the assignment frame — persist it via
    # the single-slot memo so the |corpus|·k assignment cosines run
    # once, not once per leg (at real scale this is the parquet-write
    # boundary between the assign and compare stages). keep_vec rides
    # each vector through the assignment aggregate, so the old
    # corpus-by-id re-join that reattached vectors is gone outright.
    withv = memo_persist(
        ivf_assign(corpus, cents, id_col, vec_col, nprobe=1, keep_vec=True).select(
            F.col(id_col).alias("__id"), "cell", F.col(vec_col).alias("__v")
        ),
        "semantic_cells",
    )
    cells = withv.select("__id", "cell")
    a, b = withv.alias("a"), withv.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("b.__id").alias("__dropped"),
            cosine(F.col("a.__v"), F.col("b.__v")).alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select("__dropped")
        .distinct()
    )
    return (
        cells.join(dropped, cells["__id"] == dropped["__dropped"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cell",
            F.col("__dropped").isNull().alias("keep"),
        )
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Arrow-batched alternative to :func:`brute_force_topk`: the
    cosine runs as a vectorized ``pandas_udf`` (numpy over Arrow
    batches) instead of the JVM left-fold — the sanctioned shape when
    per-element logic outgrows built-in HOFs (real embedding math:
    fp16 decode, quantized dot products, learned metrics).

    Same plan skeleton as the JVM path (broadcast queries, two-phase
    top-k); only the score expression crosses into Python, in Arrow
    batches, never row-at-a-time. Results match the JVM fold to float
    tolerance (numpy sums pairwise; the fold is strictly
    left-to-right), so this path has no value-hash oracle — the
    equivalence is pinned in tests/test_similarity.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: annotations must be real types, not strings — the module's
    # `from __future__ import annotations` would stringify inline
    # hints and break pandas_udf's signature inference
    def _cos_impl(a, b):
        av = np.array(a.tolist(), dtype=np.float64)
        bv = np.array(b.tolist(), dtype=np.float64)
        num = (av * bv).sum(axis=1)
        den = np.sqrt((av * av).sum(axis=1)) * np.sqrt((bv * bv).sum(axis=1))
        return pd.Series(num / den)

    _cos_impl.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    _cos = pandas_udf("double")(_cos_impl)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", _cos(F.col("__qv"), F.col("__cv")).alias("cosine")
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id")],
        k,
        salt_col=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rn")
