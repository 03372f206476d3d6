"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard.

Extension surface (the reference has no dedup — SURVEY.md §2); these
are the operators a training-data pipeline runs over a 100 TB
``documents`` corpus, so every one of them is built around the same
scale rule: **never compare all pairs**. Comparisons happen only
inside hash buckets:

- exact:    one shuffle on md5(normalized text) — groups are
            identical docs only.
- MinHash:  shuffle on (band_id, band_hash); docs meet only when a
            band of their MinHash signatures collides (standard LSH
            banding: P[collide] ≈ 1 - (1 - J^r)^b).
- SimHash:  shuffle on (band_id, 16-bit chunk of the 64-bit
            signature); near-identical docs share ≥1 of 4 bands
            whenever their Hamming distance ≤ 3 (pigeonhole).
- n-gram Jaccard: blocked by a caller-supplied key (e.g. ``source``)
            — quadratic only within a block, never globally.

All hashing goes through functions/hashing.py (seeded MD5 family +
shingles), which both Spark and DuckDB compute bit-identically — the
whole pipeline, including the LSH bucketing, is mirrored in oracle
SQL by queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import word_shingles
from ..functions.text import normalize_text
from ..tables import spread

# ---------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------


def exact_dedup_summary(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: its hash, how many
    copies exist, and the representative (minimum) id — the
    map-reduce shape of exact dedup: single shuffle on the hash,
    output cardinality = number of distinct documents."""
    return (
        df.select(
            F.md5(normalize_text(text_col)).alias("text_hash"), F.col(id_col).alias("__id")
        )
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("__id").alias("keep_id"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (minimum id) per distinct normalized
    text. Window-min instead of join-back: one shuffle on the hash."""
    w = Window.partitionBy(F.md5(normalize_text(text_col)))
    return (
        df.withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


# ---------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------

#: modulus of the multiply-shift MinHash family: largest prime < 2^32.
#: a·h + b stays < 2^52 (a, b < 2^20; h < 2^32), so the arithmetic is
#: exact in both Spark longs and DuckDB BIGINTs (no overflow, which
#: DuckDB would raise on).
MINHASH_P = 4_294_967_291


def _mh_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash i of the family, derived from
    md5 so both engines can embed them as plain literals. a is odd."""
    import hashlib

    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:5], 16) | 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:5], 16)
    return a, b


def shingle_set(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text — the
    set MinHash approximates Jaccard over."""
    return F.array_distinct(word_shingles(normalize_text(text_col), n=n))


def shingle_hashes32(shingles: Column) -> Column:
    """One 32-bit base hash per shingle (first 8 hex digits of its
    md5) — computed ONCE; the k-hash family below is cheap integer
    arithmetic on top, not k separate md5 passes."""
    return F.transform(
        shingles, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
    )


def minhash_band_hashes(
    shingle_h32: str, num_hashes: int = 16, bands: int = 4
) -> list[Column]:
    """One integer hash per LSH band. MinHash i = min over shingles
    of (aᵢ·h32 + bᵢ) mod P — the classic multiply-mod permutation
    family over the per-shingle base hash; band j combines its
    ``num_hashes/bands`` MinHashes with an exact polynomial
    (values < 2^47, no overflow).

    ``shingle_h32`` is a column NAME (or SQL fragment): each band is
    emitted as ONE F.expr string — the Column-composed form built
    ~100 nested expressions through py4j per call (~0.4 s of driver
    time); the parsed plan is identical."""
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    r = num_hashes // bands

    def mh_sql(i: int) -> str:
        a, b = _mh_coeffs(i)
        return (
            f"array_min(transform({shingle_h32},"
            f" h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
        )

    out = []
    for j in range(bands):
        bh = mh_sql(j * r)
        for i in range(j * r + 1, (j + 1) * r):
            bh = f"({bh} * 31 + {mh_sql(i)})"
        out.append(F.expr(bh))
    return out


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    """(id, shingle set, per-shingle 32-bit hashes), persisted via the
    single-slot memo (tables.memo_persist): the signature table is
    read by both sides of the bucket self-join and by the verify join
    — at scale this is the materialized signature table every LSH
    dedup pipeline writes once and reuses. Each call re-persists the
    frame and unpersists the previous call's."""
    from ..tables import memo_persist

    sh = spread(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))).select(
        "__id", shingle_set("__t", shingle_n).alias("__sh")
    ).withColumn("__h32", shingle_hashes32(F.col("__sh")))
    return memo_persist(sh, "minhash_signatures")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(id_a < id_b)`` from MinHash
    LSH banding. The only shuffle keys on (band_id, band_hash); the
    self-join compares docs *within a bucket only* — never all pairs.
    Output: id_a, id_b (distinct)."""
    sh = _sh if _sh is not None else _shingle_frame(df, id_col, text_col, shingle_n)
    bhs = minhash_band_hashes("__h32", num_hashes, bands)
    banded = sh.select(
        "__id",
        F.explode(
            F.array(*[F.struct(F.lit(j).alias("band_id"), bh.alias("bh")) for j, bh in enumerate(bhs)])
        ).alias("b"),
    ).select("__id", "b.band_id", "b.bh")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def jaccard_on_shingles(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (already-distinct) shingle arrays:
    |a ∩ b| / (|a|+|b|−|a ∩ b|). ``array_intersect`` is the native
    hash-set intersection — measured ~4× faster than the equivalent
    ``filter(a, x -> array_contains(b, x))`` HOF (which rescans ``b``
    per element); identical count because the inputs are distinct."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union.cast("double")


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash near-dup pipeline: LSH candidates → exact Jaccard
    verify → pairs ≥ threshold. Output: id_a, id_b, jaccard.

    Scale shape: candidates ≪ all-pairs (bucketed), and the verify
    join touches only candidate ids — two broadcast-or-shuffle joins
    proportional to the candidate count, not |corpus|²."""
    sh = _shingle_frame(df, id_col, text_col, shingle_n)
    cand = lsh_candidate_pairs(df, id_col, text_col, num_hashes, bands, shingle_n, _sh=sh)
    shs = sh.select("__id", "__sh")
    j = (
        cand.join(shs.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(shs.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard_on_shingles(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )
    return j.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash64(text_col: str) -> Column:
    """64-bit SimHash of the normalized text's tokens (frequency-
    weighted), as a struct of two 32-bit words ``(s0, s1)`` — the
    split keeps every value well inside a signed long (a single
    64-bit integer would need bit 63 = 2⁶³, which overflows, and
    DuckDB BIGINTs raise on overflow rather than wrap). Word 0 takes
    md5 hex digits 1-8 (bits 0-31), word 1 digits 9-16 (bits 32-63).

    Bit b is 1 iff the sum over tokens of ±1 (the token's md5 bit b)
    is positive. Pure built-in expressions: per-token md5 once, then
    64 integer folds over the token-hash array — no UDF,
    engine-portable (bit b of a hex digest = digit arithmetic on
    ``instr('0123456789abcdef', ...)``).

    64 bits (vs the round-2 32) is what makes the banding below
    scale: 16-bit bands give 65 536 bucket keys per band instead of
    256 — the published SimHash-dedup shape (Manku et al., WWW'07
    use 64-bit fingerprints with Hamming ≤ 3)."""
    from ..functions.hashing import let_bound

    th_expr = F.transform(F.split(normalize_text(text_col), " "), lambda t: F.md5(t))

    def bit_fold(digit_pos: int, bit_w: int):
        # returns a 2-arg merge fn (PySpark rejects extra default args)
        def merge(acc, h):
            hexval = F.instr(F.lit(_HEX), F.substring(h, digit_pos, 1)).cast("long") - 1
            return acc + (F.floor(hexval / bit_w) % 2) * 2 - 1

        return merge

    def word(th: Column, digit_base: int) -> Column:
        # th is a materialized lambda variable: the folds iterate the
        # already-computed digest array. Without the let-binding each
        # fold re-evaluates normalize+split+md5 — measured 15× slower
        # at sf0.1 (the HOF re-evaluation trap, see let_bound).
        total = F.lit(0).cast("long")
        for b in range(32):
            contrib = F.aggregate(
                th, F.lit(0).cast("long"), bit_fold(digit_base + b // 4, 2 ** (b % 4))
            )
            total = total + F.when(contrib > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
        return total

    return let_bound(
        th_expr, lambda th: F.struct(word(th, 1).alias("s0"), word(th, 9).alias("s1"))
    )


def simhash64_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(__id, __s0, __s1)`` — the 64-bit SimHash of every row,
    computed in aggregate form: explode tokens → md5 once per token →
    two ``conv`` calls turn the digest halves into 32-bit integer
    words → 64 bit-extractions (constant shift + mask, whole-stage
    codegen) summed in ONE hash aggregate keyed on the id, packed
    two counters per buffer long (32-bit lanes).

    Bit-identical to ``simhash64`` (pinned in tests/test_dedup.py):
    signature bit b = 1 iff tokens-with-bit-set > tokens/2 strictly,
    which is exactly the fold's ``sum(±1) > 0`` sign rule. The
    aggregate form exists because 64 ``F.aggregate`` HOF folds are
    interpreted per element — measured 23s vs 2s at sf0.1 (5k docs)
    for the same signatures. Docs with NULL text keep the column
    form's (0, 0) signature via the union branch."""
    src = spread(df).select(F.col(id_col).alias("__id"), normalize_text(text_col).alias("__t"))
    tok = (
        src.filter(F.col("__t").isNotNull())
        .select("__id", F.explode(F.split("__t", " ")).alias("__tok"))
        .select("__id", F.md5("__tok").alias("__h"))
    )
    words = tok.select(
        "__id",
        F.conv(F.substring("__h", 1, 8), 16, 10).cast("long").alias("__w0"),
        F.conv(F.substring("__h", 9, 8), 16, 10).cast("long").alias("__w1"),
    )

    # The wide expressions below are emitted as SQL strings through
    # F.expr, not composed Column-by-Column: the Column form issues
    # ~800 py4j calls to build the tree (measured 1.2-2.2 s of driver
    # time PER CALL at 32 cores — more than the query's whole
    # execution), while expr() ships one string per aggregate and the
    # JVM parses it in milliseconds. The parsed plan is identical.

    def lane_shift(b: int) -> int:
        # signature bit b reads md5 hex digit 1 + b//4 (MSB-first in
        # the conv word) at nibble weight 2^(b%4) — same mapping as
        # simhash64's (digit_pos, bit_w) fold.
        return 28 - 4 * (b // 4) + (b % 4)

    def packed_sum(word: str, g: int) -> Column:
        # bit-counters for bits g and g+16 of ``word`` packed into one
        # long as two 32-bit lanes: SUM over tokens of
        # (bit_g) | (bit_{g+16} << 32). Halves the aggregation state
        # (33 buffer longs vs 65) and the partial-agg shuffle bytes;
        # a 32-bit lane holds counts for docs up to 2³² tokens, so no
        # realistic document overflows a lane.
        return F.expr(
            f"sum((shiftright({word}, {lane_shift(g)}) & 1)"
            f" + shiftleft(shiftright({word}, {lane_shift(g + 16)}) & 1, 32))"
        )

    agg = words.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[packed_sum("__w0", g).alias(f"__c0_{g}") for g in range(16)],
        *[packed_sum("__w1", g).alias(f"__c1_{g}") for g in range(16)],
    )

    def assemble(prefix: str) -> Column:
        terms = []
        for b in range(32):
            g, k = b % 16, b // 16
            cnt = f"(shiftright(__{prefix}_{g}, {32 * k}) & 4294967295)"
            terms.append(f"if(2 * {cnt} > __n, {2**b}L, 0L)")
        return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")

    sig = agg.select("__id", assemble("c0").alias("__s0"), assemble("c1").alias("__s1"))
    nulls = src.filter(F.col("__t").isNull()).select(
        "__id", F.lit(0).cast("long").alias("__s0"), F.lit(0).cast("long").alias("__s1")
    )
    return sig.unionByName(nulls)


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance ≤
    ``max_hamming``, bucketed by 16-bit signature chunks (pigeonhole:
    distance ≤ 3 over 4 bands ⇒ at least one band identical) — the
    shuffle keys on (band_id, 16-bit value), never all pairs.

    Scale math: 4 × 2¹⁶ band keys (vs 4 × 2⁸ for byte-banded 32-bit)
    means expected bucket occupancy n/65 536 per band — the
    within-bucket self-join stays near-linear on a 10⁹-doc corpus
    where a 256-bucket scheme goes quadratic. Output: id_a, id_b,
    hamming.

    The signature frame is memo-checkpointed (tables.memo_checkpoint,
    same single-slot design as the MinHash signature table): each call
    computes the signatures once for the band join's two sides, and
    the lineage truncation keeps per-query re-analysis of the
    65-expression aggregate out of the hot path."""
    from ..tables import memo_checkpoint

    sig = memo_checkpoint(simhash64_frame(df, id_col, text_col), "simhash_signatures")
    bands = [
        F.floor(F.col("__s0") / F.lit(65536)).cast("long"),
        (F.col("__s0") % F.lit(65536)).cast("long"),
        F.floor(F.col("__s1") / F.lit(65536)).cast("long"),
        (F.col("__s1") % F.lit(65536)).cast("long"),
    ]
    banded = sig.select(
        "__id",
        "__s0",
        "__s1",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band_id"), bv.alias("bv"))
                    for j, bv in enumerate(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "__s0", "__s1", "b.band_id", "b.bv")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = (
        F.bit_count(F.col("a.__s0").bitwiseXOR(F.col("b.__s0")))
        + F.bit_count(F.col("a.__s1").bitwiseXOR(F.col("b.__s1")))
    ).cast("long")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------
# blocked n-gram Jaccard
# ---------------------------------------------------------------------


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard *within a block* (same
    ``block_col`` value) — the classic blocking strategy when a
    natural partition key exists. Quadratic only in the block size;
    the join shuffles on the block key. Output: block, id_a, id_b,
    jaccard (≥ threshold)."""
    from ..tables import memo_persist

    # both self-join legs read the (block, id, shingle-set) frame —
    # persist it so the shingle + block-key projection (the expensive
    # part: char-fingerprint block keys) computes once, not per leg.
    sh = memo_persist(
        df.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias("__id"),
            shingle_set(text_col, shingle_n).alias("__sh"),
        ),
        "jaccard_blocks",
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__blk").alias(block_col),
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jaccard_on_shingles(F.col("a.__sh"), F.col("b.__sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
