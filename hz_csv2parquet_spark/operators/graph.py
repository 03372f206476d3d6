"""Connected components over near-duplicate pair graphs.

The missing last step of every fuzzy-dedup pipeline: MinHash/SimHash
verification emits *pairs*, but duplicates are transitive — doc A ~ B
and B ~ C must collapse into ONE cluster with one kept representative,
or the corpus keeps ⌈cluster/2⌉ copies. The published pipelines
(RefinedWeb, SlimPajama, Dolma) all run a connected-components pass
over the verified-pair graph for exactly this reason.

Spark-first shape: iterative **min-label propagation** on DataFrames —
each vertex starts labeled with its own id; every iteration each
vertex takes the minimum label among itself and its neighbors. Labels
are monotone non-increasing and reach the component-minimum fixpoint
in ``diameter`` iterations.

Scale analysis (the reason this survives 100 TB):

- Per iteration: ONE shuffle join of edges against labels keyed on
  the (high-cardinality) vertex id + one min-aggregate. No all-pairs
  anything; cost is O(|E| + |V|) per iteration.
- Iteration count = graph diameter. Near-dup clusters are dense
  (every member pairs with most others through LSH), so diameters are
  tiny — 2-3 hops covers real dup clusters; ``max_iter`` is a safety
  bound, not the expected count. For adversarial long-chain graphs
  the alternating large-star/small-star algorithm (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) halves
  diameters per round; min-propagation is the right trade for dup
  graphs.
- Convergence detection is a single scalar aggregate (sum of labels,
  exact decimal so 10⁹-scale ids can't overflow) — labels only
  decrease, so an unchanged sum IS the fixpoint. One driver-side
  scalar per iteration, never a row collect.
- Each iteration's label frame is persisted and the previous one
  unpersisted — the working set is one (v, lbl) table, not the
  lineage chain — and every ``_CHECKPOINT_EVERY`` iterations the
  frame is localCheckpoint'ed instead, truncating the logical plan so
  analysis cost stays bounded on adversarial long-diameter graphs
  (pinned by the path-graph test in tests/test_dedup.py).
- The final labels frame is routed through the single-slot memo
  (tables.memo_persist): each invocation evicts and releases the
  previous one's instead of leaking a cached table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: propagation steps folded into one lazy plan between
#: materializations. Each materialization (localCheckpoint + the
#: convergence scalar) is a cache write + a full pass over the label
#: table; batching steps per round cuts those passes at the cost of
#: ≤ steps−1 wasted cheap steps in the final round. With the
#: round-15 self-loop step (one join + one agg, two exchanges — see
#: connected_components) the wasted-step cost dominates earlier:
#: measured at sf0.1 on the dup graph, 2 steps/round beat 3 (3.0 s
#: vs 3.3 s) and both beat the old union-form 3-step round (6.4 s).
#: Deep graphs still amortize the checkpoint: a diameter-D graph
#: pays ⌈D/2⌉+1 materializations. The per-round checkpoint also
#: bounds plan depth at 2 joins, so no separate lineage-truncation
#: cadence is needed.
_STEPS_PER_ROUND = 2


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Component label (= minimum member id) for every vertex.

    ``vertices`` must have column ``v``; ``edges`` columns
    ``src``/``dst`` (undirected — symmetrized internally). Returns
    ``(v, lbl)`` where ``lbl`` is the smallest vertex id reachable
    from ``v``. Isolated vertices keep their own id. The returned
    frame is held in the ``cc_labels`` memo slot — callers need not
    unpersist; the next invocation (or a plan change) releases it.
    """
    from ..tables import memo_persist

    e = edges.select("src", "dst")
    # persist the symmetrized + SELF-LOOPED edge list BEFORE the loop:
    # without the materialization boundary every iteration's join
    # re-executes the edges' full upstream lineage — for dup_clusters
    # that is the entire MinHash LSH pipeline (shingle → signature →
    # band join → verify) once PER ITERATION (measured 22.9 s → 4.5 s
    # at sf0.1). The self-loops (round 15) fold the "keep your own
    # label" term into the message join itself: one propagation step
    # is ONE join + ONE min-aggregate (two exchanges) instead of the
    # old join + union-with-labels + aggregate (three exchanges plus
    # the union), because min over {self} ∪ neighbors ≡ min over the
    # self-looped neighbor set. Isolated vertices survive through
    # their self-loop. Measured at sf0.1 (dup graph, whole
    # dedup_cluster query): 6.4 s → 3.0 s.
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(
            vertices.select(F.col("v").alias("src"), F.col("v").alias("dst"))
        )
        .persist()
    )
    labels = vertices.select("v", F.col("v").alias("lbl")).persist()
    prev_sum = None
    steps_done = 0
    while steps_done < max_iter:
        # fold up to _STEPS_PER_ROUND propagation steps into ONE lazy
        # plan — each step's frame feeds only the next (a linear plan,
        # no diamonds), so the whole round executes as a single job at
        # the materialization below.
        new = labels
        for _ in range(min(_STEPS_PER_ROUND, max_iter - steps_done)):
            new = (
                sym.join(new, sym["src"] == new["v"])
                .groupBy(F.col("dst").alias("__v"))
                .agg(F.min("lbl").alias("lbl"))
                .withColumnRenamed("__v", "v")
            )
            steps_done += 1
        # localCheckpoint both caches AND truncates lineage (plan
        # depth stays bounded at _STEPS_PER_ROUND joins).
        new = new.localCheckpoint()
        # labels are monotone non-increasing, so sum(lbl) is a strict
        # decrease until the fixpoint — one exact-decimal scalar per
        # round is the whole convergence protocol. An unchanged sum
        # after a round means no step in it changed anything (labels
        # only ever decrease), which IS the fixpoint.
        s = new.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]
        labels.unpersist()
        labels = new
        if prev_sum is not None and s == prev_sum:
            break
        prev_sum = s
    sym.unpersist()
    # hand ownership to the single-slot memo: a later invocation
    # evicts and releases this frame instead of it leaking for the
    # session's life
    return memo_persist(labels, "cc_labels")


def dup_clusters(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Cluster verdict per row from a verified near-dup pair table.

    ``pairs`` has columns ``id_a``/``id_b`` (e.g. the output of
    ``dedup.minhash_dedup_pairs``). Output per input row:
    ``(id_col, cluster_id, cluster_size, keep)`` — ``cluster_id`` is
    the minimum id in the row's component, ``keep`` marks the one
    representative per cluster (the published keep-first policy).
    The final window is one shuffle keyed on ``cluster_id``.
    """
    verts = df.select(F.col(id_col).alias("v"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    lab = connected_components(verts, edges, max_iter=max_iter)
    w = Window.partitionBy("lbl")
    return lab.select(
        F.col("v").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("v") == F.col("lbl")).alias("keep"),
    )


def pointer_doubling_depths(parents: DataFrame, max_iter: int = 20) -> DataFrame:
    """Depth of every vertex to its tree root by POINTER DOUBLING —
    the O(log depth)-round transitive-closure technique (each round
    every vertex jumps to its current ancestor's ancestor, doubling
    the distance covered), versus the O(depth) rounds of naive
    parent-following. ``parents`` has columns ``v, parent`` with
    ``parent == v`` exactly at roots. Returns ``(v, depth)``.

    The doubling update is idempotent at roots (a root contributes 0
    steps and keeps the pointer fixed), so no finished-row
    special-casing is needed. Convergence is the same scalar protocol
    as connected_components: depths only grow and are bounded by the
    true depth, so an unchanged exact sum IS the fixpoint. Each round
    is one self-join co-partitioned on the pointer — at 100 TB this
    is log₂(max-depth) shuffles over a (v, ptr, d) table, the reason
    pointer doubling (not iteration-per-level) is the scalable form.

    Preconditions (violations raise, never return wrong depths):
    every ``parent`` value must itself appear as a vertex (the inner
    self-join would silently DROP any vertex whose ancestor chain
    leaves the table), and the forest must be acyclic with depth
    ≤ 2^max_iter (a cycle never converges; both exhaust ``max_iter``
    without the sum fixpoint and raise RuntimeError)."""
    f = parents.select(
        "v",
        F.col("parent").alias("ptr"),
        F.when(F.col("parent") == F.col("v"), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("d"),
    ).localCheckpoint()
    n_in = f.count()
    if n_in == 0:
        return f.select("v", F.col("d").cast("long").alias("depth"))
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        g = f.select(
            F.col("v").alias("g_v"), F.col("ptr").alias("g_ptr"), F.col("d").alias("g_d")
        )
        f = (
            f.join(g, f["ptr"] == g["g_v"])
            .select("v", F.col("g_ptr").alias("ptr"), (F.col("d") + F.col("g_d")).alias("d"))
            .localCheckpoint()
        )
        cnt, s = f.agg(
            F.count(F.lit(1)), F.sum(F.col("d").cast("decimal(38,0)"))
        ).collect()[0]
        if cnt != n_in:
            raise ValueError(
                f"pointer_doubling_depths: {n_in - cnt} vertices dropped by the "
                "pointer join — some parent value is not a vertex of the table "
                "(every ancestor chain must stay inside the input)"
            )
        if prev_sum is not None and s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        raise RuntimeError(
            f"pointer_doubling_depths: no fixpoint after {max_iter} doubling "
            f"rounds — the input has a cycle or depth > 2^{max_iter}; partial "
            "depths would be wrong, refusing to return them"
        )
    return f.select("v", F.col("d").cast("long").alias("depth"))
