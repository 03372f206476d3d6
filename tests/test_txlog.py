"""Transaction-log table layer (sources/txlog.py): ACID commits,
snapshot isolation, time travel, stats-pruned MERGE, atomic
compaction, schema evolution, vacuum, and the optimistic-concurrency
conflict. The layer is the production story behind the simulated
lakehouse catalog queries (SURVEY E105/E126/E127)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from hz_csv2parquet_spark.sources.txlog import (
    CommitConflictError,
    TxTable,
    _version_file,
)
from tests.test_txlog_source import _staged_message


def _mk(spark, tmp_path, n=100, files=4):
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(files)
    t.create(df)
    return t


def test_create_snapshot_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    snap = t.snapshot()
    assert snap.count() == 100
    assert {r.k for r in snap.collect()} == set(range(100))
    assert t.version() == 0
    assert len(t.files()) == 4


def test_append_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path, n=50, files=2)
    t.append(spark.range(50, 80).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    assert t.version() == 1
    assert t.snapshot().count() == 80
    assert t.snapshot(as_of=0).count() == 50  # time travel


def test_merge_upsert_rewrites_only_touched_files(spark, tmp_path):
    # 4 files over disjoint k ranges (repartitionByRange + sort gives
    # range-clustered files whose min/max stats are selective)
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.create(df)
    files_before = set(t.files())
    assert len(files_before) == 4

    # updates hit only the low range [0, 40]
    updates = spark.range(0, 41, 2).select(F.col("k" if False else "id").alias("k"), F.lit(-1).alias("v"))
    touched, skipped = t.pruned_files("k", 0, 40)
    assert len(touched) == 1 and len(skipped) == 3, "stats pruning must isolate one file"

    t.merge_upsert(updates, "k")
    snap = t.snapshot()
    assert snap.count() == 400  # pure SCD1 upsert of existing keys
    got = {r.k: r.v for r in snap.collect()}
    for k in range(0, 41, 2):
        assert got[k] == -1
    for k in range(41, 400):
        assert got[k] == 2 * k
    # untouched files survive as-is; exactly the one touched file was removed
    files_after = set(t.files())
    assert len(files_before & files_after) == 3


def test_merge_inserts_new_keys(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    ups = spark.createDataFrame([(5, -5), (100, -100)], "k long, v long")
    t.merge_upsert(ups, "k")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == -5 and got[100] == -100 and len(got) == 11


def test_merge_all_null_key_batch_is_not_discarded(spark, tmp_path):
    """Advisor r12 (high): min/max ignore NULLs, so a NON-EMPTY batch
    whose merge key is all-NULL used to hit the empty-batch shortcut —
    the rows were silently dropped while a txn-stamped call still
    recorded its marker, making the loss permanent (the watermark said
    "applied"). Emptiness is now decided by COUNT: NULL keys can never
    equality-match (SQL MERGE semantics), so the batch INSERTS —
    without rewriting a single existing file."""
    t = _mk(spark, tmp_path, n=10, files=2)
    v0 = t.version()
    ups = spark.createDataFrame([(None, -1), (None, -2)], "k long, v long")
    t.merge_upsert(ups, "k", txn=("app", 7))
    assert t.snapshot().count() == 12
    assert t.snapshot().filter("k IS NULL").count() == 2
    assert 7 in t.committed_txns("app")
    # insert-only: the commit added files but removed none
    from hz_csv2parquet_spark.sources.txlog import _version_file

    acts = [
        a
        for ln in open(_version_file(t.path, v0 + 1))
        for a in json.loads(ln)
    ]
    assert any("add" in a for a in acts) and not any("remove" in a for a in acts)
    # a replay of the same (app, batch) is still a no-op
    assert t.merge_upsert(ups, "k", txn=("app", 7)) is None
    assert t.snapshot().count() == 12
    # and a genuinely EMPTY batch still takes the marker-only path
    empty = spark.createDataFrame([], "k long, v long")
    t.merge_upsert(empty, "k", txn=("app", 8))
    assert 8 in t.committed_txns("app")
    assert t.snapshot().count() == 12


def test_merge_mixed_null_and_real_keys(spark, tmp_path):
    """Mixed batch: real keys upsert via pruned rewrite, NULL-key rows
    insert (never match — SQL MERGE equality), in one commit."""
    t = _mk(spark, tmp_path, n=10, files=1)
    ups = spark.createDataFrame(
        [(5, -5), (None, -9)], "k long, v long"
    )
    t.merge_upsert(ups, "k")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == -5 and got[None] == -9 and len(got) == 11
    assert t.snapshot().count() == 11


def test_compact_is_atomic_and_lossless(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, files=8)
    before = t.snapshot().groupBy().agg(F.sum("v").alias("s")).collect()[0].s
    v = t.compact(target_files=1)
    assert len(t.files()) == 1
    after = t.snapshot().groupBy().agg(F.sum("v").alias("s")).collect()[0].s
    assert before == after
    # one commit: remove+add flipped together
    actions = json.load(open(_version_file(t.path, v)))
    assert sum(1 for a in actions if "add" in a) == 1
    assert sum(1 for a in actions if "remove" in a) == 8
    # time travel still sees the fragmented layout
    assert len(t.files(as_of=v - 1)) == 8


def test_schema_evolution_null_fills(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    gen2 = spark.range(10, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
    )
    t.evolve_schema(gen2)
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "v", "tag"}
    rows = {r.k: r.tag for r in snap.collect()}
    assert rows[5] is None and rows[15] == "x"


def test_append_refuses_undeclared_columns(spark, tmp_path):
    """Round-14 schema enforcement (Delta parity): a plain append
    whose batch CARRIES a column the committed schema lacks must
    refuse — staging it would write data files with an undeclared
    column, making the DSv2 log-schema read and a mergeSchema read
    disagree. evolve_schema (the union-logging verb) accepts the same
    batch; the log schema, snapshot, and DSv2 read then agree."""
    import pytest as _pytest

    from hz_csv2parquet_spark.sources.txlog_source import (
        register_txlog_source,
    )

    t = _mk(spark, tmp_path, n=10, files=1)
    wide = spark.createDataFrame([(99, 990, "x")], "k long, v long, tag string")
    with _pytest.raises(ValueError, match="evolve_schema"):
        t.append(wide)
    # streaming idempotent append enforces identically
    with _pytest.raises(ValueError, match="evolve_schema"):
        t.append_batch(wide, "appx", 0)
    # nothing committed by the refusals
    assert t.snapshot().count() == 10
    t.evolve_schema(wide)
    register_txlog_source(spark)
    dsv2_cols = set(spark.read.format("hz_txlog").load(t.path).columns)
    assert dsv2_cols == set(t.snapshot().columns) == {"k", "v", "tag"}
    # a batch that merely OMITS columns still appends (null-extension
    # rule territory, not schema enforcement)
    t.append(spark.createDataFrame([(100, 1000)], "k long, v long"))
    assert t.snapshot().filter(F.col("k") == 100).count() == 1


def test_append_schema_enforcement_is_case_insensitive(spark, tmp_path):
    """Advisor r14: Spark's default resolution (caseSensitive=false),
    Delta's enforcement, and the front door's INSERT alignment all
    match case-insensitively — a batch column 'K' against committed
    'k' is the same column, not an undeclared one. The batch is also
    RENAMED to the committed casing before staging, so the parquet
    files carry canonical names and readers resolve them regardless
    of parquet-level case sensitivity."""
    t = _mk(spark, tmp_path, n=10, files=1)
    upper = spark.createDataFrame([(50, 500)], "K long, V long")
    t.append(upper)
    snap = t.snapshot()
    assert snap.columns == ["k", "v"]
    got = snap.filter(F.col("k") == 50).collect()
    assert [(r.k, r.v) for r in got] == [(50, 500)]
    # streaming idempotent append takes the same gate
    t.append_batch(spark.createDataFrame([(60, 600)], "K long, V long"),
                   "ci_app", 0)
    assert t.snapshot().filter(F.col("k") == 60).count() == 1
    # genuinely undeclared columns still refuse, case notwithstanding
    with pytest.raises(ValueError, match="evolve_schema"):
        t.append(spark.createDataFrame([(1, 2, 3)], "K long, V long, Z long"))


def test_commit_conflict_raises(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    # a second writer sneaks in version 1
    t2 = TxTable(spark, t.path, stat_cols=["k"])
    t2.append(spark.range(10, 12).select(F.col("id").alias("k"), F.lit(0).alias("v")))
    # first writer computed against version 0 and loses the race
    with pytest.raises(CommitConflictError):
        t._commit([{"add": {"path": "nope.parquet", "rows": 0, "stats": {}}}], 0)
    # retry on the fresh snapshot succeeds
    t.append(spark.range(12, 14).select(F.col("id").alias("k"), F.lit(0).alias("v")))
    assert t.version() == 2


def test_vacuum_removes_only_dead_files(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, files=8)
    t.compact(target_files=1)
    all_parquet = glob.glob(os.path.join(t.path, "data-*", "*.parquet"))
    assert len(all_parquet) == 9  # 8 dead + 1 live
    # default retention (Delta-style 7 days) protects young files —
    # even dead ones — from deletion (ADVICE r6: a zero-retention
    # vacuum can race a writer's staged-but-uncommitted files)
    assert t.vacuum() == 0
    deleted = t.vacuum(retention_seconds=0)
    assert deleted == 8
    assert t.snapshot().count() == 100  # live data intact


def test_crashed_writer_leaves_no_torn_table(spark, tmp_path):
    """Staged-but-uncommitted data files are invisible to readers."""
    t = _mk(spark, tmp_path, n=10, files=1)
    # simulate a crash: stage data, never commit
    t._stage(
        spark.range(100, 200).select(F.col("id").alias("k"), F.lit(0).alias("v")).coalesce(1)
    )
    assert t.snapshot().count() == 10
    assert t.vacuum(retention_seconds=0) == 1  # the orphan is cleanable


def test_empty_update_batch_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    v0 = t.version()
    empty = spark.createDataFrame([], "k long, v long")
    assert t.merge_upsert(empty, "k") == v0
    assert t.snapshot().count() == 10


def test_string_key_stats_and_pruning(spark, tmp_path):
    """BYTE_ARRAY footer stats surface as bytes — the log stores them
    as JSON strings and MERGE pruning compares them as strings."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = (
        spark.range(260)
        .selectExpr("concat(chr(97 + CAST(id / 10 AS INT)), id % 10) AS k", "id AS v")
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.create(df)
    actions = json.load(open(_version_file(t.path, 0)))
    stats = [a["add"]["stats"]["k"] for a in actions if "add" in a]
    assert all(isinstance(s[0], str) for s in stats)
    hit, miss = t.pruned_files("k", "a0", "a9")
    assert len(hit) >= 1 and len(miss) >= 1
    ups = spark.createDataFrame([("a5", -1)], "k string, v long")
    t.merge_upsert(ups, "k")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got["a5"] == -1 and len(got) == 260


def test_timestamp_stats_are_skipped_not_crashed(spark, tmp_path):
    """Stat types that don't serialize to JSON (timestamps) are
    dropped from the log instead of failing the commit."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["ts", "k"])
    df = spark.range(10).selectExpr("id AS k", "timestamp_millis(id * 1000) AS ts")
    t.create(df)
    actions = json.load(open(_version_file(t.path, 0)))
    stats = [a["add"]["stats"] for a in actions if "add" in a]
    assert all("k" in s for s in stats)  # numeric stats survive


def test_snapshot_preserves_catalyst_pushdown(spark, tmp_path):
    """The txlog read path is a plain multi-file parquet relation —
    filters and projections layered on a snapshot must reach the scan
    (PushedFilters / pruned ReadSchema), the same 100 TB contract
    test_plans.py pins for the fixture tables."""
    t = _mk(spark, tmp_path, n=1000, files=4)
    q = t.snapshot().filter(F.col("k") <= 10).select("k")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), LessThanOrEqual(k,10)" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "k" in read_schema and "v" not in read_schema


def test_concurrent_appends_all_land_with_retry(spark, tmp_path):
    """Optimistic concurrency under real contention: 4 threads race
    appends through ONE shared TxTable handle (the rebase loop keys
    off per-call state only, so a handle is thread-safe for blind
    appends); every batch lands exactly once and the log is a gapless
    version chain. The separate-handle variant is
    test_append_rebases_lost_version_race."""
    import threading

    t = _mk(spark, tmp_path, n=10, files=1)
    errors = []

    def writer(base):
        try:
            t.append(
                spark.range(base, base + 10).select(
                    F.col("id").alias("k"), F.lit(base).cast("long").alias("v")
                )
            )
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer {base}: {e!r}")

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.version() == 4  # create + 4 appends, gapless
    snap = t.snapshot()
    assert snap.count() == 50
    # each batch's marker value appears exactly 10 times
    got = {r.v: r.n for r in snap.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    for base in (100, 200, 300, 400):
        assert got[base] == 10


def test_layout_aware_compaction_keeps_stats_selective(spark, tmp_path):
    """OPTIMIZE with a layout key range-clusters the rewrite so each
    output file covers a disjoint key range — pruning stays selective
    after compaction. A hash-fragmented table (every file spans the
    whole key domain) prunes nothing; after layout compaction a
    narrow key range isolates one file."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.create(df.repartition(8))  # hash layout: all files span [0, 399]
    hit0, miss0 = t.pruned_files("k", 0, 40)
    assert len(miss0) == 0  # nothing prunable
    v = t.compact(target_files=4, layout_key="k")
    assert len(t.files()) == 4
    hit1, miss1 = t.pruned_files("k", 0, 40)
    assert len(hit1) == 1 and len(miss1) == 3
    assert t.snapshot().count() == 400
    assert {r.k for r in t.snapshot().collect()} == set(range(400))


def test_streaming_foreach_batch_sink_is_exactly_once(spark, tmp_path):
    """A real availableNow stream lands in the table through the
    foreachBatch sink; replaying a batch (the at-least-once hazard)
    is a no-op thanks to the txn marker — rows never duplicate."""
    src = tmp_path / "src"
    spark.range(40).selectExpr("id AS k", "id * 3 AS v").write.parquet(str(src))
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([], "k long, v long"))

    stream = spark.readStream.schema("k long, v long").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(t.foreach_batch_writer("job1"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert t.snapshot().count() == 40
    committed = t.committed_txns("job1")
    assert committed  # at least one batch landed with a marker

    # engine replays a batch after restart: same (app, batch) → no-op
    replay = spark.range(40).selectExpr("id AS k", "id * 3 AS v")
    assert t.append_batch(replay, "job1", next(iter(committed))) is None
    assert t.snapshot().count() == 40
    # a NEW batch id still appends
    assert t.append_batch(replay.limit(5), "job1", max(committed) + 1) is not None
    assert t.snapshot().count() == 45


def test_merge_with_new_column_evolves_on_read(spark, tmp_path):
    """An update batch carrying a column the table lacks merges
    cleanly: kept rows null-fill the new column (unionByName with
    allowMissingColumns), and the snapshot surfaces it via
    mergeSchema."""
    t = _mk(spark, tmp_path, n=20, files=1)
    ups = spark.createDataFrame([(5, -5, "new")], "k long, v long, tag string")
    t.merge_upsert(ups, "k")
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "v", "tag"}
    rows = {r.k: (r.v, r.tag) for r in snap.collect()}
    assert rows[5] == (-5, "new")
    assert rows[6] == (12, None)
    assert len(rows) == 20


def test_checkpoint_bounds_replay_reads(spark, tmp_path):
    """VERDICT r6 item 4: replay must be O(tail), not O(versions).
    After 120+ commits with checkpoint_interval=10, a fresh reader's
    state reconstruction parses only the commits after the newest
    checkpoint — pinned via the ``log_reads`` counter. (The txn-only
    commits mirror a long-lived streaming sink, the workload whose
    O(versions²) cumulative replay the checkpoints exist to kill.)"""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], checkpoint_interval=10)
    t.create(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    for i in range(120):
        t._commit([{"txn": {"appId": "job", "batchId": i}}], t.version())
    assert t.version() == 120
    ckpts = t._checkpoint_versions()
    assert len(ckpts) >= 11 and max(ckpts) >= 110

    fresh = TxTable(spark, t.path, stat_cols=["k"], checkpoint_interval=10)
    assert fresh.committed_txns("job") == set(range(120))
    # newest checkpoint ≥ v110 → at most ~10 tail commits parsed
    assert fresh.log_reads <= 11, fresh.log_reads
    assert fresh.snapshot().count() == 10

    # checkpoint + tail must equal a full ground-up replay
    full = TxTable(spark, t.path, stat_cols=["k"])
    for c in ckpts:
        for ext in ("json", "parquet"):
            f = os.path.join(t.path, "_txlog", f"{c:08d}.ckpt.{ext}")
            if os.path.exists(f):
                os.remove(f)
    want = full._replay_state()
    got = fresh._replay_state()  # no checkpoints left → full replay too
    assert got["adds"] == want["adds"]
    assert got["schema"] == want["schema"]
    assert got["txns"] == want["txns"]


def test_checkpoint_time_travel_before_and_after_boundary(spark, tmp_path):
    """as_of replay picks the newest checkpoint ≤ the target version
    — a travel target BEFORE the first checkpoint replays from v0 and
    must not read state from a later checkpoint."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], checkpoint_interval=5)
    t.create(
        spark.range(5).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    )
    for i in range(1, 13):
        t.append(
            spark.range(5 * i, 5 * (i + 1)).select(
                F.col("id").alias("k"), F.lit(i).cast("long").alias("v")
            )
        )
    assert t._checkpoint_versions()  # at least v4, v9
    assert t.snapshot(as_of=2).count() == 15  # before the first checkpoint
    assert t.snapshot(as_of=9).count() == 50  # exactly at one
    assert t.snapshot(as_of=11).count() == 60  # checkpoint + tail
    assert t.snapshot().count() == 65


def test_merge_txn_marker_makes_replay_noop(spark, tmp_path):
    """MERGE with a txn marker: replaying the same (app, batch) is a
    no-op — the guarantee that makes MERGE-inside-foreachBatch safe
    on an at-least-once engine (streaming/cdc.py rides this)."""
    t = _mk(spark, tmp_path, n=20, files=1)
    ups = spark.createDataFrame([(5, -5)], "k long, v long")
    v = t.merge_upsert(ups, "k", txn=("cdc", 0))
    assert v is not None
    # engine restarts and replays batch 0 with different data — no-op
    ups2 = spark.createDataFrame([(5, -999)], "k long, v long")
    assert t.merge_upsert(ups2, "k", txn=("cdc", 0)) is None
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == -5 and len(got) == 20
    # the next batch id applies
    assert t.merge_upsert(ups2, "k", txn=("cdc", 1)) is not None
    assert {r.k: r.v for r in t.snapshot().collect()}[5] == -999


def test_merge_duplicate_update_keys_raise(spark, tmp_path):
    """Default (SCD1) MERGE matches Delta/Iceberg: multiple update
    rows per key is an error, not silent duplication (ADVICE r6)."""
    t = _mk(spark, tmp_path, n=10, files=1)
    dup = spark.createDataFrame([(5, -5), (5, -6)], "k long, v long")
    with pytest.raises(ValueError, match="multiple rows per key"):
        t.merge_upsert(dup, "k")
    assert t.snapshot().count() == 10  # nothing committed


def test_merge_duplicate_probe_ignores_null_keys(spark, tmp_path):
    """The duplicate-key probe (now fused into the bounds aggregate —
    r15 optimization) must keep the old ``na.drop(subset=keys)``
    semantics exactly: several rows whose key (or ANY composite-key
    field) is NULL are independent INSERTS, never a duplicate error;
    a real duplicate among the non-NULL-keyed rows still raises."""
    t = _mk(spark, tmp_path, n=10, files=1)
    # two all-NULL keys + one real key: inserts, no raise
    ups = spark.createDataFrame(
        [(None, -1), (None, -2), (5, -5)], "k long, v long"
    )
    t.merge_upsert(ups, "k")
    assert t.snapshot().count() == 12
    # composite key: rows NULL in ONE field are also insert-only
    t2 = TxTable(spark, str(tmp_path / "tbl2"), stat_cols=["a"])
    t2.create(spark.createDataFrame([(1, 1, 0)], "a long, b long, v long"))
    mixed = spark.createDataFrame(
        [(1, None, -1), (1, None, -2), (None, 2, -3)],
        "a long, b long, v long",
    )
    t2.merge_upsert(mixed, ["a", "b"])
    assert t2.snapshot().count() == 4
    # but a genuine non-NULL composite duplicate still raises
    dup = spark.createDataFrame(
        [(1, 1, -1), (1, 1, -2)], "a long, b long, v long"
    )
    with pytest.raises(ValueError, match="multiple rows per key"):
        t2.merge_upsert(dup, ["a", "b"])


def test_merge_resolver_last_writer_wins(spark, tmp_path):
    """A resolve hook owns match semantics: last-writer-wins by ms —
    an update batch carrying an OLDER value for a key must NOT
    overwrite the newer value the table holds (the CDC contract;
    plain SCD1 'updates win' would corrupt it)."""
    from hz_csv2parquet_spark.sources.txlog import TxTable as TT

    t = TT(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([(1, 100, "new"), (2, 50, "mid")], "k long, ms long, val string"))

    def resolve(cur, ups):
        both = cur.unionByName(ups)
        return (
            both.groupBy("k")
            .agg(F.max(F.struct("ms", "val")).alias("__m"))
            .select("k", "__m.*")
        )

    ups = spark.createDataFrame(
        [(1, 10, "stale"), (2, 60, "fresh"), (3, 5, "insert")],
        "k long, ms long, val string",
    )
    t.merge_upsert(ups, "k", resolve=resolve)
    got = {r.k: (r.ms, r.val) for r in t.snapshot().collect()}
    assert got == {1: (100, "new"), 2: (60, "fresh"), 3: (5, "insert")}


def test_merge_composite_key_prunes_on_first_column(spark, tmp_path):
    """Composite-key MERGE: matching follows the full key while file
    pruning uses the first column's footer stats — untouched files'
    add actions survive the commit (the CDC pin, VERDICT r6 item 3)."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k1"])
    df = (
        spark.range(400)
        .selectExpr("id AS k1", "CAST(id % 2 AS STRING) AS k2", "id AS v")
        .repartitionByRange(4, "k1")
        .sortWithinPartitions("k1")
    )
    t.create(df)
    before = set(t.files())
    assert len(before) == 4
    ups = spark.createDataFrame(
        [(10, "0", -1), (11, "1", -2), (12, "1", -3)], "k1 long, k2 string, v long"
    )
    t.merge_upsert(ups, ["k1", "k2"])
    after = set(t.files())
    assert len(before & after) == 3  # only the low-range file rewrote
    got = {(r.k1, r.k2): r.v for r in t.snapshot().collect()}
    assert got[(10, "0")] == -1 and got[(11, "1")] == -2 and got[(12, "1")] == -3
    assert got[(13, "1")] == 13  # untouched row in the rewritten file intact
    # composite semantics: update key (12, "1") does NOT match the
    # existing row (12, "0") — same first column, different second —
    # so it inserts and the old row survives: 401 rows, not 400
    assert got[(12, "0")] == 12
    assert len(got) == 401


def test_merge_widening_batch_records_union_schema(spark, tmp_path):
    """A schema-widening MERGE appends a union-schema meta action, so
    a later-emptied snapshot still reports the evolved schema
    (ADVICE r6)."""
    t = _mk(spark, tmp_path, n=10, files=1)
    ups = spark.createDataFrame([(5, -5, "w")], "k long, v long, tag string")
    v = t.merge_upsert(ups, "k")
    actions = json.load(open(_version_file(t.path, v)))
    metas = [a for a in actions if "meta" in a]
    assert len(metas) == 1
    assert "tag" in metas[0]["meta"]["schema"]
    _, schema = t._replay()
    assert "tag" in schema


def test_pruned_files_incomparable_stats_are_conservative(spark, tmp_path):
    """Logged string stats probed with numeric bounds (e.g. after a
    key type change) must degrade to conservatively-IN, not raise
    (ADVICE r6 / VERDICT r6 'What's wrong' #4)."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"))
    hit, miss = t.pruned_files("k", 0, 10)
    assert miss == [] and len(hit) == len(t.files())


def test_zorder_compaction_makes_both_dimensions_prunable(spark, tmp_path):
    """E115 → txlog wiring (VERDICT r6 item 8): compacting on a
    Morton key (operators/zorder.py, the same expression
    ``zorder_key_events`` oracles) gives every output file a
    quad-tree-cell footprint in (a, b) space, so footer stats prune
    files for narrow range predicates on EITHER dimension. A
    hash-fragmented layout prunes nothing on either."""
    from hz_csv2parquet_spark.operators.zorder import morton_key

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["ua", "hb", "zkey"])
    # full 64x64 grid, one row per cell, hash-fragmented on load
    df = (
        spark.range(4096)
        .selectExpr("id", "CAST(id % 64 AS BIGINT) AS ua", "CAST(id DIV 64 AS BIGINT) AS hb")
        .withColumn("zkey", morton_key(F.col("ua"), F.col("hb"), bits=6))
        .repartition(8)
    )
    t.create(df)
    hit_a0, miss_a0 = t.pruned_files("ua", 0, 7)
    hit_b0, miss_b0 = t.pruned_files("hb", 0, 7)
    assert len(miss_a0) == 0 and len(miss_b0) == 0  # hash layout: no skipping

    t.compact(target_files=16, layout_key="zkey")
    assert len(t.files()) == 16
    # 16 z-contiguous files over a 64x64 grid = 16 quad cells; a
    # one-cell-wide band on either axis intersects only a few
    hit_a, miss_a = t.pruned_files("ua", 0, 7)
    hit_b, miss_b = t.pruned_files("hb", 0, 7)
    assert len(miss_a) >= 8, (len(hit_a), len(miss_a))
    assert len(miss_b) >= 8, (len(hit_b), len(miss_b))
    # lossless rewrite
    assert t.snapshot().count() == 4096
    assert t.snapshot().agg(F.sum("zkey")).collect()[0][0] == \
        df.agg(F.sum("zkey")).collect()[0][0]


def test_checkpoints_survive_concurrent_writer_races(spark, tmp_path):
    """Checkpoint files are derived, last-writer-wins state — racing
    appenders with an aggressive checkpoint_interval must neither
    corrupt the log nor lose a batch, and a fresh reader through the
    checkpoints sees exactly the union of what landed."""
    import threading

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], checkpoint_interval=2)
    t.create(
        spark.range(10).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    )
    errors = []

    def writer(base):
        try:
            df = spark.range(base, base + 10).select(
                F.col("id").alias("k"), F.lit(base).cast("long").alias("v")
            )
            w = TxTable(spark, t.path, stat_cols=["k"], checkpoint_interval=2)
            for _ in range(30):
                try:
                    w.append(df)
                    return
                except CommitConflictError:
                    continue
            errors.append(f"writer {base}: starved")
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer {base}: {e!r}")

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.version() == 4
    fresh = TxTable(spark, t.path, stat_cols=["k"], checkpoint_interval=2)
    snap = fresh.snapshot()
    assert snap.count() == 50
    got = {r.v: r.n for r in snap.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    for base in (100, 200, 300, 400):
        assert got[base] == 10


def test_cdc_stays_prunable_under_periodic_layout_compaction(spark, tmp_path):
    """The 100 TB CDC maintenance loop (VERDICT r6 item 8): as merge
    versions accumulate, periodically range-clustering the target on
    the merge key (`compact(layout_key=...)`) restores selective
    footer stats, so the NEXT merge still rewrites a strict subset of
    files. Simulates: seed → 4 disjoint-range merges → compact →
    narrow merge touches < all files."""
    from hz_csv2parquet_spark.sources.txlog import TxTable as TT

    t = TT(spark, str(tmp_path / "tbl"), stat_cols=["user_id"])
    t.create(
        spark.range(400).selectExpr(
            "id AS user_id", "CAST(0 AS BIGINT) AS last_ms", "CAST(id AS BIGINT) AS last_cents"
        )
    )
    for i in range(4):
        ups = spark.range(100 * i, 100 * i + 50).selectExpr(
            "id AS user_id",
            f"CAST({i + 1} AS BIGINT) AS last_ms",
            "CAST(-id AS BIGINT) AS last_cents",
        )
        t.merge_upsert(ups, "user_id")
    # merges over a hash-ish layout accumulate wide-range files
    t.compact(target_files=4, layout_key="user_id")
    hit, miss = t.pruned_files("user_id", 0, 40)
    assert len(hit) == 1 and len(miss) == 3
    ups = spark.range(0, 41, 2).selectExpr(
        "id AS user_id", "CAST(9 AS BIGINT) AS last_ms", "CAST(9 AS BIGINT) AS last_cents"
    )
    before = set(t.files())
    t.merge_upsert(ups, "user_id")
    after = set(t.files())
    assert len(before & after) == 3  # compaction restored selectivity
    snap = t.snapshot()
    assert snap.count() == 400
    assert snap.filter("user_id = 2").collect()[0].last_cents == 9
    assert snap.filter("user_id = 349").collect()[0].last_cents == -349  # merged round 4
    assert snap.filter("user_id = 399").collect()[0].last_cents == 399  # never merged


def test_merge_txn_twin_conflict_resolves_to_noop(spark, tmp_path, monkeypatch):
    """The exactly-once race: a twin replay of the SAME batch commits
    its txn marker between this merge's duplicate check and its
    commit. The version conflict must resolve to a no-op (the marker
    is found on re-read) — not an error, and not a double-apply."""
    t = _mk(spark, tmp_path, n=10, files=1)
    twin = TxTable(spark, t.path, stat_cols=["k"])
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t:
            state["injected"] = True
            # twin wins the version with the same (app, batch) marker
            real_commit(twin, [{"txn": {"appId": "cdc", "batchId": 7}}], expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    ups = spark.createDataFrame([(5, -5)], "k long, v long")
    assert t.merge_upsert(ups, "k", txn=("cdc", 7)) is None
    # twin's commit carried only the marker — the data is unchanged
    # and the loser's staged files are vacuum-able orphans
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == 10 and len(got) == 10
    assert t.version() == 1


def test_append_rebases_lost_version_race(spark, tmp_path):
    """Blind appends never surface CommitConflictError: append-vs-
    append is the conflict-matrix cell with no logical conflict, so a
    lost version race rebases the same staged add actions onto the
    fresh head. Four threads each call append() ONCE — no caller
    retry loop — and every batch lands."""
    import threading

    t = _mk(spark, tmp_path, n=10, files=1)
    errors = []

    def writer(base):
        try:
            TxTable(spark, t.path, stat_cols=["k"]).append(
                spark.range(base, base + 10).select(
                    F.col("id").alias("k"), F.lit(base).cast("long").alias("v")
                )
            )
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer {base}: {e!r}")

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.version() == 4  # create + 4 appends, gapless
    got = {r.v: r.n for r in t.snapshot().groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    for base in (100, 200, 300, 400):
        assert got[base] == 10


def test_merge_retry_rebases_on_genuine_conflict(spark, tmp_path, monkeypatch):
    """A merge that loses the version race to a writer whose append
    OVERLAPS its key bounds is stale (the new file may hold matching
    keys, so the staged rewrite would duplicate them — round 11: a
    provably-disjoint append now rebases instead, see
    test_merge_rebases_past_disjoint_append_without_rerun). With
    retries=0 the conflict surfaces; with retries=1 the whole
    transaction re-runs on the fresh snapshot — the concurrent
    append's rows survive AND the merge's update applies to both
    copies of the contested key."""
    t = _mk(spark, tmp_path, n=10, files=1)
    other = TxTable(spark, t.path, stat_cols=["k"])
    # stats range [5, 50] overlaps the update bounds [5, 5]
    competing = spark.createDataFrame([(5, 999), (50, 999)], "k long, v long")
    real_commit = TxTable._commit
    ups = spark.createDataFrame([(5, -5)], "k long, v long")

    def make_racer():
        state = {"injected": False}

        def racing_commit(self, actions, expected_version, operation=None):
            if not state["injected"] and self is t:
                state["injected"] = True
                real_commit(other, other._stage(competing), expected_version)
            return real_commit(self, actions, expected_version, operation=operation)

        return racing_commit

    monkeypatch.setattr(TxTable, "_commit", make_racer())
    with pytest.raises(CommitConflictError):
        t.merge_upsert(ups, "k")  # default retries=0: caller owns policy
    # the failed attempt changed nothing (its staged files are
    # orphans): the original row AND the raced-in copy both stand
    assert {r.v for r in t.snapshot().filter("k = 5").collect()} == {10, 999}

    monkeypatch.setattr(TxTable, "_commit", make_racer())
    v = t.merge_upsert(ups, "k", retries=1)
    assert v == t.version()
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == -5  # merge applied on the rebased snapshot
    assert got[50] == 999  # the concurrent appends' rows survive
    # 10 original + one competing (50, 999) row per injected race
    assert t.snapshot().count() == 12


def test_compact_empty_table_with_layout_key_is_noop(spark, tmp_path):
    """ADVICE r7: compact(layout_key=...) on an EMPTY table used to
    bypass the small-table early return (layout_key short-circuited
    it) and call spark.read.parquet with zero paths — reachable from
    run_cdc_merge's maintenance tick after marker-only merges."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([], "k long, v long"))
    base = t.version()
    assert t.compact(target_files=2, layout_key="k") == base
    assert t.snapshot().count() == 0


def test_empty_merge_with_txn_records_marker(spark, tmp_path):
    """ADVICE r7: an empty update batch with txn=(app, batch) must
    still stamp the commit (marker-only action list), matching
    append_batch — callers use committed_txns as a progress record."""
    t = _mk(spark, tmp_path, n=10, files=1)
    empty = spark.createDataFrame([], "k long, v long")
    v = t.merge_upsert(empty, "k", txn=("job", 7))
    assert v == t.version()  # a real commit landed
    assert 7 in t.committed_txns("job")
    # replaying the same empty batch is now a recorded no-op
    assert t.merge_upsert(empty, "k", txn=("job", 7)) is None
    assert t.snapshot().count() == 10
    # a txn-less empty batch stays a pure no-op (no commit)
    v_before = t.version()
    assert t.merge_upsert(empty, "k") == v_before
    assert t.version() == v_before


def test_vacuum_sweeps_leaked_tmp_and_survives_races(spark, tmp_path):
    """ADVICE r7: (a) checkpoint .tmp-* files leaked by a writer that
    crashed between write and os.replace are swept once aged; (b) a
    file vanishing between listing and stat (concurrent vacuum) must
    not abort the sweep."""
    import os as _os

    t = _mk(spark, tmp_path, n=10, files=2)
    log_dir = _os.path.join(t.path, "_txlog")
    leaked = _os.path.join(log_dir, "00000099.ckpt.json.tmp-deadbeef")
    with open(leaked, "w") as fh:
        fh.write("{}")
    _os.utime(leaked, (1, 1))  # aged far past any retention horizon
    # race simulation: a dead data file that vanishes mid-sweep
    t.compact(target_files=1)  # makes the original 2 files dead
    dead = [f for f in glob.glob(_os.path.join(t.path, "data-*", "*.parquet"))
            if f not in set(t.files())]
    assert dead
    real_getmtime = _os.path.getmtime

    def racing_getmtime(p):
        if p == dead[0]:
            _os.remove(p)  # concurrent vacuum got there first
        return real_getmtime(p) if _os.path.exists(p) else (_ for _ in ()).throw(
            FileNotFoundError(p)
        )

    import unittest.mock as mock

    with mock.patch("os.path.getmtime", side_effect=racing_getmtime):
        t.vacuum(retention_seconds=0)  # must not raise
    assert not _os.path.exists(leaked)
    assert t.snapshot().count() == 10


def _merge_schema_write(spark, t):
    from hz_csv2parquet_spark.sources.txlog_source import _TxLogBatchWriter

    wide = spark.createDataFrame([(1, 1, 1.0)], "k long, v long, w double").schema
    w = _TxLogBatchWriter(t.path, wide, {"mergeSchema": "true"}, overwrite=False)
    return lambda: w.commit([_staged_message(t.path, {"k": [99], "v": [99], "w": [1.0]})])


def _stream_sink(spark, t):
    from hz_csv2parquet_spark.sources.txlog_source import _TxLogStreamWriter

    w = _TxLogStreamWriter(t.path, t.snapshot().schema, {})
    return lambda: w.commit([_staged_message(t.path, {"k": [99], "v": [99]})], 0)


def _row(spark):
    return spark.createDataFrame([(99, 99)], "k long, v long")


#: every caller of the rebase loop: (spark, table) -> the call to bound
_REBASING_CALLERS = {
    "append": lambda spark, t: lambda: t.append(_row(spark)),
    "append_batch": lambda spark, t: lambda: t.append_batch(_row(spark), "app", 0),
    "merge_disjoint_rebase": lambda spark, t: lambda: t.merge_upsert(_row(spark), "k"),
    "delete_where": lambda spark, t: lambda: t.delete_where("k = 3"),
    "update_where": lambda spark, t: lambda: t.update_where("k = 3", {"v": "v + 1"}),
    "compact": lambda spark, t: lambda: t.compact(target_files=1),
    "merge_schema_write": _merge_schema_write,
    "stream_sink": _stream_sink,
}


@pytest.mark.parametrize("caller", sorted(_REBASING_CALLERS))
def test_append_rebase_is_bounded(spark, tmp_path, monkeypatch, caller):
    """ADVICE r7: the rebase loop is capped — under pathological
    permanent conflict every rebasing verb surfaces
    CommitConflictError after exactly ``_REBASE_ATTEMPTS`` commits,
    with one backoff sleep between each, instead of spinning."""
    import time
    import types

    from hz_csv2parquet_spark.sources import txlog as txlog_mod

    t = _mk(spark, tmp_path, n=20, files=4)
    call = _REBASING_CALLERS[caller](spark, t)
    monkeypatch.setattr(TxTable, "_REBASE_ATTEMPTS", 3)
    calls = {"n": 0}

    def always_conflict(self, actions, expected_version, operation=None):
        calls["n"] += 1
        raise CommitConflictError("permanent")

    sleeps: list = []
    monkeypatch.setattr(TxTable, "_commit", always_conflict)
    monkeypatch.setattr(
        txlog_mod, "time", types.SimpleNamespace(time=time.time, sleep=sleeps.append)
    )
    with pytest.raises(CommitConflictError):
        call()
    assert calls["n"] == 3
    assert len(sleeps) == 2


def test_rebase_loop_has_one_home():
    """Tooling guard: the attempt bound and the jittered backoff live
    only in ``TxTable._rebase_commit`` — a hand-rolled copy of the
    commit-retry loop anywhere in the txlog modules fails here."""
    import ast

    from hz_csv2parquet_spark.sources import txlog, txlog_source

    def hits(node) -> int:
        return sum(
            isinstance(n, ast.Attribute)
            and (
                n.attr == "_REBASE_ATTEMPTS"
                or (
                    n.attr == "uniform"
                    and isinstance(n.value, ast.Name)
                    and n.value.id == "random"
                )
            )
            for n in ast.walk(node)
        )

    for mod in (txlog, txlog_source):
        tree = ast.parse(open(mod.__file__).read())
        homes = {
            fn.name: hits(fn)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and hits(fn)
        }
        expected = {"_rebase_commit": 3} if mod is txlog else {}
        # the bound is read twice and the backoff drawn once, all
        # inside the helper — and nowhere outside a function either
        assert homes == expected and hits(tree) == sum(expected.values()), homes


def test_commit_files_have_one_reader():
    """Tooling guard: in the txlog modules and the CLI, only
    ``TxTable._commit`` (which writes a commit file) and
    ``TxTable._read_commit`` (which parses one) name
    ``_version_file``, and no module imports it — a second
    commit-file parser fails here."""
    import ast

    from hz_csv2parquet_spark import cli
    from hz_csv2parquet_spark.sources import txlog, txlog_source

    def hits(node) -> int:
        return sum(
            isinstance(n, ast.Name) and n.id == "_version_file" for n in ast.walk(node)
        )

    homes: dict[str, int] = {}
    for mod in (txlog, txlog_source, cli):
        tree = ast.parse(open(mod.__file__).read())
        imported = {
            a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
        }
        assert "_version_file" not in imported, mod.__name__
        defs = [(n.name, n) for n in tree.body if isinstance(n, ast.FunctionDef)] + [
            (f"{c.name}.{fn.name}", fn)
            for c in tree.body
            if isinstance(c, ast.ClassDef)
            for fn in c.body
            if isinstance(fn, ast.FunctionDef)
        ]
        found = {name: hits(fn) for name, fn in defs if hits(fn)}
        # every use sits inside a listed function
        assert sum(found.values()) == hits(tree), mod.__name__
        homes.update(found)
    assert set(homes) == {"TxTable._commit", "TxTable._read_commit"}, homes


def test_dml_pipeline_pieces_have_one_home():
    """Tooling guard: in txlog.py the partition-cardinality choice
    (``_PV_UNION_MAX``) is read in one function, and the
    deletion-vector writer ``write_vector`` is defined once — a
    second partition-value attach or vector-staging path fails
    here."""
    import ast

    from hz_csv2parquet_spark.sources import txlog

    tree = ast.parse(open(txlog.__file__).read())
    readers = {
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and n.id == "_PV_UNION_MAX"
    }
    assert readers == {"_attach_pv"}, readers
    writers = [
        fn
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "write_vector"
    ]
    assert len(writers) == 1


def test_changes_blind_append_is_pure_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    t.append(spark.createDataFrame([(100, 200), (101, 202)], "k long, v long"))
    feed = t.changes(0).collect()
    assert {(r.k, r.v, r._change_type, r._commit_version) for r in feed} == {
        (100, 200, "insert", 1),
        (101, 202, "insert", 1),
    }


def test_changes_merge_emits_delete_plus_insert(spark, tmp_path):
    """An update surfaces as delete(old) + insert(new); kept rows of
    the copy-on-write rewrite cancel in the content diff and never
    appear — the CDF contract, independent of file layout."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = (
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.create(df)
    ups = spark.createDataFrame([(5, -5), (200, -200)], "k long, v long")
    t.merge_upsert(ups, "k")
    feed = {(r.k, r.v, r._change_type) for r in t.changes(0).collect()}
    assert feed == {
        (5, -5, "insert"),
        (200, -200, "insert"),
        (5, 10, "delete"),
    }
    # version filtering: nothing changed in (1, 1]
    assert t.changes(1).count() == 0


def test_changes_skip_data_change_false_maintenance(spark, tmp_path):
    """Compaction rearranges bytes, not content: its add/remove
    actions carry dataChange=false and the feed skips the commit
    without reading (or diffing) the rewritten table."""
    t = _mk(spark, tmp_path, n=50, files=4)
    t.compact(target_files=1)
    assert t.changes(0).count() == 0
    # and a post-compaction append still feeds through
    t.append(spark.createDataFrame([(999, 1)], "k long, v long"))
    assert [(r.k, r._change_type, r._commit_version) for r in t.changes(1).collect()] == [
        (999, "insert", 2)
    ]


def test_changes_null_fills_across_schema_evolution(spark, tmp_path):
    """A feed spanning a schema-widening commit aligns every
    generation to the as-of schema (old rows null-fill new columns)."""
    t = _mk(spark, tmp_path, n=5, files=1)
    t.evolve_schema(spark.createDataFrame([(70, 700, "x")], "k long, v long, tag string"))
    feed = t.changes(0).collect()
    assert [(r.k, r.v, r.tag, r._change_type) for r in feed] == [(70, 700, "x", "insert")]
    # a feed that includes the PRE-evolution create would null-fill:
    t2 = TxTable(spark, str(tmp_path / "t2"), stat_cols=["k"])
    t2.create(spark.createDataFrame([(1, 10)], "k long, v long"))
    t2.evolve_schema(spark.createDataFrame([(2, 20, "y")], "k long, v long, tag string"))
    got = {(r.k, r.v, r.tag) for r in t2.changes(0).collect()}
    assert got == {(2, 20, "y")}


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE WHERE: rows vanish, files without matching rows keep
    their log entries (copy-on-write bounded by the touched set)."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.create(df)
    before = set(t.files())
    v = t.delete_where("k >= 120 AND k < 130")
    assert v == 1
    after = set(t.files())
    assert len(before & after) == 3  # 3 of 4 files untouched
    got = {r.k for r in t.snapshot().collect()}
    assert got == set(range(400)) - set(range(120, 130))
    # no match: no new version, no commit
    assert t.delete_where("k > 10000") == v
    assert t.version() == v
    # txn-marked delete replays as a no-op
    assert t.delete_where("k = 0", txn=("eraser", 1)) == v + 1
    assert t.delete_where("k = 0", txn=("eraser", 1)) is None
    assert 0 not in {r.k for r in t.snapshot().collect()}


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """Data-loss regression (ADVICE r8/r9 high): DELETE keeps rows
    where the predicate is NOT TRUE. A row whose predicate evaluates
    to NULL satisfies neither ``pred`` nor ``~pred`` under
    three-valued logic, so a naive ``filter(~pred)`` rewrite silently
    drops NULL-key rows co-located in a touched file. Delta's DELETE
    keeps them; so must ours."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"])
    # one file holding matching rows, non-matching rows, AND NULLs
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 99), (4, None), (5, 10)],
        "k long, v long",
    ).coalesce(1)
    t.create(df)
    t.delete_where("v = 10")
    got = {(r.k, r.v) for r in t.snapshot().collect()}
    # rows with v=10 gone; NULL-v rows SURVIVE the rewrite
    assert got == {(2, None), (3, 99), (4, None)}


def test_delete_where_table_path_with_space(spark, tmp_path):
    """input_file_name() percent-encodes URIs; the touched-file list
    must decode back to real paths or the remove action names a
    nonexistent file and the deleted rows stay live (ADVICE low)."""
    t = TxTable(spark, str(tmp_path / "tbl with space"), stat_cols=["k"])
    t.create(spark.createDataFrame([(1, 1), (2, 2)], "k long, v long").coalesce(1))
    v = t.delete_where("k = 1")
    assert v == 1
    assert {r.k for r in t.snapshot().collect()} == {2}


def test_changes_after_vacuum_raises_retention_error(spark, tmp_path):
    """The feed shares time travel's retention contract: once vacuum
    reclaims a commit's removed files, the diff is unrecoverable and
    the feed says so instead of failing deep in an executor."""
    t = _mk(spark, tmp_path, n=20, files=1)
    t.merge_upsert(spark.createDataFrame([(5, -5)], "k long, v long"), "k")
    t.vacuum(retention_seconds=0)
    with pytest.raises(FileNotFoundError, match="retention"):
        t.changes(0).count()


def test_commit_info_records_operations_and_replay_ignores_it(spark, tmp_path):
    """Every mutating verb stamps a commitInfo action (Delta's
    commitInfo shape: operation + wall-clock) and replay treats it as
    pure observability."""
    t = _mk(spark, tmp_path, n=20, files=2)
    t.append(spark.createDataFrame([(100, 1)], "k long, v long"))
    t.merge_upsert(spark.createDataFrame([(0, -1)], "k long, v long"), "k")
    t.delete_where("k = 1")
    t.compact(target_files=1)
    ops = []
    for v in range(t.version() + 1):
        for a in json.load(open(_version_file(t.path, v))):
            if "commitInfo" in a:
                ops.append(a["commitInfo"]["operation"])
                assert a["commitInfo"]["timestamp"] > 0
    assert ops == ["CREATE", "APPEND", "MERGE", "DELETE", "OPTIMIZE"]
    # replay is unaffected by the extra action
    assert {r.k for r in t.snapshot().collect()} == (
        set(range(20)) | {100}
    ) - {1}


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=2)
    t.compact(target_files=1)
    import glob as _glob

    files_before = set(_glob.glob(os.path.join(t.path, "data-*", "*.parquet")))
    n = t.vacuum(retention_seconds=0, dry_run=True)
    assert n == 2  # the two pre-compaction files
    assert set(_glob.glob(os.path.join(t.path, "data-*", "*.parquet"))) == files_before
    assert t.vacuum(retention_seconds=0) == 2  # the real sweep still works


def test_compact_inline_zorder_prunes_both_dimensions_without_stored_key(spark, tmp_path):
    """compact(zorder=[a, b]) — OPTIMIZE ZORDER BY without polluting
    the table schema: the Morton key is computed transiently for the
    rewrite and dropped, yet both dimensions become prunable."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["ua", "hb"])
    df = (
        spark.range(4096)
        .selectExpr("CAST(id % 64 AS BIGINT) AS ua", "CAST(id DIV 64 AS BIGINT) AS hb")
        .repartition(8)
    )
    t.create(df)
    t.compact(target_files=16, zorder=["ua", "hb"])
    assert len(t.files()) == 16
    assert t.snapshot().columns == ["ua", "hb"]  # transient key dropped
    _, miss_a = t.pruned_files("ua", 0, 7)
    _, miss_b = t.pruned_files("hb", 0, 7)
    assert len(miss_a) >= 8 and len(miss_b) >= 8
    assert t.snapshot().count() == 4096
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.compact(zorder=["ua"])
    with _pytest.raises(ValueError):
        t.compact(layout_key="ua", zorder=["ua", "hb"])


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE: the snapshot equals the time-travel read of the
    target version, history is preserved (new commit, old versions
    intact), and no data files are rewritten (pure log surgery)."""
    t = _mk(spark, tmp_path, n=10, files=2)  # v0
    t.append(spark.createDataFrame([(100, 1), (101, 2)], "k long, v long"))  # v1
    t.delete_where("k < 3")  # v2: rewrite
    files_before = set(glob.glob(os.path.join(t.path, "data-*", "*.parquet")))
    v = t.restore(1)
    assert v == 3  # rollback is a COMMIT, not history erasure
    files_after = set(glob.glob(os.path.join(t.path, "data-*", "*.parquet")))
    assert files_before == files_after  # no data rewritten
    assert {r.k for r in t.snapshot().collect()} == {
        r.k for r in t.snapshot(as_of=1).collect()
    }
    assert {r.k for r in t.snapshot().collect()} == set(range(10)) | {100, 101}
    # time travel still sees the deleted state
    assert {r.k for r in t.snapshot(as_of=2).collect()} == (
        set(range(3, 10)) | {100, 101}
    )
    # restoring to the current state is a no-op
    assert t.restore(3) == 3
    with pytest.raises(ValueError, match="version"):
        t.restore(99)


def test_restore_schema_rollback_and_change_feed(spark, tmp_path):
    """RESTORE across a schema evolution rolls the meta back, and on
    a change_data table the rollback commit carries cdc sidecars so
    the feed shows it as row-level delete+insert."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], change_data=True)
    t.create(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))  # v0
    t.evolve_schema(
        spark.createDataFrame([(3, 30, "x")], "k long, v long, tag string")
    )  # v1
    t.delete_where("k = 1")  # v2
    v = t.restore(0)
    assert v == 3
    snap = t.snapshot()
    assert snap.columns == ["k", "v"]  # schema meta rolled back
    assert {(r.k, r.v) for r in snap.collect()} == {(1, 10), (2, 20)}
    feed = {
        (r.k, r._change_type)
        for r in t.changes(2).collect()  # just the restore commit
    }
    # restore re-inserts the deleted k=1 row and drops the k=3 row
    assert feed == {(1, "insert"), (3, "delete")}


def test_restore_past_vacuum_raises(spark, tmp_path):
    """RESTORE shares time travel's retention contract: once vacuum
    reclaims the target version's files the rollback is impossible
    and says so."""
    t = _mk(spark, tmp_path, n=10, files=1)
    t.delete_where("k < 5")
    t.vacuum(retention_seconds=0)
    with pytest.raises(FileNotFoundError, match="retention"):
        t.restore(0)


# ---------------- deletion vectors (merge-on-read DELETE) ----------------


def _mk_dv(spark, tmp_path, **kw):
    t = TxTable(
        spark, str(tmp_path / "dv_tbl"), stat_cols=["k"], deletion_vectors=True, **kw
    )
    t.create(
        spark.createDataFrame(
            [(i, 10 * i) for i in range(20)], "k long, v long"
        ).repartition(2)
    )
    return t


def test_dv_delete_rewrites_zero_data_files(spark, tmp_path):
    """Merge-on-read DELETE: data files untouched, positions masked by
    every reader, a second delete on the same file unions its vector,
    and the re-emitted add actions carry the vector in the log."""
    t = _mk_dv(spark, tmp_path)
    before = set(glob.glob(os.path.join(t.path, "data-*", "*.parquet")))
    v = t.delete_where("k % 5 = 0")
    after = set(glob.glob(os.path.join(t.path, "data-*", "*.parquet")))
    assert before == after  # zero data files rewritten
    assert {r.k for r in t.snapshot().collect()} == {
        k for k in range(20) if k % 5 != 0
    }
    acts = json.load(open(_version_file(t.path, v)))
    dv_adds = [a["add"] for a in acts if "add" in a and a["add"].get("dv")]
    assert len(dv_adds) == 2  # both files held multiples of 5
    assert sum(a["dv"]["deleted"] for a in dv_adds) == 4
    assert not any("remove" in a for a in acts)
    # union: a second delete touching the same files
    t.delete_where("k = 7")
    assert {r.k for r in t.snapshot().collect()} == {
        k for k in range(20) if k % 5 != 0 and k != 7
    }
    # txn replay is a no-op, same as copy-on-write
    v = t.delete_where("k = 1", txn=("dv_eraser", 0))
    assert t.delete_where("k = 1", txn=("dv_eraser", 0)) is None
    # MERGE and time travel see through / around the vectors
    t.merge_upsert(spark.createDataFrame([(2, -2)], "k long, v long"), "k")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[2] == -2 and 1 not in got and 7 not in got and 5 not in got
    assert t.snapshot(as_of=0).count() == 20  # pre-delete snapshot intact


def test_dv_delete_keeps_null_predicate_rows(spark, tmp_path):
    """The NULL-predicate contract holds in merge-on-read mode too:
    only rows where the predicate is TRUE enter the vector."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"], deletion_vectors=True)
    t.create(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 99), (4, None), (5, 10)], "k long, v long"
        ).coalesce(1)
    )
    t.delete_where("v = 10")
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (2, None),
        (3, 99),
        (4, None),
    }


def test_dv_compact_materializes_and_vacuum_reclaims(spark, tmp_path):
    """OPTIMIZE materializes vectors (rewritten adds carry none) and
    vacuum reclaims dead vectors under the retention guard while live
    ones are never touched."""
    t = _mk_dv(spark, tmp_path)
    t.delete_where("k < 4")
    live_dv = glob.glob(os.path.join(t.path, "_dv", "*.parquet"))
    assert live_dv
    assert t.vacuum(retention_seconds=0) == 0  # live vectors protected
    v = t.compact(target_files=1)
    acts = json.load(open(_version_file(t.path, v)))
    assert not any(a.get("add", {}).get("dv") for a in acts)
    assert {r.k for r in t.snapshot().collect()} == set(range(4, 20))
    # vectors are now dead: retention-guarded, then reclaimed
    assert t.vacuum() == 0
    n = t.vacuum(retention_seconds=0)
    assert n >= len(live_dv)
    assert not glob.glob(os.path.join(t.path, "_dv", "*"))
    assert {r.k for r in t.snapshot().collect()} == set(range(4, 20))


def test_dv_changes_without_cdc_sidecars_diffs_vector_states(spark, tmp_path):
    """A dv commit re-adds the data file with no remove action —
    classifying it by removed==[] would replay the whole file as
    inserts (advisor r10 medium). The feed instead diffs the file's
    v−1 vector state against the committed one: exactly the newly
    masked rows surface as deletes, with or without cdc sidecars."""
    t = _mk_dv(spark, tmp_path)
    t.delete_where("k = 3")
    feed = [(r.k, r._change_type, r._commit_version) for r in t.changes(0).collect()]
    assert feed == [(3, "delete", 1)]
    # a second dv delete on the SAME file: only the new positions are
    # deltas — the union vector must not re-emit k=3
    t.delete_where("k = 5")
    feed2 = sorted(
        (r.k, r._change_type, r._commit_version) for r in t.changes(0).collect()
    )
    assert feed2 == [(3, "delete", 1), (5, "delete", 2)]
    t2 = _mk_dv(spark, tmp_path / "cdf", change_data=True)
    t2.delete_where("k = 3")
    feed = [(r.k, r._change_type, r._commit_version) for r in t2.changes(0).collect()]
    assert feed == [(3, "delete", 1)]


# ---------------- hive partitioning (partitionValues in the log) ----------------


def test_partitioned_table_roundtrip_and_pruning(spark, tmp_path):
    """create(partition_by): hive layout, partition values in the add
    actions (NOT in the data files), typed reconstruction by every
    reader, layout preserved across append/MERGE/DELETE/OPTIMIZE, and
    partition pruning through the same stats gate MERGE uses."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = spark.createDataFrame(
        [(i, i % 3, 10 * i) for i in range(30)], "k long, p int, v long"
    )
    t.create(df, partition_by=["p"])
    assert t.partition_columns() == ["p"]
    # hive layout on disk; partition column absent from the files
    leaf = glob.glob(os.path.join(t.path, "data-*", "p=*", "*.parquet"))
    assert leaf
    import pyarrow.parquet as pq

    assert "p" not in pq.ParquetFile(leaf[0]).schema_arrow.names
    acts = json.load(open(_version_file(t.path, 0)))
    pvs = {a["add"]["partitionValues"]["p"] for a in acts if "add" in a}
    assert pvs == {"0", "1", "2"}
    # typed reconstruction
    got = {(r.k, r.p, r.v) for r in t.snapshot().collect()}
    assert got == {(i, i % 3, 10 * i) for i in range(30)}
    assert dict(t.snapshot().dtypes)["p"] == "int"
    # partition pruning via pruned_files
    hit, miss = t.pruned_files("p", 1, 1)
    assert len(miss) >= 1 and all("p=1" in h for h in hit)
    # append preserves the layout
    t.append(spark.createDataFrame([(100, 1, -1)], "k long, p int, v long"))
    assert t.snapshot().count() == 31
    # MERGE on a partitioned table: updates win, layout kept
    t.merge_upsert(spark.createDataFrame([(5, 2, -5)], "k long, p int, v long"), "k")
    got = {r.k: (r.p, r.v) for r in t.snapshot().collect()}
    assert got[5] == (2, -5) and len(got) == 31
    assert not glob.glob(os.path.join(t.path, "data-*", "*.parquet"))  # no flat files
    # DELETE on the PARTITION column (predicate resolves via pv literals)
    t.delete_where("p = 0")
    got = {r.k for r in t.snapshot().collect()}
    assert got == {k for k in range(30) if k % 3 != 0 or k == 5} | {100} - {0}
    # OPTIMIZE keeps the layout and the values
    t.compact(target_files=1)
    assert t.partition_columns() == ["p"]
    assert {(r.k, r.p) for r in t.snapshot().collect()} == {
        (k, k % 3 if k != 5 else 2) for k in got
    } | ({(100, 1)} if 100 in got else set())


def test_partitioned_dv_delete(spark, tmp_path):
    """Deletion vectors compose with hive partitioning: the position
    scan resolves partition-column predicates via the log's values,
    zero data files are rewritten, and readers mask + reattach."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True
    )
    t.create(
        spark.createDataFrame(
            [(i, i % 2, 10 * i) for i in range(10)], "k long, p int, v long"
        ),
        partition_by=["p"],
    )
    before = set(glob.glob(os.path.join(t.path, "data-*", "p=*", "*.parquet")))
    t.delete_where("p = 1 AND k < 5")
    after = set(glob.glob(os.path.join(t.path, "data-*", "p=*", "*.parquet")))
    assert before == after
    got = {(r.k, r.p) for r in t.snapshot().collect()}
    assert got == {(i, i % 2) for i in range(10) if not (i % 2 == 1 and i < 5)}


def test_vacuum_reclaims_partitioned_files(spark, tmp_path):
    """Dead files under hive partition subdirectories are swept too
    (the glob is recursive), and emptied partition trees are pruned."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame(
            [(i, i % 2, i) for i in range(10)], "k long, p int, v long"
        ),
        partition_by=["p"],
    )
    t.compact(target_files=1)  # supersedes every partitioned file
    dead = [
        f
        for f in glob.glob(
            os.path.join(t.path, "data-*", "**", "*.parquet"), recursive=True
        )
        if f not in set(t.files())
    ]
    assert dead
    assert t.vacuum(retention_seconds=0) >= len(dead)
    assert not [
        f
        for f in glob.glob(
            os.path.join(t.path, "data-*", "**", "*.parquet"), recursive=True
        )
        if f not in set(t.files())
    ]
    assert t.snapshot().count() == 10


def test_restore_rolls_back_deletion_vectors(spark, tmp_path):
    """A version differing ONLY in deletion vectors must restore: the
    file set is identical, but the target's add actions (no vector /
    a smaller vector) replace the current ones — the hypothesis
    sequence compact → dv-delete → restore found this as a silent
    no-op. With change_data the rollback commit's feed shows exactly
    the resurrected rows."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.createDataFrame(
            [(i, 10 * i) for i in range(10)], "k long, v long"
        ).repartition(2)
    )
    t.compact(target_files=1)  # v1: dataChange=false layout commit
    t.delete_where("k < 5")  # v2: vector on the compacted file
    assert t.snapshot().count() == 5
    v = t.restore(1)
    assert v == 3  # the dv-only difference IS a restorable change
    assert {r.k for r in t.snapshot().collect()} == set(range(10))
    feed = {(r.k, r._change_type) for r in t.changes(2).collect()}
    assert feed == {(k, "insert") for k in range(5)}  # resurrections only


def test_dv_delete_after_compaction_visible_to_streams(spark, tmp_path):
    """_stage_dv_detect copies the prior add action; a compaction
    product carries dataChange=false, which must NOT leak onto the vector
    re-add — streams and feeds would silently skip a real delete."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True)
    t.create(
        spark.createDataFrame([(i, i) for i in range(6)], "k long, v long").coalesce(1)
    )
    t.compact(target_files=1)
    v = t.delete_where("k = 2")
    acts = json.load(open(_version_file(t.path, v)))
    dv_adds = [a["add"] for a in acts if "add" in a and a["add"].get("dv")]
    assert dv_adds and all(a.get("dataChange", True) for a in dv_adds)


# ---------------- round-11 fixes (advisor r10 + selective OPTIMIZE) ----------------


def test_restore_dv_rollback_feeds_without_cdc(spark, tmp_path):
    """Advisor r10 medium: restore() emits in-place re-adds (file
    still live, vector rolled back) with no remove action; the feed
    used to classify that as a blind append and replay the WHOLE file
    as inserts. The in-place diff must emit exactly the resurrected
    rows — on a table with NO change-data sidecars."""
    t = _mk_dv(spark, tmp_path)  # 20 rows, no change_data
    t.delete_where("k < 5")  # v1: vectors
    assert t.snapshot().count() == 15
    v = t.restore(0)  # v2: in-place vector rollback, no removes
    assert v == 2
    assert t.snapshot().count() == 20
    feed = {(r.k, r._change_type) for r in t.changes(1).collect()}
    assert feed == {(k, "insert") for k in range(5)}  # NOT all 20 rows
    # the full feed from table start stays consistent end-to-end
    full = sorted(
        (r.k, r._change_type, r._commit_version) for r in t.changes(-1).collect()
    )
    assert [x for x in full if x[2] == 1] == [(k, "delete", 1) for k in range(5)]
    assert [x for x in full if x[2] == 2] == [(k, "insert", 2) for k in range(5)]


def test_noop_dv_delete_commits_nothing(spark, tmp_path):
    """Advisor r10 low: a delete whose predicate matches only
    already-masked rows used to commit re-emitted vectors (and on a
    change_data table, a dv commit with zero cdc sidecars that
    bricked the feed). It must be a version no-op."""
    t = _mk_dv(spark, tmp_path, change_data=True)
    v1 = t.delete_where("k = 3")
    assert v1 == 1
    v2 = t.delete_where("k = 3")  # every match already masked
    assert v2 == 1 and t.version() == 1
    feed = [(r.k, r._change_type) for r in t.changes(0).collect()]
    assert feed == [(3, "delete")]
    # a txn-stamped no-op still records its exactly-once marker
    v3 = t.delete_where("k = 3", txn=("eraser", 7))
    assert v3 == 2 and t.delete_where("k = 3", txn=("eraser", 7)) is None
    assert t.changes(0).count() == 1  # the marker-only commit is changeless


def test_dv_delete_fused_detection_touches_only_matching_files(spark, tmp_path):
    """Round 16: dv DELETE/UPDATE detection is FUSED into the
    vector-staging scan — one distributed pass over the stats/bloom
    candidates decides touched-ness per file (a matching position not
    already masked) and writes only touched files' sidecars. Pins the
    two properties the fusion must preserve: (a) a file whose rows
    don't match — even one carrying an old vector — is not re-emitted
    and keeps its sidecar byte-identical; (b) the whole delete
    dispatches a SINGLE distributed pass (no separate detection scan:
    job count bounded by the one fused pipeline)."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True
    )
    # two files with disjoint key ranges so stats CANNOT prune (the
    # predicates below straddle both ranges' [min,max]) — touched-ness
    # must come from the fused scan, not the driver-side skipping
    a = spark.createDataFrame([(i, i) for i in range(0, 10)], "k long, v long")
    b = spark.createDataFrame([(i, i) for i in range(10, 20)], "k long, v long")
    t.create(a.coalesce(1))
    t.append(b.coalesce(1))
    # v2: vector on the first file only
    t.delete_where("k = 3 or k = 23")
    adds_v2 = {
        x["add"]["path"]: x["add"]
        for x in json.load(open(_version_file(t.path, 2)))
        if "add" in x
    }
    assert len(adds_v2) == 1  # only the k=3 file re-emitted
    old_sidecar = next(iter(adds_v2.values()))["dv"]["path"]
    old_bytes = open(os.path.join(t.path, old_sidecar), "rb").read()
    # v3: delete that matches only the SECOND file; the first file's
    # old vector enters the fused scan as candidate state but must
    # not produce a new sidecar or a re-emitted add
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("fused_dv", "fused_dv")
    t.delete_where("k = 13 or k = 3")  # k=3 already masked, k=13 live
    sc.setJobGroup(None, None)
    jobs = len(set(tracker.getJobIdsForGroup("fused_dv") or []))
    # one fused applyInPandas pipeline (2 AQE stages) — the old
    # detect-then-stage path dispatched >= 5 jobs here
    assert jobs <= 3, f"dv delete dispatched {jobs} jobs — detection unfused?"
    acts_v3 = json.load(open(_version_file(t.path, 3)))
    re_emitted = {x["add"]["path"] for x in acts_v3 if "add" in x}
    assert re_emitted == {p for p in t._replay_state()["adds"] if p not in adds_v2}
    # the untouched file's sidecar pointer and bytes are unchanged
    state = t._replay_state()
    assert state["adds"][next(iter(adds_v2))]["dv"]["path"] == old_sidecar
    assert open(os.path.join(t.path, old_sidecar), "rb").read() == old_bytes
    assert {r.k for r in t.snapshot().collect()} == set(range(20)) - {3, 13}


def test_compact_binpacks_only_small_files(spark, tmp_path):
    """Selective OPTIMIZE (VERDICT r10 #3): with max_file_rows, only
    under-target files rewrite — a small append onto a compacted
    table costs O(appended), not O(table)."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(i, i) for i in range(1000)], "k long, v long")
        .coalesce(1)
    )
    big_rel = list(t._replay_state()["adds"])
    assert len(big_rel) == 1
    for j in range(3):  # three fragment appends
        t.append(
            spark.createDataFrame([(1000 + 10 * j + i, 0) for i in range(10)],
                                  "k long, v long").coalesce(1)
        )
    v = t.compact(max_file_rows=500)
    acts = json.load(open(_version_file(t.path, v)))
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    added = [a["add"] for a in acts if "add" in a]
    assert big_rel[0] not in removed  # the right-sized file is untouched
    assert len(removed) == 3 and len(added) == 1  # 3 fragments -> 1 file
    assert added[0]["rows"] == 30
    assert t.snapshot().count() == 1030
    # steady state: a second pass finds one under-target file and no
    # vectors -> commits nothing (no rewrite-forever loop)
    assert t.compact(max_file_rows=500) == v


def test_compact_where_scopes_to_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE: the pass touches only files whose logged
    partitionValues satisfy the predicate."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame(
            [(i, i % 2, i) for i in range(40)], "k long, p int, v long"
        ).repartition(4),
        partition_by=["p"],
    )
    state = t._replay_state()
    p0_before = {r for r, a in state["adds"].items()
                 if a["partitionValues"]["p"] == "0"}
    p1_before = {r for r, a in state["adds"].items()
                 if a["partitionValues"]["p"] == "1"}
    assert len(p0_before) > 1 and len(p1_before) > 1
    v = t.compact(target_files=1, where="p = 1")
    acts = json.load(open(_version_file(t.path, v)))
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    assert removed == p1_before  # p=0 files never touched
    state2 = t._replay_state()
    assert {r for r, a in state2["adds"].items()
            if a["partitionValues"]["p"] == "0"} == p0_before
    assert t.snapshot().count() == 40
    # unpartitioned tables reject a where scope
    t2 = TxTable(spark, str(tmp_path / "flat"))
    t2.create(spark.range(5))
    with pytest.raises(ValueError, match="not partitioned"):
        t2.compact(where="id = 1")


def test_compact_small_table_still_materializes_vectors(spark, tmp_path):
    """Advisor r10 medium: the old early-return (len(files) <=
    target_files) skipped single-file tables entirely, so their
    vectors were unreclaimable via plain compact()."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True)
    t.create(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .coalesce(1)
    )
    t.delete_where("k < 3")
    v = t.compact(target_files=1)  # one file, but it carries a vector
    assert v == 2
    state = t._replay_state()
    assert not any(a.get("dv") for a in state["adds"].values())
    assert t.snapshot().count() == 7
    # now genuinely compact and vector-free: the next pass is a no-op
    assert t.compact(target_files=1) == v


def test_reader_feature_gate_refuses_unknown_features(spark, tmp_path):
    """Protocol versioning (VERDICT r10 #4): a log that REQUIRES a
    reader feature this implementation lacks must refuse every read
    path — a feature-unaware reader pressing on would silently
    misread (e.g. resurrect dv-masked rows)."""
    from hz_csv2parquet_spark.sources.txlog import TableFeatureError

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    # a future writer upgrades the table with a feature we don't know
    # (columnMapping graduated to supported in round 11 — rowTracking
    # stands in as the next unknown)
    v = t.version() + 1
    with open(_version_file(t.path, v), "x") as fh:
        json.dump([{"meta": {"readerFeatures": ["rowTracking"]}}], fh)
    with pytest.raises(TableFeatureError, match="rowTracking"):
        t.snapshot()
    with pytest.raises(TableFeatureError):
        t.files()
    # the DSv2 source replays through the same gate
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    with pytest.raises(Exception, match="rowTracking"):
        spark.read.format("hz_txlog").load(t.path).collect()
    # time travel BEFORE the upgrade still reads fine
    assert t.snapshot(as_of=0).count() == 1


def test_dv_create_records_feature_and_first_use_upgrades(spark, tmp_path):
    """deletionVectors rides the create meta when enabled there; a
    legacy-style table (flag only on the instance) records the
    feature in the same commit as its FIRST vector."""
    t = _mk_dv(spark, tmp_path)
    assert "deletionVectors" in t._replay_state()["readerFeatures"]
    # legacy simulation: strip properties/features from the create meta
    p2 = str(tmp_path / "legacy")
    t2 = TxTable(spark, p2, stat_cols=["k"], deletion_vectors=True)
    t2.create(spark.createDataFrame([(i, i) for i in range(8)], "k long, v long").coalesce(1))
    f0 = _version_file(p2, 0)
    acts = json.load(open(f0))
    for a in acts:
        if "meta" in a:
            a["meta"].pop("properties", None)
            a["meta"].pop("readerFeatures", None)
    os.remove(f0)
    with open(f0, "x") as fh:
        json.dump(acts, fh)
    assert t2._replay_state()["readerFeatures"] == set()
    v = t2.delete_where("k = 2")  # constructor-flag fallback applies
    state = t2._replay_state()
    assert "deletionVectors" in state["readerFeatures"]
    assert any(a.get("dv") for a in state["adds"].values())
    assert t2.snapshot().count() == 7


def test_properties_persist_in_log_and_govern_other_writers(spark, tmp_path):
    """Advisor r10 low: change_data/deletion_vectors are TABLE
    properties, not per-instance flags — a bare TxTable(path) (the
    CLI shape) must honor them on delete/merge, or readChangeFeed
    consumers fail mid-feed at its commits."""
    creator = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        change_data=True,
        deletion_vectors=True,
    )
    creator.create(
        spark.createDataFrame([(i, 10 * i) for i in range(10)], "k long, v long")
        .coalesce(1)
    )
    # a different writer, constructed WITHOUT the flags
    bare = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    v = bare.delete_where("k = 4")
    acts = json.load(open(_version_file(bare.path, v)))
    assert any("cdc" in a for a in acts)          # cdc sidecars staged
    assert any(a.get("add", {}).get("dv") for a in acts)  # dv mode, no rewrite
    v2 = bare.merge_upsert(
        spark.createDataFrame([(5, -5)], "k long, v long"), "k"
    )
    acts2 = json.load(open(_version_file(bare.path, v2)))
    assert any("cdc" in a for a in acts2)
    feed = {(r.k, r._change_type) for r in creator.changes(0).collect()}
    assert (4, "delete") in feed and (5, "insert") in feed and (5, "delete") in feed
    # properties survive checkpointed replay
    for j in range(12):  # cross a checkpoint boundary (interval 10)
        bare.append(spark.createDataFrame([(100 + j, 0)], "k long, v long"))
    late = TxTable(spark, str(tmp_path / "tbl"))
    st = late._replay_state()
    assert st["properties"]["changeDataFeed"] is True
    assert st["properties"]["deletionVectors"] is True


def test_set_properties_enables_cdf_later(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES shape: enabling changeDataFeed
    after creation governs every subsequent writer; enabling
    deletionVectors records the reader feature."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(i, i) for i in range(6)], "k long, v long")
        .coalesce(1)
    )
    t.set_properties(changeDataFeed=True)
    bare = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    v = bare.delete_where("k = 1")
    acts = json.load(open(_version_file(t.path, v)))
    assert any("cdc" in a for a in acts)
    t.set_properties(deletionVectors=True)
    assert "deletionVectors" in t._replay_state()["readerFeatures"]
    bare2 = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    bare2.delete_where("k = 2")  # now merge-on-read via the property
    state = bare2._replay_state()
    assert any(a.get("dv") for a in state["adds"].values())
    with pytest.raises(ValueError, match="unknown table properties"):
        t.set_properties(sparkles=True)


def test_high_cardinality_partitions_plan_flat(spark, tmp_path):
    """VERDICT r10 #5: the per-partition-tuple union plan is
    O(|partitions|); past _PV_UNION_MAX the read must collapse to one
    scan + a broadcast partition-value join (plan size O(1)), with
    identical results — exercised through snapshot, DELETE (detection
    + dv write), and the change feed."""
    import hz_csv2parquet_spark.sources.txlog as txmod

    n_parts = 100
    assert n_parts > txmod._PV_UNION_MAX
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True
    )
    t.create(
        spark.createDataFrame(
            [(i, i % n_parts, 10 * i) for i in range(400)],
            "k long, p int, v long",
        ).repartition(8),
        partition_by=["p"],
    )
    snap = t.snapshot()
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan       # the flat pv attach
    assert "Exchange hashpartitioning" not in plan  # still no shuffle
    assert plan.count("Scan parquet") <= 3   # one scan, not 100 branches
    got = {(r.k, r.p, r.v) for r in snap.collect()}
    assert got == {(i, i % n_parts, 10 * i) for i in range(400)}
    # partition-typed predicate resolves through the join
    assert snap.filter("p = 7").count() == 4
    # dv delete at high cardinality: detection + vector write flat
    t.delete_where("p = 3 OR k = 5")
    assert t.snapshot().count() == 400 - 4 - 1
    assert {r.k for r in t.snapshot().filter("p = 3").collect()} == set()
    # feed over the dv commit stays row-accurate
    feed = {(r.k, r._change_type) for r in t.changes(0).collect()}
    assert feed == {(k, "delete") for k in range(400) if k % n_parts == 3 or k == 5}


def test_vacuum_interaction_on_partitioned_dv_cdf_table(spark, tmp_path):
    """The E168 combination under vacuum: live vectors and the cdc
    sidecars of in-window feeds are never reclaimed; past retention
    the cdc files die and the feed refuses with the retention error
    instead of returning a partial feed."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.createDataFrame(
            [(i, i % 3, 10 * i) for i in range(30)], "k long, p int, v long"
        ).repartition(2),
        partition_by=["p"],
    )
    t.delete_where("k % 5 = 0")
    assert t.changes(0).count() == 6
    # default retention: nothing reclaimable (vectors live, cdc young)
    assert t.vacuum() == 0
    # zero retention: live vectors still protected, cdc reclaimed
    t.vacuum(retention_seconds=0)
    assert t.snapshot().count() == 24          # masking intact
    import glob as _g

    assert not _g.glob(os.path.join(t.path, "_change_data", "*", "*.parquet"))
    with pytest.raises(FileNotFoundError, match="retention"):
        t.changes(0).count()


@pytest.mark.parametrize("cdf", [True, False], ids=["cdc-sidecars", "content-diff"])
def test_change_feed_reconstructs_every_snapshot(spark, tmp_path, cdf):
    """The end-to-end CDF law the advisor findings keep orbiting: for
    EVERY version v, accumulating the change feed from table start
    (multiset inserts − deletes) must reconstruct snapshot(v)
    exactly. One mixed lifecycle — blind append, copy-on-write MERGE
    and DELETE, merge-on-read DELETE, a dataChange=false compaction,
    RESTORE (in-place vector rollback), schema evolution — so any
    feed path that over- or under-emits (whole-file replays, skipped
    in-place diffs, maintenance leakage) breaks the equality at the
    first bad commit. Runs twice: with cdc sidecars (the staged
    change sets) and WITHOUT (the content-diff + in-place-vector-diff
    recovery paths, where the r10 advisor found the restore replay)."""
    from collections import Counter

    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=cdf,
    )
    t.create(
        spark.createDataFrame(
            [(i, 10 * i) for i in range(12)], "k long, v long"
        ).repartition(2)
    )                                                   # v0
    t.append(
        spark.createDataFrame([(i, 10 * i) for i in range(12, 18)], "k long, v long")
    )                                                   # v1
    t.delete_where("k % 5 = 0")                         # v2: dv delete
    t.merge_upsert(
        spark.createDataFrame([(3, -3), (99, -99)], "k long, v long"), "k"
    )                                                   # v3: CoW merge
    t.compact(target_files=1)                           # v4: maintenance
    t.delete_where("k = 7")                             # v5: dv on compacted file
    t.restore(3)                                        # v6: rollback (re-adds + removes)
    t.evolve_schema(
        spark.createDataFrame([(200, 1, "x")], "k long, v long, tag string")
    )                                                   # v7: widening append
    t.update_where("k = 4", {"v": "v + 1"})             # v8: dv UPDATE (pre/postimage)

    head = t.version()
    assert head == 8
    cols = None
    for v in range(head + 1):
        snap = t.snapshot(as_of=v)
        cols = sorted(set(snap.columns) | (set(cols or [])))
        feed = t.changes(-1, v).toPandas()
        # align both sides to the union schema (null-fill), compare
        # as multisets of row tuples
        def norm(pdf, colset):
            import numpy as np

            rows = []
            for _, r in pdf.iterrows():
                rows.append(
                    tuple(
                        None
                        if c not in pdf.columns or r[c] is None
                        or (isinstance(r[c], float) and np.isnan(r[c]))
                        else int(r[c]) if not isinstance(r[c], str) else r[c]
                        for c in colset
                    )
                )
            return rows

        snap_ms = Counter(norm(snap.toPandas(), cols))
        acc = Counter()
        # UPDATE feeds as update_preimage (−) / update_postimage (+),
        # the Delta CDF vocabulary — same multiset algebra
        for kind in ("insert", "update_postimage", "delete", "update_preimage"):
            side = feed[feed._change_type == kind]
            for row in norm(side, cols):
                if kind in ("insert", "update_postimage"):
                    acc[row] += 1
                else:
                    acc[row] -= 1
                    if acc[row] == 0:
                        del acc[row]
        assert acc == snap_ms, f"feed does not reconstruct snapshot at v{v}"


def test_plus_sign_partition_values_survive_the_flat_join(spark, tmp_path):
    """Round-11 review finding: F.url_decode is form-urlencoded
    (literal '+' -> space), but file URIs keep '+' literal — a
    partition value containing '+' silently key-mismatched the log
    metadata join past _PV_UNION_MAX, null-filling partition columns.
    The decoder must match Python's unquote (URI semantics)."""
    import hz_csv2parquet_spark.sources.txlog as txmod

    n = txmod._PV_UNION_MAX + 4
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True)
    t.create(
        spark.createDataFrame(
            [(i, f"a+{i % n}", i) for i in range(4 * n)], "k long, tag string, v long"
        ).repartition(4),
        partition_by=["tag"],
    )
    snap = t.snapshot()
    got = {(r.k, r.tag) for r in snap.collect()}
    assert got == {(i, f"a+{i % n}") for i in range(4 * n)}
    assert snap.filter("tag IS NULL").count() == 0
    # partition-predicate delete through the flat path
    t.delete_where("tag = 'a+3'")
    assert t.snapshot().filter("tag = 'a+3'").count() == 0
    assert t.snapshot().count() == 4 * n - 4


def test_compact_binpack_converges_at_fixpoints(spark, tmp_path):
    """Round-11 review finding: selections that cannot be improved
    must commit NOTHING — two files that cannot pack below two, and a
    partitioned table already at one file per partition, used to
    rewrite+commit on every maintenance tick forever."""
    t = TxTable(spark, str(tmp_path / "flat"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(i, i) for i in range(600)], "k long, v long")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(600 + i, 0) for i in range(600)], "k long, v long")
        .coalesce(1)
    )
    v = t.version()
    # 2 x 600 rows, max 1000: no packing can go below 2 files
    assert t.compact(max_file_rows=1000) == v
    assert t.version() == v
    # partitioned fixpoint: one file per partition, nothing to pack
    tp = TxTable(spark, str(tmp_path / "part"), stat_cols=["k"])
    tp.create(
        spark.createDataFrame(
            [(i, i % 3, i) for i in range(30)], "k long, p int, v long"
        ).coalesce(1),
        partition_by=["p"],
    )
    vp = tp.version()
    assert tp.compact(max_file_rows=1000) == vp
    # fragment ONE partition; the pass packs it to one file and the
    # next pass is a no-op again (convergence, not oscillation)
    tp.append(
        spark.createDataFrame([(100 + i, 1, 0) for i in range(6)],
                              "k long, p int, v long").repartition(3)
    )
    v2 = tp.compact(max_file_rows=1000)
    assert v2 == tp.version() and v2 > vp
    per_part = {}
    for rel, a in tp._replay_state()["adds"].items():
        per_part.setdefault(a["partitionValues"]["p"], []).append(rel)
    assert all(len(v) == 1 for v in per_part.values())
    assert tp.compact(max_file_rows=1000) == v2
    assert tp.snapshot().count() == 36
    # plain-mode fixpoint on a partitioned table: every group already
    # at <= target_files -> no-op instead of eternal rewrite
    assert tp.compact(target_files=1) == v2


def test_compact_rebases_past_interleaved_append(spark, tmp_path, monkeypatch):
    """Delta's OPTIMIZE conflict rule: a blind append landing between
    the compactor's replay and its commit is disjoint work — the
    rewrite re-commits against the new head and the appended file
    survives. A commit that TOUCHED a rewrite input still conflicts."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .repartition(4)
    )
    racer = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    real_commit = TxTable._commit
    fired = {"n": 0}

    def racing_commit(self, actions, expected_version, operation=None):
        if operation == "OPTIMIZE" and fired["n"] == 0:
            fired["n"] += 1
            racer.append(
                spark.createDataFrame([(100, -1)], "k long, v long")
            )  # steal the version
        return real_commit(self, actions, expected_version, operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    v = t.compact(target_files=1)
    monkeypatch.setattr(TxTable, "_commit", real_commit)
    assert fired["n"] == 1
    assert t.snapshot().count() == 11          # appended row survived
    assert {r.k for r in t.snapshot().collect()} == set(range(10)) | {100}
    # and a race that touches an input file surfaces the conflict
    t2 = TxTable(spark, str(tmp_path / "tbl2"), stat_cols=["k"])
    t2.create(
        spark.createDataFrame([(i, i) for i in range(10)], "k long, v long")
        .repartition(4)
    )
    racer2 = TxTable(spark, str(tmp_path / "tbl2"), stat_cols=["k"])
    fired["n"] = 0

    def touching_commit(self, actions, expected_version, operation=None):
        if operation == "OPTIMIZE" and fired["n"] == 0:
            fired["n"] += 1
            racer2.delete_where("k = 3")  # rewrites an input file
        return real_commit(self, actions, expected_version, operation)

    monkeypatch.setattr(TxTable, "_commit", touching_commit)
    with pytest.raises(CommitConflictError):
        t2.compact(target_files=1)
    monkeypatch.setattr(TxTable, "_commit", real_commit)
    assert t2.snapshot().count() == 9  # the delete won; nothing torn


def test_parquet_checkpoint_roundtrip_and_json_fallback(spark, tmp_path):
    """Round-11 checkpoint format: state materializes as parquet (one
    row per add, envelope in schema metadata) — dv, partitionValues,
    properties, readerFeatures, and txn markers all survive the
    roundtrip — and legacy .ckpt.json files still load."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        checkpoint_interval=2,
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.createDataFrame(
            [(i, i % 2, 10 * i) for i in range(20)], "k long, p int, v long"
        ).repartition(2),
        partition_by=["p"],
    )
    t.delete_where("k % 7 = 0")
    t.append_batch(
        spark.createDataFrame([(100, 0, 1)], "k long, p int, v long"), "app", 3
    )
    for j in range(4):
        t.append(spark.createDataFrame([(200 + j, 1, 0)], "k long, p int, v long"))
    import glob as g

    pq_ckpts = g.glob(os.path.join(t.path, "_txlog", "*.ckpt.parquet"))
    assert pq_ckpts and not g.glob(os.path.join(t.path, "_txlog", "*.ckpt.json"))
    # a fresh reader resolves everything through the parquet checkpoint
    fresh = TxTable(spark, t.path)
    state = fresh._replay_state()
    assert state["properties"] == {"changeDataFeed": True, "deletionVectors": True}
    assert {"deletionVectors", "hivePartitioning"} <= state["readerFeatures"]
    assert state["partitionColumns"] == ["p"]
    assert any(a.get("dv") for a in state["adds"].values())
    assert 3 in fresh.committed_txns("app")
    assert fresh.snapshot().count() == 20 - 3 + 1 + 4
    # legacy JSON checkpoint: write one by hand at the head; a reader
    # starting from it must agree with the parquet-checkpointed state
    head = t.version()
    payload = {
        "version": head,
        "adds": list(state["adds"].values()),
        "schema": state["schema"],
        "partitionColumns": state["partitionColumns"],
        "properties": state["properties"],
        "readerFeatures": sorted(state["readerFeatures"]),
        "txns": {app: sorted(ids) for app, ids in state["txns"].items()},
    }
    for f in pq_ckpts + g.glob(os.path.join(t.path, "_txlog", "*.ckpt.parquet")):
        if os.path.exists(f):
            os.remove(f)
    with open(os.path.join(t.path, "_txlog", f"{head:08d}.ckpt.json"), "w") as fh:
        json.dump(payload, fh)
    legacy = TxTable(spark, t.path)
    st2 = legacy._replay_state()
    assert st2["adds"] == state["adds"]
    assert st2["properties"] == state["properties"]
    assert legacy.snapshot().count() == 22


def test_compact_binpack_bounds_partitioned_file_sizes(spark, tmp_path):
    """Round-11 second-pass review: a hive group holding far more
    rows than max_file_rows must split across several bounded output
    files, not collapse into one arbitrarily large file."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(0, 0, 0)], "k long, p int, v long"),
        partition_by=["p"],
    )
    # 12 fragment files of 300 rows each in partition p=1 (3600 rows)
    for j in range(12):
        t.append(
            spark.createDataFrame(
                [(1000 * j + i, 1, 0) for i in range(300)], "k long, p int, v long"
            ).coalesce(1)
        )
    t.compact(max_file_rows=1000)
    state = t._replay_state()
    p1 = [a for a in state["adds"].values()
          if a["partitionValues"]["p"] == "1"]
    assert 3 <= len(p1) <= 8          # ~4 bounded files, not 1 giant
    assert max(a["rows"] for a in p1) <= 2000  # range-sampling slack, not 3600
    assert t.snapshot().count() == 3601
    # converged: the packed files are >= half-target, next pass no-ops
    v = t.version()
    assert t.compact(max_file_rows=1000) == v


def test_parquet_checkpoint_preserves_unknown_action_keys(spark, tmp_path):
    """Forward compat: an add-action field this reader does not know
    (a newer writer's tags/modificationTime) must survive the parquet
    checkpoint roundtrip, or _norm_action comparisons diverge between
    checkpointed and raw-replayed states."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], checkpoint_interval=2)
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))  # v0, no ckpt yet
    # splice a future field into the head commit's add action
    acts = json.load(open(_version_file(t.path, 0)))
    for a in acts:
        if "add" in a:
            a["add"]["tags"] = {"tier": "hot"}
    os.remove(_version_file(t.path, 0))
    with open(_version_file(t.path, 0), "x") as fh:
        json.dump(acts, fh)
    t.append(spark.createDataFrame([(2, 2)], "k long, v long"))  # v1 -> ckpt@1
    import glob as g

    assert g.glob(os.path.join(t.path, "_txlog", "*.ckpt.parquet"))
    fresh = TxTable(spark, t.path)
    state = fresh._replay_state()
    tagged = [a for a in state["adds"].values() if a.get("tags")]
    assert tagged and tagged[0]["tags"] == {"tier": "hot"}


def test_delete_rebases_past_blind_append_and_deletes_its_rows(
    spark, tmp_path, monkeypatch
):
    """Round-11 DELETE conflict resolution: a delete that loses the
    version race to a pure blind append must NOT fail — its staged
    actions read-set-validate against the head, the transaction
    extends with a detection scan over just the interleaved files,
    and the appended matching rows are deleted too (full
    serializability; Delta WriteSerializable would let them
    survive)."""
    t = _mk(spark, tmp_path, n=10, files=2)  # k in 0..9, v = 2k
    other = TxTable(spark, t.path, stat_cols=["k"])
    competing = spark.createDataFrame(
        [(3, -1), (200, -2)], "k long, v long"
    )  # one matching, one surviving row
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "DELETE":
            state["injected"] = True
            real_commit(other, other._stage(competing), expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    v = t.delete_where("k = 3 OR k = 5")
    assert v == t.version() == 2  # create + injected append + delete
    got = {r.k for r in t.snapshot().collect()}
    # both the original k=3/k=5 AND the concurrently-appended k=3 die
    assert 3 not in got and 5 not in got
    assert 200 in got  # non-matching appended row survives
    assert len(got) == 9  # 10 - {3,5} + {200}


def test_delete_conflict_with_touching_writer_raises(
    spark, tmp_path, monkeypatch
):
    """Read-set validation: a racing commit that REMOVED a file the
    delete's detection scan read makes the staged rewrite stale — the
    conflict must surface, never silently resurrect or double-delete
    rows."""
    t = _mk(spark, tmp_path, n=10, files=2)
    other = TxTable(spark, t.path, stat_cols=["k"])
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "DELETE":
            state["injected"] = True
            victim = os.path.relpath(other.files()[0], other.path)
            real_commit(
                other, [{"remove": {"path": victim}}], expected_version
            )
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    with pytest.raises(CommitConflictError):
        t.delete_where("k >= 0")


def test_delete_rebase_extends_cdc_and_dv_for_interleaved_files(
    spark, tmp_path, monkeypatch
):
    """The rebase extension composes with merge-on-read + CDF: on a
    deletionVectors+changeDataFeed table, the interleaved file's
    matching row gets a vector (no rewrite) and a delete row in the
    change feed, and the readerFeatures meta is staged exactly
    once."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.range(10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(2)
    )
    other = TxTable(spark, t.path, stat_cols=["k"])
    competing = spark.createDataFrame([(5, -1), (300, -3)], "k long, v long")
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "DELETE":
            state["injected"] = True
            real_commit(other, other._stage(competing), expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    v = t.delete_where("k = 5")
    assert v == 2
    got = {r.k for r in t.snapshot().collect()}
    assert 5 not in got and 300 in got and len(got) == 10  # 10-1+2-1
    # the feed sees BOTH k=5 deletes (original file + interleaved);
    # changes(from, to) is from-EXCLUSIVE
    feed = t.changes(v - 1, v).filter("_change_type = 'delete'").collect()
    assert sorted(r.k for r in feed) == [5, 5]
    # exactly one readerFeatures meta action landed in the commit
    commit_file = os.path.join(t.path, "_txlog", f"{v:08d}.json")
    actions = json.load(open(commit_file))
    metas = [a for a in actions if "meta" in a]
    assert len(metas) <= 1


def test_merge_rebases_past_disjoint_append_without_rerun(
    spark, tmp_path, monkeypatch
):
    """Round-11 stats-validated MERGE rebase: a merge losing the
    version race to a blind append whose file stats are DISJOINT
    from the update batch's key bounds re-commits its staged actions
    on the head — no re-run, no error, even at retries=0. The
    recompute counter: _commit is called exactly twice for the merge
    (lost race + rebase), never a third time from a fresh
    transaction."""
    t = _mk(spark, tmp_path, n=10, files=1)  # k in 0..9
    other = TxTable(spark, t.path, stat_cols=["k"])
    # appended keys 500..509: provably outside the update bounds [5, 5]
    competing = spark.range(500, 510).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    real_commit = TxTable._commit
    state = {"injected": False, "merge_commits": 0}

    def racing_commit(self, actions, expected_version, operation=None):
        if operation == "MERGE":
            state["merge_commits"] += 1
        if not state["injected"] and self is t and operation == "MERGE":
            state["injected"] = True
            real_commit(other, other._stage(competing), expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    ups = spark.createDataFrame([(5, -5)], "k long, v long")
    v = t.merge_upsert(ups, "k")  # retries=0: rebase, not retry
    assert v == t.version() == 2
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[5] == -5  # merge applied
    assert got[500] == -1 and len(got) == 20  # 10 + 10 appended
    assert state["merge_commits"] == 2


def test_merge_race_with_overlapping_append_still_conflicts(
    spark, tmp_path, monkeypatch
):
    """A racing append whose stats range CONTAINS the update keys may
    hold matching rows — the staged rewrite would leave two rows per
    key. retries=0 must surface the conflict; retries=1 re-runs and
    upserts BOTH copies away."""
    t = _mk(spark, tmp_path, n=10, files=1)
    other = TxTable(spark, t.path, stat_cols=["k"])
    competing = spark.createDataFrame([(5, 777)], "k long, v long")
    real_commit = TxTable._commit
    ups = spark.createDataFrame([(5, -5)], "k long, v long")

    def make_racer():
        state = {"injected": False}

        def racing_commit(self, actions, expected_version, operation=None):
            if not state["injected"] and self is t and operation == "MERGE":
                state["injected"] = True
                real_commit(other, other._stage(competing), expected_version)
            return real_commit(self, actions, expected_version, operation=operation)

        return racing_commit

    monkeypatch.setattr(TxTable, "_commit", make_racer())
    with pytest.raises(CommitConflictError):
        t.merge_upsert(ups, "k")
    monkeypatch.setattr(TxTable, "_commit", make_racer())
    v = t.merge_upsert(ups, "k", retries=1)
    assert v == t.version()
    rows = t.snapshot().filter("k = 5").collect()
    assert [(r.k, r.v) for r in rows] == [(5, -5)]  # exactly one row


def test_merge_rebases_past_append_into_another_partition(
    spark, tmp_path, monkeypatch
):
    """MERGE's rebase check reads an exact hive partition value as a
    [v, v] bound, as ``pruned_files`` does: a merge keyed on (p, k)
    that loses the version race to a blind append into another p
    partition rebases at retries=0, although the appended file
    carries no stats for p."""
    schema = "p int, k long, v long"
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame([(i % 2, i, 2 * i) for i in range(10)], schema),
        partition_by=["p"],
    )
    other = TxTable(spark, t.path, stat_cols=["k"])
    competing = spark.createDataFrame([(7, 5, -1)], schema)  # same k, p=7
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "MERGE":
            state["injected"] = True
            real_commit(other, other._stage(competing, ["p"]), expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    ups = spark.createDataFrame([(1, 5, -5)], schema)
    v = t.merge_upsert(ups, ["p", "k"])  # retries=0: rebase, not raise
    assert v == t.version() == 2
    got = {(r.p, r.k): r.v for r in t.snapshot().collect()}
    assert got[(1, 5)] == -5 and got[(7, 5)] == -1 and len(got) == 11


def test_auto_stats_default_records_footer_minmax(spark, tmp_path):
    """Round-11 auto-stats (the Delta dataSkippingNumIndexedCols
    shape): a table created WITHOUT stat_cols records footer min/max
    for its leading columns — pruning, DSv2 pushdown, and the
    disjoint-append rebase work out of the box. An explicit [] still
    means no stats; binary columns are skipped by the JSON guard."""
    t = TxTable(spark, str(tmp_path / "auto"))  # no stat_cols: AUTO
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
    )
    t.create(df.repartitionByRange(4, "k").sortWithinPartitions("k"))
    adds = list(t._replay_state()["adds"].values())
    assert all(set(a["stats"]) >= {"k", "v"} for a in adds)
    # payload bytes decode as utf-8 digits here, so it MAY carry
    # stats; the guarantee under test is k/v presence + valid bounds
    ks = sorted(a["stats"]["k"] for a in adds)
    assert ks[0][0] == 0 and max(s[1] for s in ks) == 99
    # pruning works immediately: one file holds k in [0, 24]
    hit, miss = t.pruned_files("k", 3, 3)
    assert len(hit) == 1 and len(miss) == 3

    none = TxTable(spark, str(tmp_path / "none"), stat_cols=[])
    none.create(spark.range(5).select(F.col("id").alias("k")))
    assert all(
        a["stats"] == {} for a in none._replay_state()["adds"].values()
    )


def test_timestamp_time_travel_resolves_latest_at_or_before(
    spark, tmp_path, monkeypatch
):
    """Batch timestampAsOf (round 11): version_at picks the LATEST
    commit at or before the timestamp (Delta's batch rule — the
    streaming startingTimestamp picks the first at-or-after);
    snapshot(as_of_timestamp=...) reads that version; earlier than
    every commit raises; asOf + timestampAsOf together raise."""
    import time as _time

    from hz_csv2parquet_spark.sources import txlog as _mod

    # pin commit wall-clocks: create@1000, append@2000, append@3000
    clock = {"t": 1000.0}
    monkeypatch.setattr(_mod.time, "time", lambda: clock["t"])
    t = _mk(spark, tmp_path, n=10, files=1)
    clock["t"] = 2000.0
    t.append(spark.range(10, 20).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v")))
    clock["t"] = 3000.0
    t.append(spark.range(20, 30).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v")))

    assert t.version_at(1000) == 0
    assert t.version_at(2500.5) == 1  # between commits: latest before
    assert t.version_at(9999) == 2
    assert t.snapshot(as_of_timestamp=2500.5).count() == 20
    # ISO datetime form parses too
    import datetime

    iso = datetime.datetime.fromtimestamp(2500.5).isoformat()
    assert t.version_at(iso) == 1
    with pytest.raises(ValueError):
        t.version_at(999)  # earlier than the first commit
    with pytest.raises(ValueError):
        t.snapshot(as_of=1, as_of_timestamp=2500.5)
    # DSv2 batch read honors the same option
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    df = (
        spark.read.format("hz_txlog")
        .option("timestampAsOf", "2500.5")
        .load(t.path)
    )
    assert df.count() == 20


def test_commit_timestamps_are_monotonic_under_clock_skew(
    spark, tmp_path, monkeypatch
):
    """Monotonic in-commit timestamps (round 12, Delta's
    inCommitTimestamps rule): _commit stamps max(clock, previous +
    ε), so a writer whose wall-clock stepped BACK (NTP, cross-host
    skew) never commits a later version with an earlier timestamp —
    which would make version_at resolve a timestamp T to a snapshot
    excluding commits before T."""
    import time as _time

    from hz_csv2parquet_spark.sources import txlog as _mod

    clock = {"t": 5000.0}
    monkeypatch.setattr(_mod.time, "time", lambda: clock["t"])
    t = _mk(spark, tmp_path, n=10, files=1)
    clock["t"] = 3000.0  # the clock steps BACK 2000 s
    t.append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    cts = t.commit_timestamps()
    assert cts[1] > cts[0]  # clamped, not 3000
    assert cts[1] == pytest.approx(5000.0 + 1e-3)
    # resolution stays order-consistent: the skewed commit is visible
    # at any T >= its (clamped) stamp, and T = 5000 still means v0
    assert t.version_at(5000.0) == 0
    assert t.version_at(5001.0) == 1
    # an unstamped commit between two stamped ones doesn't break the
    # chain: the walk-back finds the last stamped predecessor
    t._commit([{"meta": {}}], t.version())  # operation=None: no stamp
    clock["t"] = 1000.0
    t.append(
        spark.range(20, 30).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    cts = t.commit_timestamps()
    assert cts[3] > cts[1]


def test_history_lists_commits_newest_first(spark, tmp_path):
    """DESCRIBE HISTORY (round 12): one row per commit, newest
    first, operation names and monotone timestamps; ``limit`` bounds
    the driver-side log walk to O(limit) opens."""
    t = _mk(spark, tmp_path, n=10, files=1)
    t.append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )
    t.compact()
    h = t.history().collect()
    assert [r.version for r in h] == [2, 1, 0]
    assert [r.operation for r in h] == ["OPTIMIZE", "APPEND", "CREATE"]
    ts = [r.timestamp for r in h]
    assert ts[0] > ts[1] > ts[2]
    # limit bounds the walk — and the log reads
    t.log_reads = 0
    top = t.history(limit=1).collect()
    assert [(r.version, r.operation) for r in top] == [(2, "OPTIMIZE")]
    assert t.log_reads == 1
    # clone stamps its provenance into info
    dest = t.clone(str(tmp_path / "copy"))
    row = dest.history(limit=1).collect()[0]
    assert row.operation == "CLONE"
    assert row.info["sourcePath"] == t.path


def test_compact_zorder_three_columns_prunes_every_dimension(spark, tmp_path):
    """Round-11 k-ary ZORDER: compact(zorder=[a, b, c]) clusters on
    a 3-way Morton interleave — footer stats prune narrow bands on
    ANY of the three dimensions, from a hash-fragmented start that
    prunes none. morton_key_n(k=2) stays bit-identical to the 2-col
    morton_key the DuckDB oracle mirrors."""
    from hz_csv2parquet_spark.operators.zorder import morton_key, morton_key_n

    t = TxTable(spark, str(tmp_path / "tbl"))
    # full 16x16x16 grid, one row per cell, hash-fragmented on load
    df = (
        spark.range(4096)
        .selectExpr(
            "id",
            "CAST(id % 16 AS BIGINT) AS a",
            "CAST((id DIV 16) % 16 AS BIGINT) AS b",
            "CAST(id DIV 256 AS BIGINT) AS c",
        )
        .repartition(8)
    )
    t.create(df)
    for col in ("a", "b", "c"):
        assert len(t.pruned_files(col, 0, 1)[1]) == 0  # hash layout: nothing skips
    t.compact(target_files=16, zorder=["a", "b", "c"])
    assert len(t.files()) == 16
    for col in ("a", "b", "c"):
        hit, miss = t.pruned_files(col, 0, 1)
        assert len(miss) >= 6, (col, len(hit), len(miss))
    assert t.snapshot().count() == 4096
    assert "__hz_zorder" not in t.snapshot().columns  # transient key
    # k=2 equivalence pin: same bit layout as the oracled morton_key
    eq = (
        spark.range(256)
        .selectExpr("CAST(id % 16 AS BIGINT) AS x", "CAST(id DIV 16 AS BIGINT) AS y")
        .select(
            (morton_key(F.col("x"), F.col("y"), bits=4)
             == morton_key_n([F.col("x"), F.col("y")], bits=4)).alias("same")
        )
        .agg(F.min("same"))
        .collect()[0][0]
    )
    assert eq is True


def test_delete_stats_skipping_prunes_detection_candidates(spark, tmp_path):
    """Round-11 DELETE data skipping: with a SQL-string predicate the
    log stats pre-prune the detection scan's candidate files
    DRIVER-SIDE (the Delta data-skipping step). On a range-clustered
    table, `k = <v>` hands the distributed scan exactly the one file
    whose [min, max] covers v — and the delete result is unchanged."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    state = t._replay_state()
    files = [os.path.join(t.path, rel) for rel in state["adds"]]
    captured = {}
    real = TxTable._read_files

    def spy(self, fs, *a, **kw):
        if kw.get("keep_rel"):
            captured["files"] = list(fs)
        return real(self, fs, *a, **kw)

    TxTable._read_files = spy
    try:
        t.delete_where("k = 250")
    finally:
        TxTable._read_files = real
    assert len(captured["files"]) == 1  # 3 of 4 files never scanned
    assert t.snapshot().count() == 399
    assert t.snapshot().filter("k = 250").count() == 0


def test_stats_can_match_is_conservative_and_sound(spark, tmp_path):
    """The can-match rewrite returns False only on proof: bounds
    exclusion for =/</>/IN and conjunctions; True for NOT, IS NULL,
    functions, incomparable types, absent stats, and hive partition
    values count as exact stats."""
    from hz_csv2parquet_spark.sources.txlog import _can_match_stats

    parse = spark._jsparkSession.sessionState().sqlParser().parseExpression
    st = {"k": [10, 20], "name": ["b", "f"]}
    pv = {"p": "3"}

    def can(sql, stats=st, p=pv):
        return _can_match_stats(parse(sql), stats, p)

    assert not can("k = 5") and can("k = 15") and not can("k = 25")
    assert not can("k < 10") and can("k < 11")
    assert not can("k > 20") and can("k >= 20")
    assert not can("k = 5 OR k = 25") and can("k = 5 OR k = 12")
    assert not can("k = 15 AND name = 'a'")
    assert can("k = 15 AND name = 'c'")
    assert not can("k IN (1, 2, 30)") and can("k IN (1, 15)")
    # hive partition value is an exact [v, v] stat, numeric-coerced
    assert can("p = 3") and not can("p = 4")
    # conservative: negation, null checks, functions, no stats
    assert can("NOT (k = 15)") and can("NOT (k = 5)")
    assert can("k = 5 OR k IS NULL")
    assert can("length(name) > 3")
    assert can("unknown_col = 7")
    assert can("k = 15", stats={})
    # incomparable literal/stat kinds stay conservative
    assert can("name = 5") and can("k = 'x'")
    # SOUNDNESS (review finding): lexicographic string RANGE stats do
    # not bound numeric casts — file ["100", "9"] has lo="100",
    # hi="9" but numerically spans 9..100; a numeric literal must
    # never skip on string range stats
    num_str = {"name": ["100", "9"]}
    assert can("name = 50", stats=num_str, p={})
    assert can("name < 10", stats=num_str, p={})
    assert can("name IN (50)", stats=num_str, p={})
    # hive pv is an EXACT value, so numeric coercion stays safe there
    assert not can("p = 4") and can("p = 3")
    # boolean literals skip on an exact partition value, by name
    assert not can("b = false", p={"b": "true"}) and can("b = true", p={"b": "true"})
    # round 13: null-count atoms — IS NULL skips null-free files,
    # IS NOT NULL skips all-NULL files; missing info always admits
    def can_n(sql, nulls=None, rows=None, stats=st, p=pv):
        return _can_match_stats(parse(sql), stats, p, nulls, rows)

    assert not can_n("k IS NULL", nulls={"k": 0}, rows=10)
    assert can_n("k IS NULL", nulls={"k": 3}, rows=10)
    assert can_n("k IS NULL")  # no null info: admit
    assert not can_n("k IS NOT NULL", nulls={"k": 10}, rows=10)
    assert can_n("k IS NOT NULL", nulls={"k": 9}, rows=10)
    assert can_n("k IS NOT NULL", nulls={"k": 10})  # rows unknown: admit
    # a non-null hive partition value refutes IS NULL even without counts
    assert not can_n("p IS NULL")
    # conjunction composes: range-matchable but null-free
    assert not can_n("k = 15 AND k IS NULL", nulls={"k": 0}, rows=10)


def test_delete_where_is_null_with_null_counts(spark, tmp_path):
    """DELETE WHERE col IS NULL — the GDPR/cleanup shape — now prunes
    its detection scan with logged null counts: a null-free file is
    provably unmatchable driver-side (its min/max could never say so).
    End-to-end correctness stays exact either way."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"])
    mk = lambda sql: spark.sql(sql).coalesce(1)
    t.create(mk("SELECT id AS k, id AS v FROM range(10)"))  # null-free
    t.append(mk("SELECT id AS k, CAST(NULL AS BIGINT) AS v FROM range(100, 105)"))
    t.append(
        mk(
            "SELECT id AS k, IF(id % 2 = 0, id, CAST(NULL AS BIGINT)) AS v "
            "FROM range(200, 210)"
        )
    )
    before = dict(t._replay_state()["adds"])
    nullfree = [r for r, a in before.items() if a.get("nulls", {}).get("v") == 0]
    assert len(nullfree) == 1
    t.delete_where("v IS NULL")
    after = t._replay_state()["adds"]
    # the null-free file's add action is untouched (same entry, no
    # rewrite); the all-NULL file is gone; the mixed file rewrote
    assert after[nullfree[0]] == before[nullfree[0]]
    got = t.snapshot()
    assert got.count() == 15 and got.filter("v IS NULL").count() == 0


def test_update_where_copy_on_write(spark, tmp_path):
    """UPDATE ... SET (round 11, the third Delta DML verb):
    copy-on-write mode rewrites only the touched files, assignments
    see the PRE-update row and cast to the committed column type,
    NULL-predicate rows are untouched (eqNullSafe), and unknown
    assignment columns raise."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame(
            [(i, 10 * i) for i in range(8)] + [(None, -1)],
            "k long, v long",
        ).repartitionByRange(3, "k")
    )
    files_before = set(t.files())
    v = t.update_where("k >= 6", {"v": "v + k"})  # sees the old row
    assert v == 1
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[6] == 66 and got[7] == 77  # 10k + k
    assert got[5] == 50 and got[None] == -1  # untouched + NULL row safe
    assert t.snapshot().count() == 9
    # only the file(s) holding k>=6 moved
    assert len(files_before & set(t.files())) >= 1
    with pytest.raises(ValueError):
        t.update_where("k = 1", {"nope": "1"})
    # float expression casts back to the committed long type
    t.update_where("k = 1", {"v": "v / 2"})
    [r] = t.snapshot().filter("k = 1").collect()
    assert r.v == 5 and t.snapshot().schema["v"].dataType.simpleString() == "bigint"


def test_update_where_deletion_vectors_appends_transformed(spark, tmp_path):
    """Merge-on-read UPDATE: old positions get a vector (no rewrite),
    transformed rows append as NEW files — O(updated rows) written.
    The original data files all stay live."""
    t = TxTable(spark, str(tmp_path / "tbl"), deletion_vectors=True)
    t.create(
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(2)
    )
    before = {os.path.relpath(f, t.path) for f in t.files()}
    t.update_where("k < 10", {"v": "-k"})
    state = t._replay_state()
    after = set(state["adds"])
    assert before <= after  # nothing rewritten away
    assert any(state["adds"][rel].get("dv") for rel in before)  # masked
    assert len(after - before) >= 1  # transformed rows landed as new adds
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[3] == -3 and got[50] == 100 and len(got) == 100


def test_update_where_change_feed_pre_and_postimage(spark, tmp_path):
    """On a changeDataFeed table UPDATE stages Delta's
    update_preimage/update_postimage cdc rows — the feed shows the
    old and new value of every touched row, nothing else."""
    t = TxTable(spark, str(tmp_path / "tbl"), change_data=True)
    t.create(
        spark.createDataFrame([(i, 10 * i) for i in range(6)], "k long, v long")
    )
    v = t.update_where("k IN (2, 4)", {"v": "0"})
    feed = t.changes(v - 1, v).collect()
    pre = sorted((r.k, r.v) for r in feed if r._change_type == "update_preimage")
    post = sorted((r.k, r.v) for r in feed if r._change_type == "update_postimage")
    assert pre == [(2, 20), (4, 40)]
    assert post == [(2, 0), (4, 0)]
    assert all(
        r._change_type in ("update_preimage", "update_postimage") for r in feed
    )


@pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
def test_update_rebases_past_blind_append_and_updates_its_rows(
    spark, tmp_path, monkeypatch, dv
):
    """UPDATE shares DELETE's conflict resolution: a race lost to a
    blind append extends the transaction over the interleaved file,
    so its matching rows are updated too — on a deletion-vector table
    by a vector on that file, not a rewrite."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=dv)
    t.create(  # one file, k 0..9, v = 2k
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(1)
    )
    other = TxTable(spark, t.path, stat_cols=["k"])
    competing = spark.createDataFrame([(5, 1000), (300, -3)], "k long, v long")
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "UPDATE":
            state["injected"] = True
            real_commit(other, other._stage(competing), expected_version)
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    v = t.update_where("k = 5", {"v": "v + 1"})
    assert v == t.version() == 2
    vals = sorted(r.v for r in t.snapshot().filter("k = 5").collect())
    assert vals == [11, 1001]  # both copies updated (+1 each)
    assert t.snapshot().filter("k = 300").count() == 1
    acts = json.load(open(_version_file(t.path, v)))
    vectored = [a["add"] for a in acts if "add" in a and a["add"].get("dv")]
    assert any("remove" in a for a in acts) == (not dv)
    assert len(vectored) == (2 if dv else 0)  # the original and the interleaved file


def test_update_where_can_move_rows_across_partitions(spark, tmp_path):
    """An UPDATE assigning a hive partition column relocates the
    matched rows into their new partition directory (the staged
    rewrite re-derives partitionValues); pruning through the
    partition gate sees them at the new value and the old partition
    keeps only its unmatched rows."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame(
            [(i, i % 2, 10 * i) for i in range(10)], "k long, p int, v long"
        ),
        partition_by=["p"],
    )
    t.update_where("k IN (1, 3)", {"p": "2"})  # move two rows p=1 -> p=2
    snap = t.snapshot()
    assert {r.k for r in snap.filter("p = 2").collect()} == {1, 3}
    assert {r.k for r in snap.filter("p = 1").collect()} == {5, 7, 9}
    assert snap.count() == 10
    # the new files' logged partitionValues say p=2
    state = t._replay_state()
    pvs = {
        a.get("partitionValues", {}).get("p")
        for a in state["adds"].values()
    }
    assert "2" in pvs
    hit, miss = t.pruned_files("p", 2, 2)
    assert hit and all("p=2" in f for f in hit)


def test_convert_in_place_adopts_existing_parquet(spark, tmp_path):
    """CONVERT TO DELTA shape (round 11): a plain parquet directory —
    flat or hive-partitioned — comes under log governance with ZERO
    data rewritten: version 0 is pure metadata (footer stats, parsed
    partitionValues, inferred schema), and every verb works on the
    adopted files afterwards."""
    flat = str(tmp_path / "flat")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").repartition(
        3
    ).write.parquet(flat)
    before = {
        os.path.basename(f): os.path.getsize(f)
        for f in glob.glob(os.path.join(flat, "*.parquet"))
    }
    t = TxTable(spark, flat)
    assert t.convert_in_place() == 0
    # files were RENAMED into the staging layout, bytes untouched
    after = {
        os.path.basename(f): os.path.getsize(f)
        for f in glob.glob(os.path.join(flat, "data-convert*", "*.parquet"))
    }
    assert after == before
    assert t.snapshot().count() == 100
    assert {r.k for r in t.snapshot().collect()} == set(range(100))
    # auto-stats landed at adoption: pruning works immediately
    state = t._replay_state()
    assert all("k" in a["stats"] for a in state["adds"].values())
    # and the table is live for DML
    t.delete_where("k < 10")
    assert t.snapshot().count() == 90
    with pytest.raises(FileExistsError):
        t.convert_in_place()

    part = str(tmp_path / "part")
    spark.createDataFrame(
        [(i, i % 3, 10 * i) for i in range(30)], "k long, p int, v long"
    ).write.partitionBy("p").parquet(part)
    tp = TxTable(spark, part)
    tp.convert_in_place()
    assert tp.partition_columns() == ["p"]
    assert "hivePartitioning" in tp._replay_state()["readerFeatures"]
    snap = tp.snapshot()
    assert snap.count() == 30 and "p" in snap.columns
    assert snap.filter("p = 1").count() == 10
    hit, miss = tp.pruned_files("p", 2, 2)
    assert hit and miss  # partition values prune through the stats gate
    tp.update_where("p = 2 AND k < 10", {"v": "-1"})
    assert tp.snapshot().filter("v = -1").count() > 0


def test_convert_in_place_resumes_after_partial_failure(spark, tmp_path):
    """Review finding: convert renames files before committing; a
    crash/race between rename and commit must not strand the
    directory. A re-run ADOPTS already-staged data-convert*/ files —
    including the mixed case where some files are still bare."""
    part = str(tmp_path / "p")
    spark.createDataFrame(
        [(i, i % 2, 10 * i) for i in range(20)], "k long, p int, v long"
    ).write.partitionBy("p").parquet(part)
    t = TxTable(spark, part)
    # simulate a convert that crashed after renaming ONE partition
    stage = os.path.join(part, "data-convertdeadbeef0000")
    os.makedirs(os.path.join(stage, "p=0"), exist_ok=True)
    for f in glob.glob(os.path.join(part, "p=0", "*.parquet")):
        os.rename(f, os.path.join(stage, "p=0", os.path.basename(f)))
    assert t.convert_in_place() == 0  # resumes: staged + bare together
    snap = t.snapshot()
    assert snap.count() == 20
    assert snap.filter("p = 0").count() == 10
    assert snap.filter("p = 1").count() == 10


def test_check_constraints_enforced_on_every_write_verb(spark, tmp_path):
    """CHECK constraints (round 11, the Delta invariant contract):
    add_constraint validates EXISTING data first and commits nothing
    on violation; once added, append / merge / update enforce it on
    incoming rows (SQL three-valued semantics — NULL passes, only
    FALSE violates); drop_constraint lifts it; the constraint
    survives checkpointed replay."""
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=2)
    t.create(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, None)], "k long, v long"
        )
    )
    # existing data violates -> refuse, nothing committed
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("v_big", "v > 15")
    assert t.version() == 0 and t.constraints() == {}
    # NULL passes CHECK (three-valued), so v > 0 is addable
    v = t.add_constraint("v_pos", "v > 0")
    assert v == 1 and t.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("v_pos", "v > 1")
    # append: violating batch refused, valid batch (incl. NULL) lands
    with pytest.raises(ValueError, match="v_pos"):
        t.append(spark.createDataFrame([(9, -1)], "k long, v long"))
    t.append(spark.createDataFrame([(9, None), (10, 5)], "k long, v long"))
    assert t.snapshot().count() == 5
    # merge: a violating update batch is refused before any rewrite
    with pytest.raises(ValueError, match="v_pos"):
        t.merge_upsert(
            spark.createDataFrame([(1, -5)], "k long, v long"), "k"
        )
    assert {r.v for r in t.snapshot().filter("k = 1").collect()} == {10}
    # update: a violating assignment is refused
    with pytest.raises(ValueError, match="v_pos"):
        t.update_where("k = 2", {"v": "-v"})
    t.update_where("k = 2", {"v": "v + 1"})
    assert t.snapshot().filter("k = 2").collect()[0].v == 21
    # cross a checkpoint boundary, then a FRESH handle still enforces
    t.append(spark.createDataFrame([(11, 1)], "k long, v long"))
    t2 = TxTable(spark, t.path)
    assert t2.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ValueError, match="v_pos"):
        t2.append(spark.createDataFrame([(12, 0)], "k long, v long"))
    # drop lifts enforcement
    t2.drop_constraint("v_pos")
    t2.append(spark.createDataFrame([(12, -9)], "k long, v long"))
    assert t2.snapshot().filter("v = -9").count() == 1
    with pytest.raises(ValueError, match="no such constraint"):
        t2.drop_constraint("v_pos")


def test_check_constraints_gate_the_dsv2_sink(spark, tmp_path):
    """The hz_txlog batch writer enforces CHECK constraints at driver
    commit time (one read of just the staged files) — a violating
    DataFrame write raises and commits nothing."""
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, 10)], "k long, v long"))
    t.add_constraint("v_pos", "v > 0")
    bad = spark.createDataFrame([(2, -1)], "k long, v long")
    with pytest.raises(Exception, match="v_pos"):
        bad.write.format("hz_txlog").mode("append").save(t.path)
    assert t.snapshot().count() == 1  # nothing committed
    spark.createDataFrame([(2, 7)], "k long, v long").write.format(
        "hz_txlog"
    ).mode("append").save(t.path)
    assert {r.v for r in t.snapshot().collect()} == {10, 7}


def test_sink_constraint_validates_partition_columns(spark, tmp_path):
    """The executor-side sink gate rejoins hive partition values as
    constants before running the CHECK through DuckDB — a constraint
    on a PARTITION column enforces on the partitioned sink path."""
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.createDataFrame([(1, 1, 10)], "k long, p int, v long"),
        partition_by=["p"],
    )
    t.add_constraint("p_small", "p < 5")
    bad = spark.createDataFrame([(2, 9, 20)], "k long, p int, v long")
    with pytest.raises(Exception, match="p_small"):
        bad.write.format("hz_txlog").mode("append").save(t.path)
    assert t.snapshot().count() == 1
    spark.createDataFrame([(2, 3, 20)], "k long, p int, v long").write.format(
        "hz_txlog"
    ).mode("append").save(t.path)
    assert t.snapshot().count() == 2


def test_interleaved_constraint_conflicts_a_dml_rebase(
    spark, tmp_path, monkeypatch
):
    """A constraint committed BETWEEN a DML's staging and its commit
    makes the staged rows unvalidated — read-set validation must
    surface the conflict instead of rebasing past it."""
    t = _mk(spark, tmp_path, n=10, files=1)
    other = TxTable(spark, t.path, stat_cols=["k"])
    real_commit = TxTable._commit
    state = {"injected": False}

    def racing_commit(self, actions, expected_version, operation=None):
        if not state["injected"] and self is t and operation == "UPDATE":
            state["injected"] = True
            real_commit(
                other,
                [{"meta": {"constraints": {"v_cap": "v < 1000"}}}],
                expected_version,
                operation="ADD-CONSTRAINT",
            )
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    with pytest.raises(CommitConflictError):
        t.update_where("k = 5", {"v": "v + 1"})

def test_constraints_enforce_case_insensitively(spark, tmp_path):
    """Round-12 advisory fix: constraint applicability is decided by
    Spark's analyzer (case-insensitive under the default
    spark.sql.caseSensitive=false), not an exact-string attribute
    match — CHECK (V > 0) on a ``v`` column must be ENFORCED on every
    write verb, not silently skipped; and rename/drop of a
    case-differently-spelled constrained column must refuse instead
    of orphaning the constraint."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.add_constraint("v_pos", "V > 0")  # upper-case spelling
    with pytest.raises(ValueError, match="v_pos"):
        t.append(spark.createDataFrame([(3, -1)], "k long, v long"))
    with pytest.raises(ValueError, match="v_pos"):
        t.merge_upsert(spark.createDataFrame([(1, -5)], "k long, v long"), "k")
    with pytest.raises(ValueError, match="v_pos"):
        t.update_where("k = 2", {"v": "-v"})
    # rename/drop of the constrained column refuses across case
    with pytest.raises(ValueError, match="references it"):
        t.rename_column("v", "value")
    with pytest.raises(ValueError, match="references it"):
        t.drop_column("v")
    # a widening batch WITHOUT the constrained column still passes
    # (null-fill, NULL passes CHECK) — the only legal skip
    t.evolve_schema(spark.createDataFrame([(9, "x")], "k long, note string"))
    assert t.snapshot().filter("k = 9").count() == 1


def test_add_constraint_refuses_unresolvable_expression(spark, tmp_path):
    """An expression that cannot resolve against the table schema is
    refused at add time with a named error — even on an EMPTY table
    (no data scan to catch it) — because _enforce_constraints would
    otherwise permanently skip it as a widening batch."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([], "k long, v long"))
    with pytest.raises(ValueError, match="does not resolve"):
        t.add_constraint("bad", "no_such_col > 0")
    assert t.constraints() == {}
    # case-different spelling of a REAL column is fine (analyzer rules)
    t.add_constraint("ok", "V >= 0")
    assert t.constraints() == {"ok": "V >= 0"}


def test_checkpoint_write_is_genuinely_best_effort(spark, tmp_path, monkeypatch):
    """Round-12 advisory fix: a checkpoint failure of ANY exception
    type (Arrow/typing, not just OSError) must never surface from a
    commit whose version file is already durable, and the staged
    .tmp file must not leak."""
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=2)
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))

    def boom(self, v, pa, pq):
        raise TypeError("not JSON serializable")

    monkeypatch.setattr(TxTable, "_write_checkpoint_inner", boom)
    # version 1 crosses the interval-2 checkpoint boundary
    v = t.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    assert v == 1 and t.snapshot().count() == 2
    monkeypatch.undo()

    # and a mid-write failure cleans its tmp file up
    import pyarrow.parquet as pq_mod

    def boom_write(table, path, *a, **kw):
        with open(path, "w") as fh:
            fh.write("partial")
        raise RuntimeError("disk went away")

    monkeypatch.setattr(pq_mod, "write_table", boom_write)
    v = t.append(spark.createDataFrame([(3, 3)], "k long, v long"))
    monkeypatch.undo()
    assert v == 2
    leftovers = glob.glob(os.path.join(t.path, "_txlog", "*.tmp-*"))
    assert leftovers == []
    # the NEXT boundary (healthy again) checkpoints fine
    t.append(spark.createDataFrame([(4, 4)], "k long, v long"))
    assert TxTable(spark, t.path).snapshot().count() == 4


def test_version_at_scans_only_the_post_checkpoint_tail(
    spark, tmp_path, monkeypatch
):
    """Round-12: the parquet checkpoint envelope carries a complete
    (version -> commitInfo timestamp) index, so timestampAsOf
    resolution on a 120-commit table opens only the tail commits
    after the newest checkpoint — not O(versions) JSON files."""
    from hz_csv2parquet_spark.sources import txlog as _mod

    clock = {"t": 1000.0}
    monkeypatch.setattr(_mod.time, "time", lambda: clock["t"])
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=20)
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    # 119 metadata-only commits at 1s apart: pure-python, no Spark
    for i in range(1, 120):
        clock["t"] = 1000.0 + i
        t._rebase_commit([], operation="TEST-TICK")
    assert t.version() == 119
    fresh = TxTable(spark, t.path)
    fresh.log_reads = 0
    # resolves THROUGH the index for a timestamp deep before the
    # newest checkpoint...
    assert fresh.version_at(1005.0) == 5
    # ...opening only the post-checkpoint tail (ckpt at 119: interval
    # 20 fires when (v+1) % 20 == 0). Tail = 0 commits; allow slack 1.
    assert fresh.log_reads <= 1, fresh.log_reads
    # correctness unchanged at the edges
    assert fresh.version_at(9999) == 119
    with pytest.raises(ValueError):
        fresh.version_at(999)


def test_checkpoint_without_timestamp_index_gives_no_partial_index(
    spark, tmp_path, monkeypatch
):
    """A checkpoint without the (version -> commitInfo timestamp)
    index — a legacy ``.ckpt.json``, or a checkpoint seeded from one —
    never yields a partial index: a fresh handle walks the whole log
    for its timestamps, and the next checkpoint does not persist the
    tail-only index its replay carries as if it were complete."""
    from hz_csv2parquet_spark.sources import txlog as _mod

    clock = {"t": 1000.0}
    monkeypatch.setattr(_mod.time, "time", lambda: clock["t"])
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=4)
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))

    def tick(upto: int) -> None:
        while t.version() < upto:
            clock["t"] = 1000.0 + t.version() + 1
            t._rebase_commit([], operation="TEST-TICK")

    tick(4)  # parquet checkpoint at v3
    head = t.version()
    state = t._replay_state()
    payload = {
        "version": head,
        "adds": list(state["adds"].values()),
        "schema": state["schema"],
        "partitionColumns": state["partitionColumns"],
        "properties": state["properties"],
        "readerFeatures": sorted(state["readerFeatures"]),
        "txns": {app: sorted(ids) for app, ids in state["txns"].items()},
    }
    for f in glob.glob(os.path.join(t.path, "_txlog", "*.ckpt.parquet")):
        os.remove(f)
    with open(os.path.join(t.path, "_txlog", f"{head:08d}.ckpt.json"), "w") as fh:
        json.dump(payload, fh)
    fresh = TxTable(spark, t.path)
    assert sorted(fresh.commit_timestamps()) == list(range(head + 1))
    assert fresh.version_at(1002.5) == 2  # before the checkpoint
    tick(7)  # next checkpoint at v7, its replay seeded from v4
    assert "commitTimestamps" not in t._load_checkpoint_envelope(7)
    again = TxTable(spark, t.path)
    assert sorted(again.commit_timestamps()) == list(range(8))
    assert again.version_at(1001.0) == 1

#: (expression, passing row, violating row) — the pinned sink-
#: compatibility matrix: every blessed CHECK form executes through
#: BOTH engines (Spark's TxTable write path and the DSv2 sink's
#: DuckDB gate) on the same rows and must agree on accept/refuse.
_SINK_MATRIX = [
    ("v > 0", (5, "a"), (-1, "a")),
    ("v >= 0 AND v <= 100", (0, "a"), (101, "a")),
    ("NOT (v < 0)", (3, "a"), (-3, "a")),
    ("v <> 13", (12, "a"), (13, "a")),
    ("v IN (1, 2, 3)", (2, "a"), (5, "a")),
    ("v BETWEEN 0 AND 100", (50, "a"), (200, "a")),
    ("v IS NOT NULL", (1, "a"), (None, "a")),
    ("s LIKE 'a%'", (1, "ab"), (1, "zb")),
    ("length(s) > 1", (1, "ab"), (1, "z")),
    ("upper(s) <> 'BAD'", (1, "ok"), (1, "bad")),
    ("abs(v) < 1000", (-5, "a"), (-5000, "a")),
    ("coalesce(v, 1) > 0", (None, "a"), (0, "a")),
    ("v + 1 > 0 AND v * 2 <= 200 AND v - 1 >= -1", (1, "a"), (101, "a")),
]


@pytest.mark.parametrize("expr,ok,bad", _SINK_MATRIX)
def test_sink_constraint_compatibility_matrix(spark, tmp_path, expr, ok, bad):
    """Round-12 dialect-boundary hardening: every expression form the
    docs bless for sink-enforceable CHECK constraints is executed
    through BOTH write paths on the same data — the TxTable (Spark)
    path and the DSv2 sink (DuckDB) gate must both land the passing
    row and both refuse the violating row. Expressions outside this
    subset never reach the gate: add_constraint refuses them up
    front (see test_add_constraint_rejects_sink_incompatible)."""
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([ok], "v long, s string"))
    t.add_constraint("c", expr)  # sink-enforceable by default
    # Spark path: violating refused, passing lands
    with pytest.raises(Exception, match="c"):
        t.append(spark.createDataFrame([bad], "v long, s string"))
    t.append(spark.createDataFrame([ok], "v long, s string"))
    # sink path: violating refused, passing lands
    with pytest.raises(Exception, match="'c'"):
        spark.createDataFrame([bad], "v long, s string").write.format(
            "hz_txlog"
        ).mode("append").save(t.path)
    spark.createDataFrame([ok], "v long, s string").write.format(
        "hz_txlog"
    ).mode("append").save(t.path)
    assert t.snapshot().count() == 3


def test_add_constraint_rejects_sink_incompatible(spark, tmp_path):
    """Syntax outside the sink-compatible subset is refused at
    add_constraint time with a named error (not at first sink
    write): '/' and '%' (ANSI Spark raises on zero divisors where
    DuckDB yields NULL), word-shaped dialect operators (RLIKE), and
    unknown functions. sink_enforceable=False is the documented
    escape hatch — full Spark SQL in the table path, but the DSv2
    sink then refuses writes at construction, fail closed."""
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(4, "ab")], "v long, s string"))
    for expr in ["v / 2 > 0", "v % 2 = 0", "s RLIKE 'a.*'", "sqrt(v) < 10"]:
        with pytest.raises(ValueError, match="sink"):
            t.add_constraint("c", expr)
    assert t.constraints() == {}
    # escape hatch: accepted, enforced on the TxTable path...
    t.add_constraint("even", "v % 2 = 0", sink_enforceable=False)
    with pytest.raises(ValueError, match="even"):
        t.append(spark.createDataFrame([(3, "x")], "v long, s string"))
    t.append(spark.createDataFrame([(8, "x")], "v long, s string"))
    # ...while the sink refuses writer construction outright
    with pytest.raises(Exception, match="write via TxTable"):
        spark.createDataFrame([(2, "y")], "v long, s string").write.format(
            "hz_txlog"
        ).mode("append").save(t.path)
    assert t.snapshot().count() == 2


def test_starting_timestamp_rides_the_same_index(spark, tmp_path, monkeypatch):
    """The streaming startingTimestamp resolution reads the SAME
    checkpoint timestamp index as batch timestampAsOf
    (TxTable.commit_timestamps) — first-at-or-after semantics
    preserved, O(tail) log opens."""
    from hz_csv2parquet_spark.sources import txlog as _mod
    from hz_csv2parquet_spark.sources.txlog_source import _version_at_or_after

    clock = {"t": 1000.0}
    monkeypatch.setattr(_mod.time, "time", lambda: clock["t"])
    t = TxTable(spark, str(tmp_path / "tbl"), checkpoint_interval=10)
    t.create(spark.createDataFrame([(1, 1)], "k long, v long"))
    for i in range(1, 60):
        clock["t"] = 1000.0 + i
        t._rebase_commit([], operation="TEST-TICK")
    # first at-or-after: between commits rounds UP (Delta's rule)
    assert _version_at_or_after(t.path, 1004.5) == 5
    assert _version_at_or_after(t.path, 1000.0) == 0
    # later than every commit: head + 1
    assert _version_at_or_after(t.path, 9999.0) == 60
    # O(tail): a fresh handle resolves pre-checkpoint versions without
    # reopening the whole log (ckpt at 59; tail = 0, slack 1)
    fresh = TxTable(spark, t.path)
    fresh.log_reads = 0
    assert fresh.version_at(1004.5) == 4
    assert fresh.log_reads <= 1


def test_review_r12_constraint_gate_hardening(spark, tmp_path):
    """Round-12 self-review fixes: (1) string literals with backslash
    escapes are refused from the sink-enforceable subset (Spark reads
    'a\\tb' as a TAB, DuckDB as backslash-t — verified divergent);
    (2) a constraint that fails analysis on a batch for any reason
    OTHER than a missing column (e.g. an ambiguous case-duplicate
    reference) surfaces as an error instead of silently unenforcing
    the invariant."""
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, 5, "ok")], "k long, v long, s string"))
    with pytest.raises(ValueError, match="backslash"):
        t.add_constraint("c", r"s <> 'a\tb'")
    t.add_constraint("v_pos", "v > 0")
    ambiguous = extra = spark.createDataFrame(
        [(2, 3, -9, "x")], "k long, v long, V long, s string"
    )
    # round 15: plain append refuses the case-duplicate batch EARLIER,
    # at schema enforcement — 'v' and 'V' resolve to ONE table column
    # under case-insensitive matching, so the batch is ambiguous
    # (round 14 refused it as an undeclared column; the advisor-r14
    # case-insensitivity fix re-classifies it)
    with pytest.raises(ValueError, match="case-duplicate"):
        t.append(extra)
    # the r12 gate itself still holds on the verb where the extra
    # column is legal: the case-duplicate reference must surface as
    # a named constraint error, never silently unenforce v_pos
    with pytest.raises(Exception, match="v_pos"):
        t.evolve_schema(ambiguous)
    assert t.snapshot().count() == 1  # nothing committed


def test_fsck_repair_drops_missing_file_references(spark, tmp_path):
    """FSCK REPAIR (round 12): out-of-band deletion breaks the
    snapshot loudly; repair re-commits the log minus the unservable
    references and the survivors read again."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.create(df.repartitionByRange(4, "k").sortWithinPartitions("k"))
    victim = sorted(t.files())[0]
    import os as _os

    _os.remove(victim)
    with pytest.raises(Exception):
        t.snapshot().count()  # damaged: fails loudly
    listed = t.fsck_repair(dry_run=True)
    assert len(listed) == 1 and listed[0] in victim
    assert t.version() == 0  # dry run commits nothing
    removed = t.fsck_repair()
    assert removed == listed and t.version() == 1
    n = t.snapshot().count()
    assert 0 < n < 100  # survivors only, readable again
    assert t.fsck_repair(dry_run=True) == []  # healthy now


def test_fsck_counts_missing_deletion_vector_as_missing(spark, tmp_path):
    """A file whose dv sidecar vanished must NOT be served unmasked
    (deleted rows would resurrect) — fsck drops the reference."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True
    )
    t.create(
        spark.range(20)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
    )
    t.delete_where("k < 5")
    import glob as _glob
    import os as _os

    (dv,) = _glob.glob(str(tmp_path / "tbl" / "_dv" / "*"))
    _os.remove(dv)
    removed = t.fsck_repair()
    assert len(removed) == 1
    assert t.snapshot().count() == 0  # the lone file carried the dv


def test_fsck_commit_keeps_change_feed_consumable(spark, tmp_path):
    """FSCK removes are maintenance (dataChange=false): the feed
    cannot serve rows whose files are gone, so the repair commit must
    not break changes() for ranges crossing it (round-12 review)."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], change_data=True
    )
    t.create(
        spark.range(10)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(2)
    )
    import os as _os

    _os.remove(sorted(t.files())[0])
    t.fsck_repair()  # v1
    t.append(
        spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        )
    )  # v2
    feed = t.changes(0)  # spans the FSCK commit
    assert feed.where("_change_type = 'insert'").count() == 3
    assert feed.where("_commit_version = 1").count() == 0  # repair invisible


def test_set_not_null_validates_from_null_counts(spark, tmp_path, monkeypatch):
    """SET NOT NULL (round 13): history is judged from the logged
    per-file null counts — on a fully-counted table the verb runs
    ZERO scan tasks (pinned by failing _read_files), and a table with
    NULL history refuses by count. Once set, the invariant rides the
    CHECK machinery on every write path — including widening batches
    WITHOUT the column, which the round-13 null-extension rule now
    refuses instead of null-filling past the invariant."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"])
    t.create(
        spark.sql("SELECT id AS k, id AS v FROM range(10)").coalesce(1)
    )
    t.append(
        spark.sql("SELECT id AS k, id AS v FROM range(50, 60)").coalesce(1)
    )

    def no_scan(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("SET NOT NULL scanned a fully-counted table")

    monkeypatch.setattr(t, "_read_files", no_scan)
    v = t.set_not_null("v")
    monkeypatch.undo()
    assert t.constraints() == {"nn_v": "v IS NOT NULL"}
    assert v == t.version()
    # write enforcement: a NULL v refuses on every verb
    with pytest.raises(ValueError, match="nn_v"):
        t.append(
            spark.sql("SELECT CAST(99 AS BIGINT) k, CAST(NULL AS BIGINT) v")
        )
    # widening batch WITHOUT v: null-fills on read, so it must refuse
    with pytest.raises(ValueError, match="nn_v"):
        t.evolve_schema(
            spark.createDataFrame([(7, "x")], "k long, note string")
        )
    # DROP NOT NULL lifts it
    t.drop_not_null("v")
    t.append(spark.sql("SELECT CAST(99 AS BIGINT) k, CAST(NULL AS BIGINT) v"))
    assert t.snapshot().filter("v IS NULL").count() == 1
    # and SET NOT NULL on the now-dirty history refuses BY COUNT
    with pytest.raises(ValueError, match="per the logged null counts"):
        t.set_not_null("v")


def test_set_not_null_scans_only_uncounted_files(spark, tmp_path):
    """Legacy adds without null counts (pre-round-13 logs) fall back
    to one distributed probe — simulated by stripping the nulls key
    from a committed add action."""
    import json as _json

    from hz_csv2parquet_spark.sources.txlog import _version_file

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"])
    t.create(spark.sql("SELECT id AS k, id AS v FROM range(10)").coalesce(1))
    vf = _version_file(t.path, 0)
    acts = [_json.loads(ln) for ln in open(vf)]
    for arr in acts:
        for a in arr:
            if "add" in a:
                a["add"].pop("nulls", None)
    with open(vf, "w") as fh:
        for arr in acts:
            fh.write(_json.dumps(arr) + "\n")
    t2 = TxTable(spark, t.path)
    assert t2.set_not_null("v") == 1  # scan fallback, no NULLs found
    assert t2.constraints() == {"nn_v": "v IS NOT NULL"}


def test_plain_check_still_passes_widening_batches(spark, tmp_path):
    """The null-extension rule must not over-refuse: a widening batch
    under a plain CHECK (NULL passes) still evolves the schema."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(spark.createDataFrame([(1, 5)], "k long, v long"))
    t.add_constraint("v_pos", "v > 0")
    t.evolve_schema(spark.createDataFrame([(9, "x")], "k long, note string"))
    assert t.snapshot().filter("k = 9").count() == 1
