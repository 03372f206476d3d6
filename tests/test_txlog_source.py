"""The ``hz_txlog`` Spark Data Source (sources/txlog_source.py):
batch snapshot/time-travel reads through ``format()``, and the
versions-as-offsets streaming source with the append-only /
skipChangeCommits contract (the public Delta streaming-source shape).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hz_csv2parquet_spark.sources.txlog import TxTable
from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_txlog_source(spark)


def _mk(spark, tmp_path, n=20, files=2):
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).repartition(files)
    t.create(df)
    return t


def _batch_reader(path: str, **options):
    """The batch reader ``format("hz_txlog")`` plans with, built the
    way Spark builds it: ``reader()`` gets the schema ``schema()``
    returned."""
    from hz_csv2parquet_spark.sources.txlog_source import TxLogDataSource

    ds = TxLogDataSource({"path": path, **options})
    return ds.reader(ds.schema())


def test_batch_read_matches_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path, n=30, files=3)
    got = spark.read.format("hz_txlog").load(t.path)
    assert got.schema == t.snapshot().schema
    assert {(r.k, r.v) for r in got.collect()} == {(i, 2 * i) for i in range(30)}


def test_batch_read_time_travel_option(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10, files=1)
    t.append(spark.createDataFrame([(100, 200)], "k long, v long"))
    t.compact(target_files=1)
    v0 = spark.read.format("hz_txlog").option("asOf", 0).load(t.path)
    assert v0.count() == 10
    latest = spark.read.format("hz_txlog").load(t.path)
    assert latest.count() == 11


def _drain(spark, t, ckpt, skip=False, starting=None):
    """availableNow drain via foreachBatch (checkpoint-recoverable,
    unlike the memory sink); returns the rows THIS run emitted."""
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend((r.k, r.v) for r in batch_df.collect())

    reader = spark.readStream.format("hz_txlog")
    if skip:
        reader = reader.option("skipChangeCommits", "true")
    if starting is not None:
        reader = reader.option("startingVersion", starting)
    q = (
        reader.load(t.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return set(rows)


def test_stream_emits_existing_then_appends_only(spark, tmp_path):
    """First batch = the whole existing table; after an append the
    stream emits ONLY the appended rows (version offsets, not file
    mtimes). availableNow drains to the latest offset and stops."""
    t = _mk(spark, tmp_path, n=5, files=1)
    ckpt = str(tmp_path / "ckpt")
    assert _drain(spark, t, ckpt) == {(i, 2 * i) for i in range(5)}
    t.append(spark.createDataFrame([(50, 100), (51, 102)], "k long, v long"))
    # same checkpoint: resumes from version 0, emits only version 1
    assert _drain(spark, t, ckpt) == {(50, 100), (51, 102)}


def test_stream_skips_maintenance_commits(spark, tmp_path):
    """Compaction (dataChange=false) is invisible: no re-emission of
    the rewritten table, no error — the property a naive file-watch
    stream over a compacted table cannot have."""
    t = _mk(spark, tmp_path, n=6, files=3)
    ckpt = str(tmp_path / "ckpt")
    assert len(_drain(spark, t, ckpt)) == 6
    t.compact(target_files=1)
    t.append(spark.createDataFrame([(99, 198)], "k long, v long"))
    assert _drain(spark, t, ckpt) == {(99, 198)}


def test_stream_change_commit_raises_unless_skipped(spark, tmp_path):
    """A copy-on-write MERGE rewrite cannot be represented as appends:
    the stream fails by default and skips the commit with
    skipChangeCommits=true (the Delta streaming-source contract)."""
    t = _mk(spark, tmp_path, n=4, files=1)
    ckpt = str(tmp_path / "ckpt")
    assert len(_drain(spark, t, ckpt)) == 4
    t.merge_upsert(spark.createDataFrame([(0, -1)], "k long, v long"), "k")
    # the reader's ValueError surfaces wrapped in the engine's
    # StreamingQueryException — match on the contract message
    with pytest.raises(Exception) as exc_info:
        _drain(spark, t, ckpt)
    assert "append-only" in str(exc_info.value) or "skipChangeCommits" in str(
        exc_info.value
    )
    # opting in skips the rewrite commit; a later append still flows.
    # Python sources fall back from AvailableNow to single-batch
    # execution, so the first recovered drain may spend itself on the
    # skipped (empty) change-commit batch — drain until quiescent.
    t.append(spark.createDataFrame([(77, 154)], "k long, v long"))
    got = _drain(spark, t, ckpt, skip=True)
    if not got:
        got = _drain(spark, t, ckpt, skip=True)
    assert got == {(77, 154)}


def test_stream_starting_version_option(spark, tmp_path):
    """startingVersion=N skips the backfill: the first batch begins
    after version N (Delta's startingVersion semantics)."""
    t = _mk(spark, tmp_path, n=3, files=1)
    t.append(spark.createDataFrame([(10, 20)], "k long, v long"))
    got = _drain(spark, t, str(tmp_path / "ckpt_sv"), starting=0)
    assert got == {(10, 20)}


def test_batch_read_null_fills_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path, n=2, files=1)
    t.evolve_schema(
        spark.createDataFrame([(5, 10, "x")], "k long, v long, tag string")
    )
    got = spark.read.format("hz_txlog").load(t.path)
    rows = {(r.k, r.v, r.tag) for r in got.collect()}
    assert rows == {(0, 0, None), (1, 2, None), (5, 10, "x")}


def _sink_run(spark, src_dir, tbl_path, ckpt, stat_cols="k"):
    q = (
        spark.readStream.schema("k long, v long")
        .parquet(str(src_dir))
        .writeStream.format("hz_txlog")
        .option("checkpointLocation", str(ckpt))
        .option("statCols", stat_cols)
        .trigger(availableNow=True)
        .start(str(tbl_path))
    )
    q.awaitTermination()


def test_stream_sink_writes_exactly_once(spark, tmp_path):
    """writeStream.format('hz_txlog'): the sink auto-creates the
    table, every micro-batch is one txn-marked log commit, and
    re-running over the same source with a FRESH checkpoint (batch
    ids restart → same (appId, batchId) markers) is a no-op instead
    of duplicating rows."""
    src = tmp_path / "src"
    src.mkdir()
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    tbl = tmp_path / "tbl"
    _sink_run(spark, src, tbl, tmp_path / "ckpt1")
    t = TxTable(spark, str(tbl), stat_cols=["k"])
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (i, 2 * i) for i in range(10)
    }
    # fresh checkpoint, same data: replayed (appId, 0) marker → no-op
    _sink_run(spark, src, tbl, tmp_path / "ckpt2")
    assert t.snapshot().count() == 10
    # incremental: new source file, original checkpoint resumes
    spark.createDataFrame([(100, 200)], "k long, v long").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    _sink_run(spark, src, tbl, tmp_path / "ckpt1")
    assert t.snapshot().count() == 11


def test_stream_sink_records_stats_for_pruning(spark, tmp_path):
    """The sink's add actions carry min/max stats computed executor-
    side from the Arrow batches — MERGE/scan pruning works on a
    stream-built table without any footer re-reads."""
    src = tmp_path / "src"
    src.mkdir()
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    tbl = tmp_path / "tbl"
    _sink_run(spark, src, tbl, tmp_path / "ckpt")
    t = TxTable(spark, str(tbl), stat_cols=["k"])
    hit, miss = t.pruned_files("k", 1000, 2000)
    assert not hit and miss  # disjoint probe range proves stats landed
    hit2, _ = t.pruned_files("k", 0, 5)
    assert hit2


def test_stream_sink_roundtrip_through_stream_source(spark, tmp_path):
    """End-to-end medallion hop: txlog table A --hz_txlog stream-->
    txlog table B, both sides exactly-once."""
    a = _mk(spark, tmp_path, n=8, files=2)
    b_path = tmp_path / "b"
    q = (
        spark.readStream.format("hz_txlog")
        .load(a.path)
        .writeStream.format("hz_txlog")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("statCols", "k")
        .trigger(availableNow=True)
        .start(str(b_path))
    )
    q.awaitTermination()
    b = TxTable(spark, str(b_path), stat_cols=["k"])
    assert {(r.k, r.v) for r in b.snapshot().collect()} == {
        (i, 2 * i) for i in range(8)
    }


def test_batch_writer_append_and_autocreate(spark, tmp_path):
    """df.write.format('hz_txlog').mode('append'): first write
    auto-creates the table, later writes accumulate, stats land."""
    tbl = str(tmp_path / "tbl")
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.format(
        "hz_txlog"
    ).option("statCols", "k").mode("append").save(tbl)
    t = TxTable(spark, tbl, stat_cols=["k"])
    assert t.snapshot().count() == 5
    spark.createDataFrame([(50, 100)], "k long, v long").write.format(
        "hz_txlog"
    ).option("statCols", "k").mode("append").save(tbl)
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (i, 2 * i) for i in range(5)
    } | {(50, 100)}
    hit, miss = t.pruned_files("k", 1000, 2000)
    assert not hit and len(miss) >= 2


def test_batch_writer_overwrite_is_atomic_and_time_travels(spark, tmp_path):
    """mode('overwrite') removes every live file and adds the new set
    in one commit — readers flip atomically, the old version stays
    reachable via time travel."""
    tbl = str(tmp_path / "tbl")
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").write.format(
        "hz_txlog"
    ).mode("append").save(tbl)
    spark.createDataFrame([(999, 1)], "k long, v long").write.format(
        "hz_txlog"
    ).mode("overwrite").save(tbl)
    t = TxTable(spark, tbl, stat_cols=["k"])
    assert [(r.k, r.v) for r in t.snapshot().collect()] == [(999, 1)]
    assert t.snapshot(as_of=0).count() == 10  # pre-overwrite generation


def test_batch_reader_pushed_filters_skip_files(spark, tmp_path):
    """pushFilters → log-stats file skipping: a filter on the stat
    column plans only the files whose [min, max] range can match,
    and results stay exact (Spark still evaluates the filter
    row-level — skipping is a superset guarantee). Planning runs in
    a Python worker with no SparkSession, so the end-to-end reads
    through format() are what prove the pushdown runs."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.create(df)  # 4 files over disjoint k ranges

    # unit level: the planned partition count shrinks under filters
    r = _batch_reader(t.path)
    assert len(r.partitions()) == 4
    r2 = _batch_reader(t.path)
    leftover = list(r2.pushFilters([EqualTo(("k",), 5)]))
    assert len(leftover) == 1  # everything handed back to Spark
    assert len(r2.partitions()) == 1
    r3 = _batch_reader(t.path)
    r3.pushFilters([GreaterThan(("k",), 299)])
    assert len(r3.partitions()) == 1

    # end to end: a filtered read through format() plans only the
    # files the pushed filters admit, and stays exact
    def read(pred):
        return spark.read.format("hz_txlog").load(t.path).filter(pred)

    assert read("k >= 0").rdd.getNumPartitions() == 4
    assert read("k > 399").rdd.getNumPartitions() == 1  # sentinel only
    assert read("k >= 300").rdd.getNumPartitions() == 1
    assert read("k IN (5, 205)").rdd.getNumPartitions() == 2
    got = read("k >= 198 AND k < 202")
    assert got.rdd.getNumPartitions() == 2  # straddles the 2nd/3rd file
    assert {(r_.k, r_.v) for r_ in got.collect()} == {
        (k, 2 * k) for k in range(198, 202)
    }
    assert read("k > 399").count() == 0


def test_batch_reader_pushed_filters_skip_hive_partitions(spark, tmp_path):
    """Pushed filters skip files on EXACT hive partition values of
    boolean, int and string columns: the stringified value is coerced
    to the literal's type (booleans by name — ``bool("false")`` is
    True), then compared as an [v, v] bound."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame(
            [(i, i % 2 == 0, i % 3, f"s{i % 2}") for i in range(12)],
            "k long, b boolean, p int, s string",
        ).coalesce(1),  # one file per partition directory
        partition_by=["b", "p", "s"],
    )
    df = spark.read.format("hz_txlog").load(t.path)
    assert df.rdd.getNumPartitions() == 6  # 2 (b, s) pairs × 3 values of p

    def plan(pred):
        got = df.filter(pred)
        rows = {r.k for r in got.collect()}
        want = {r.k for r in t.snapshot().filter(pred).collect()}
        assert rows == want, pred
        return got.rdd.getNumPartitions()

    assert plan("b") == 3  # pushed as b = true; "false" dirs skip
    # both pushed as Not(b = true): the "true" dirs skip
    assert plan("NOT b") == 3
    assert plan("b = false") == 3
    assert plan("p = 1") == 2
    assert plan("p >= 1") == 4
    assert plan("p IN (0, 2)") == 4
    assert plan("s = 's1'") == 3
    assert plan("b AND p = 2") == 1
    assert plan("p = 7") == 1  # sentinel only


def test_batch_reader_splits_large_files_on_row_groups(spark, tmp_path):
    """A file whose logged row count exceeds splitRows fans out into
    row-group-aligned partitions instead of one Python task — the
    native parquet source's split behavior. Planned from the footer
    only when the log flags the file as big."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "tbl"
    (tbl / "data-x").mkdir(parents=True)
    (tbl / "_txlog").mkdir()
    arrow = pa.table(
        {"k": list(range(100)), "v": [2 * i for i in range(100)]},
        schema=pa.schema([("k", pa.int64()), ("v", pa.int64())]),
    )
    pq.write_table(arrow, str(tbl / "data-x" / "big.parquet"), row_group_size=10)
    schema_json = spark.createDataFrame([], "k long, v long").schema.json()
    with open(tbl / "_txlog" / "00000000.json", "w") as fh:
        _json.dump(
            [
                {"add": {"path": "data-x/big.parquet", "rows": 100, "stats": {}}},
                {"meta": {"schema": schema_json}},
            ],
            fh,
        )
    # unit: 10 row groups chunked at >=25 rows -> 4 partitions
    r = _batch_reader(str(tbl), splitrows="25")
    parts = r.partitions()
    assert len(parts) == 4
    assert [p.row_groups for p in parts] == [(0, 1, 2), (3, 4, 5), (6, 7, 8), (9,)]
    # default threshold: one partition, whole file
    assert len(_batch_reader(str(tbl)).partitions()) == 1
    # end to end: the split read is exact
    got = (
        spark.read.format("hz_txlog")
        .option("splitRows", 25)
        .load(str(tbl))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()[0]
    )
    assert (got.n, got.s) == (100, 9900)


def test_stream_reader_rate_limit_caps_batch_span(spark, tmp_path):
    """maxVersionsPerTrigger: after the first batch, each trigger
    spans at most N commits (Delta's maxFilesPerTrigger shape at
    version grain) — driven at the reader protocol level."""
    from hz_csv2parquet_spark.sources.txlog_source import _TxLogStreamReader

    t = _mk(spark, tmp_path, n=2, files=1)
    for i in range(5):
        t.append(spark.createDataFrame([(100 + i, i)], "k long, v long"))
    # versions now 0..5
    r = _TxLogStreamReader(
        t.path, t.snapshot().schema, {"maxVersionsPerTrigger": "2"}
    )
    assert r.initialOffset() == {"version": -1}
    first = r.latestOffset()
    assert first == {"version": 5}  # first batch: full backfill (no anchor yet)
    r.partitions({"version": -1}, first)
    for i in range(3):
        t.append(spark.createDataFrame([(200 + i, i)], "k long, v long"))
    nxt = r.latestOffset()
    assert nxt == {"version": 7}  # capped at last_end(5) + 2, not 8
    r.partitions(first, nxt)
    assert r.latestOffset() == {"version": 8}  # drains the remainder


# ---------------- change feed (readChangeFeed) ----------------


def _mk_cdf(spark, tmp_path, n=6):
    """A change_data=True table: create (v0), MERGE upserting k=3 and
    inserting k=99 (v1), DELETE k=5 (v2)."""
    t = TxTable(spark, str(tmp_path / "cdf_tbl"), stat_cols=["k"], change_data=True)
    t.create(
        spark.createDataFrame(
            [(i, 2 * i) for i in range(n)], "k long, v long"
        ).coalesce(1)
    )
    t.merge_upsert(spark.createDataFrame([(3, -3), (99, -99)], "k long, v long"), "k")
    t.delete_where("k = 5")
    return t


_CDF_EXPECT_V0_2 = (
    {(i, 2 * i, "insert", 0) for i in range(6)}
    | {(3, 6, "delete", 1), (3, -3, "insert", 1), (99, -99, "insert", 1)}
    | {(5, 10, "delete", 2)}
)


def _drain_cdf(spark, path, ckpt, skip=False):
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend(
            (r.k, r.v, r._change_type, r._commit_version) for r in batch_df.collect()
        )

    reader = spark.readStream.format("hz_txlog").option("readChangeFeed", "true")
    if skip:
        reader = reader.option("skipChangeCommits", "true")
    q = (
        reader.load(path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return set(rows)


def test_cdf_stream_reads_change_commits_and_resumes(spark, tmp_path):
    """The CDF stream serves MERGE/DELETE commits row-accurately from
    their cdc sidecars (instead of raising, the append-only stream's
    behavior) and resumption from the checkpoint emits only commits
    past the stored version offset."""
    t = _mk_cdf(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    assert _drain_cdf(spark, t.path, ckpt) == _CDF_EXPECT_V0_2
    # incremental: one more delete, same checkpoint
    t.delete_where("k = 0")
    assert _drain_cdf(spark, t.path, ckpt) == {(0, 0, "delete", 3)}
    # quiescent: nothing new
    assert _drain_cdf(spark, t.path, ckpt) == set()


def test_cdf_stream_without_sidecars_raises_unless_skipped(spark, tmp_path):
    """A rewrite commit from a writer WITHOUT change_data=True has no
    row-accurate representation: the CDF stream fails with the fix in
    the message, and skipChangeCommits=true opts into skipping it."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _mk(spark, tmp_path, n=4, files=1)  # change_data defaults off
    t.merge_upsert(spark.createDataFrame([(0, -1)], "k long, v long"), "k")
    with pytest.raises(StreamingQueryException, match="change_data=True"):
        _drain_cdf(spark, t.path, str(tmp_path / "ck1"))
    got = _drain_cdf(spark, t.path, str(tmp_path / "ck2"), skip=True)
    assert got == {(i, 2 * i, "insert", 0) for i in range(4)}


def test_cdf_batch_read_full_and_range(spark, tmp_path):
    """Batch readChangeFeed: full history by default; startingVersion
    / endingVersion bound the commit range (Delta's batch CDF
    options). Layout commits stay invisible."""
    t = _mk_cdf(spark, tmp_path)
    t.compact(target_files=1)  # dataChange=false: must not surface
    full = spark.read.format("hz_txlog").option("readChangeFeed", "true").load(t.path)
    assert set(full.columns) == {"k", "v", "_change_type", "_commit_version"}
    got = {(r.k, r.v, r._change_type, r._commit_version) for r in full.collect()}
    assert got == _CDF_EXPECT_V0_2
    ranged = (
        spark.read.format("hz_txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .option("endingVersion", 1)
        .load(t.path)
    )
    assert {(r.k, r.v, r._change_type) for r in ranged.collect()} == {
        (3, 6, "delete"),
        (3, -3, "insert"),
        (99, -99, "insert"),
    }


def test_cdf_read_does_not_need_superseded_files(spark, tmp_path):
    """cdc sidecars decouple the feed from superseded data files:
    after deleting every file the MERGE removed, both the batch CDF
    read and TxTable.changes still reconstruct the change set (the
    content-diff path would raise FileNotFoundError here)."""
    import json as _json
    import os as _os

    from hz_csv2parquet_spark.sources.txlog import _version_file

    t = _mk_cdf(spark, tmp_path)
    for v in (1, 2):
        for a in _json.load(open(_version_file(t.path, v))):
            if "remove" in a:
                _os.remove(_os.path.join(t.path, a["remove"]["path"]))
    # changes(0) = commits in (0, hi]: the v1 merge + v2 delete (the
    # v0 create's inserts live in its data files, not sidecars, and
    # are exactly what this test deleted)
    got = {
        (r.k, r._change_type, r._commit_version)
        for r in t.changes(0).collect()
    }
    assert got == {(k, c, v) for (k, _, c, v) in _CDF_EXPECT_V0_2 if v > 0}
    batch = (
        spark.read.format("hz_txlog")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(t.path)
    )
    assert batch.count() == 4


def test_version_planners_parse_each_commit_once(spark, tmp_path, monkeypatch):
    """The append stream, the CDF stream, the batch CDF reader and
    ``TxTable.changes`` walk the log the same way: one replay at the
    range start, then each ``_txlog/<v>.json`` parsed once, classified
    and folded from the same parse — so each commit opens once per
    plan."""
    import builtins
    import collections
    import os as _os

    from hz_csv2parquet_spark.sources.txlog_source import (
        DEFAULT_SPLIT_ROWS,
        _cdf_schema,
        _TxLogChangesBatchReader,
        _TxLogStreamReader,
    )

    t = _mk_cdf(spark, tmp_path)  # v0 create, v1 merge, v2 delete
    t.append(spark.createDataFrame([(7, 14)], "k long, v long"))  # v3
    top = t.version()
    schema = t.snapshot().schema
    cdf = _cdf_schema(t.path)
    batch = _TxLogChangesBatchReader(t.path, cdf, 0, None, DEFAULT_SPLIT_ROWS)
    # readers are built first: their constructors replay the log
    planners = {
        "append stream": _TxLogStreamReader(
            t.path, schema, {"skipChangeCommits": "true"}
        ).partitions,
        "cdf stream": _TxLogStreamReader(t.path, cdf, {"readChangeFeed": "true"}).partitions,
        "batch cdf": lambda _start, _end: batch.partitions(),
        "changes()": lambda _s, _e: t.changes(0),
    }
    opens: collections.Counter = collections.Counter()
    real_open = builtins.open

    def counting_open(f, *a, **kw):
        if isinstance(f, str) and _os.path.basename(_os.path.dirname(f)) == "_txlog":
            opens[_os.path.basename(f)] += 1
        return real_open(f, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    for name, plan in planners.items():
        opens.clear()
        parts = plan({"version": -1}, {"version": top})
        assert parts, name
        assert opens == {f"{v:08d}.json": 1 for v in range(top + 1)}, name


def test_batch_read_planning_replays_the_log_once_per_step(
    spark, tmp_path, monkeypatch
):
    """Driver-side planning as Spark runs it — ``schema()`` →
    ``reader(schema)`` → ``pushFilters`` → ``partitions()`` — opens
    each ``_txlog/<v>.json`` twice, for a batch read and for a batch
    CDF read alike: once in ``schema()`` and once in ``partitions()``.
    The reader takes its schema from ``reader()``, and the CDF
    reader's range-head column mapping comes from the state its
    ``partitions()`` walk folds, not from another replay."""
    import builtins
    import collections
    import os as _os

    from pyspark.sql.datasource import GreaterThan

    from hz_csv2parquet_spark.sources.txlog_source import TxLogDataSource

    t = _mk_cdf(spark, tmp_path)  # v0 create, v1 merge, v2 delete
    t.append(spark.createDataFrame([(7, 14)], "k long, v long"))  # v3
    top = t.version()
    opens: collections.Counter = collections.Counter()
    real_open = builtins.open

    def counting_open(f, *a, **kw):
        if isinstance(f, str) and _os.path.basename(_os.path.dirname(f)) == "_txlog":
            opens[_os.path.basename(f)] += 1
        return real_open(f, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    for options, want in (
        ({}, 2),
        ({"readchangefeed": "true", "startingversion": "0"}, 2),
    ):
        opens.clear()
        ds = TxLogDataSource({"path": t.path, **options})
        reader = ds.reader(ds.schema())
        if not options:
            reader.pushFilters([GreaterThan(("k",), 0)])
        assert reader.partitions()
        assert opens == {f"{v:08d}.json": want for v in range(top + 1)}, options


def test_write_overwrite_conflicts_on_interleaved_commit(spark, tmp_path):
    """A commit landing between the overwrite's snapshot replay and
    its log commit must surface as a conflict — the old code computed
    the remove set, then committed against the NEWER version, so the
    interleaved commit's files silently survived the 'overwrite'."""
    from hz_csv2parquet_spark.sources import txlog_source as mod
    from hz_csv2parquet_spark.sources.txlog import CommitConflictError, TxTable
    from hz_csv2parquet_spark.sources.txlog_source import (
        _TxLogBatchWriter,
        _WriteMessage,
    )

    t = _mk(spark, tmp_path, n=4, files=1)
    w = _TxLogBatchWriter(t.path, t.snapshot().schema, {}, overwrite=True)
    # stage a fake part file the way an executor task would
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os as _os

    stage = _os.path.join(t.path, "data-stream")
    _os.makedirs(stage, exist_ok=True)
    pq.write_table(pa.table({"k": [9], "v": [9]}), _os.path.join(stage, "p.parquet"))
    msg = _WriteMessage([{"path": "data-stream/p.parquet", "rows": 1, "stats": {}}])

    orig = TxTable._replay_state
    fired = {"n": 0}

    def racy(self, as_of=None):
        state = orig(self, as_of=as_of)
        if fired["n"] == 0:
            fired["n"] += 1  # one interleaved append between replay and commit
            t.append(spark.createDataFrame([(50, 100)], "k long, v long"))
        return state

    TxTable._replay_state = racy
    try:
        with pytest.raises(CommitConflictError):
            w.commit([msg])
    finally:
        TxTable._replay_state = orig
    # the interleaved append is intact and nothing was overwritten
    assert {r.k for r in t.snapshot().collect()} == {0, 1, 2, 3, 50}


def test_write_overwrite_schema_gate(spark, tmp_path):
    """Schema-changing overwrite: refused without overwriteSchema
    (reads would silently keep the stale shape), accepted with it —
    and the new schema is what hz_txlog reads resolve."""
    t = _mk(spark, tmp_path, n=3, files=1)
    new = spark.createDataFrame([(7, "x")], "k long, tag string")
    with pytest.raises(Exception, match="overwriteSchema"):
        new.write.format("hz_txlog").mode("overwrite").save(t.path)
    new.write.format("hz_txlog").mode("overwrite").option(
        "overwriteSchema", "true"
    ).save(t.path)
    got = spark.read.format("hz_txlog").load(t.path)
    assert got.columns == ["k", "tag"]
    assert [(r.k, r.tag) for r in got.collect()] == [(7, "x")]
    # time travel still resolves the OLD schema at version 0
    v0 = spark.read.format("hz_txlog").option("asOf", 0).load(t.path)
    assert v0.columns == ["k", "v"]
    assert v0.count() == 3


def test_stream_rate_limit_anchor_survives_restart(spark, tmp_path):
    """With streamId, the rate limiter's anchor persists across
    reader instances: the first latestOffset of a NEW reader (a
    restart) is capped at anchor + maxVersionsPerTrigger instead of
    jumping to the top — the catch-up case the option exists to
    bound. Driven at the protocol level like the in-run test above."""
    from hz_csv2parquet_spark.sources.txlog_source import _TxLogStreamReader

    t = _mk(spark, tmp_path, n=2, files=1)
    for i in range(6):
        t.append(spark.createDataFrame([(100 + i, i)], "k long, v long"))
    opts = {"maxVersionsPerTrigger": "2", "streamId": "s1"}
    r1 = _TxLogStreamReader(t.path, t.snapshot().schema, opts)
    first = r1.latestOffset()
    assert first == {"version": 6}  # genuinely-first batch: full backfill
    r1.partitions({"version": -1}, first)
    r1.commit(first)  # engine confirms the batch → anchor persisted
    # restart: fresh reader object, same stream identity
    r2 = _TxLogStreamReader(t.path, t.snapshot().schema, opts)
    for i in range(4):
        t.append(spark.createDataFrame([(200 + i, i)], "k long, v long"))
    assert r2.latestOffset() == {"version": 8}  # anchor(6) + 2, not 10
    # without streamId the restart batch is uncapped (documented)
    r3 = _TxLogStreamReader(
        t.path, t.snapshot().schema, {"maxVersionsPerTrigger": "2"}
    )
    assert r3.latestOffset() == {"version": 10}


def test_dv_batch_read_masks_positions_and_splits(spark, tmp_path):
    """The hz_txlog batch reader masks deletion-vector positions
    executor-side, including on row-group-split partitions where
    local rows map to file-global indices via the footer offsets."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path / "tbl"
    (tbl / "data-x").mkdir(parents=True)
    (tbl / "_dv").mkdir()
    (tbl / "_txlog").mkdir()
    pq.write_table(
        pa.table({"k": list(range(100)), "v": [2 * i for i in range(100)]}),
        str(tbl / "data-x" / "big.parquet"),
        row_group_size=10,
    )
    # delete every multiple of 7 by position (k == position here)
    dead = [i for i in range(100) if i % 7 == 0]
    pq.write_table(
        pa.table({"fname": ["big.parquet"] * len(dead), "pos": dead}),
        str(tbl / "_dv" / "dv-1.parquet"),
    )
    schema_json = spark.createDataFrame([], "k long, v long").schema.json()
    with open(tbl / "_txlog" / "00000000.json", "w") as fh:
        _json.dump(
            [
                {
                    "add": {
                        "path": "data-x/big.parquet",
                        "rows": 100,
                        "stats": {},
                        "dv": {"path": "_dv/dv-1.parquet", "deleted": len(dead)},
                    }
                },
                {"meta": {"schema": schema_json}},
            ],
            fh,
        )
    expect = {k for k in range(100) if k % 7 != 0}
    whole = spark.read.format("hz_txlog").load(str(tbl))
    assert {r.k for r in whole.collect()} == expect
    split = spark.read.format("hz_txlog").option("splitRows", 25).load(str(tbl))
    assert {r.k for r in split.collect()} == expect
    assert split.count() == len(expect)


def test_dv_commit_is_a_change_commit_for_streams(spark, tmp_path):
    """A deletion-vector commit re-adds its file; the append-only
    stream must NOT replay the whole file as inserts — it raises (or
    skips under skipChangeCommits), and the CDF stream serves it from
    cdc sidecars when the table records them."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.createDataFrame(
            [(i, 2 * i) for i in range(6)], "k long, v long"
        ).coalesce(1)
    )
    ck = str(tmp_path / "ck1")
    assert len(_drain(spark, t, ck)) == 6
    t.delete_where("k = 2")
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, t, ck)
    t.append(spark.createDataFrame([(50, 100)], "k long, v long"))
    got = _drain(spark, t, ck, skip=True)
    if not got:
        got = _drain(spark, t, ck, skip=True)
    assert got == {(50, 100)}
    # CDF stream: exact rows for create + dv delete + append
    cdf = _drain_cdf(spark, t.path, str(tmp_path / "ck2"))
    assert cdf == (
        {(i, 2 * i, "insert", 0) for i in range(6)}
        | {(2, 4, "delete", 1), (50, 100, "insert", 2)}
    )


def test_partitioned_dsv2_read_stream_and_partition_pruning(spark, tmp_path):
    """The hz_txlog reader reattaches typed partition values as
    executor-side constants (batch AND streaming), and pushFilters
    prunes files on exact partition values through the same
    log-stats skipping rule."""
    from pyspark.sql.datasource import EqualTo

    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"])
    t.create(
        spark.createDataFrame(
            [(i, i % 3, 2 * i) for i in range(12)], "k long, p int, v long"
        ),
        partition_by=["p"],
    )
    got = spark.read.format("hz_txlog").load(t.path)
    assert dict(got.dtypes)["p"] == "int"
    assert {(r.k, r.p, r.v) for r in got.collect()} == {
        (i, i % 3, 2 * i) for i in range(12)
    }
    # partition pruning: EqualTo on p plans only the p=1 files
    r = _batch_reader(t.path)
    n_all = len(r.partitions())
    r2 = _batch_reader(t.path)
    r2.pushFilters([EqualTo(("p",), 1)])
    n_pruned = len(r2.partitions())
    assert 0 < n_pruned < n_all
    # end to end exactness under the pushed filter
    assert {
        r_.k
        for r_ in spark.read.format("hz_txlog").load(t.path).filter("p = 1").collect()
    } == {i for i in range(12) if i % 3 == 1}
    # streaming read reattaches values too
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend((r_.k, r_.p) for r_ in batch_df.collect())

    q = (
        spark.readStream.format("hz_txlog")
        .load(t.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert set(rows) == {(i, i % 3) for i in range(12)}


def test_starting_timestamp_resolves_to_version(spark, tmp_path):
    """startingTimestamp (epoch or ISO) resolves to the first commit
    at-or-after the wall-clock for both the batch CDF read and the
    stream's starting offset — Delta's time-based start."""
    import json as _json
    import time as _time

    from hz_csv2parquet_spark.sources.txlog import _version_file
    from hz_csv2parquet_spark.sources.txlog_source import (
        _TxLogStreamReader,
        _version_at_or_after,
    )

    t = _mk(spark, tmp_path, n=3, files=1)  # v0
    t.append(spark.createDataFrame([(10, 20)], "k long, v long"))  # v1
    t.append(spark.createDataFrame([(11, 22)], "k long, v long"))  # v2
    # pin deterministic commit times: v0=1000, v1=2000, v2=3000
    for v, ts in ((0, 1000.0), (1, 2000.0), (2, 3000.0)):
        f = _version_file(t.path, v)
        acts = _json.load(open(f))
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
        _json.dump(acts, open(f, "w"))
    assert _version_at_or_after(t.path, 1500.0) == 1
    assert _version_at_or_after(t.path, 3000.0) == 2
    assert _version_at_or_after(t.path, 9999.0) == 3  # nothing yet
    got = (
        spark.read.format("hz_txlog")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "1500")
        .load(t.path)
    )
    assert {(r.k, r._commit_version) for r in got.collect()} == {(10, 1), (11, 2)}
    r = _TxLogStreamReader(t.path, t.snapshot().schema, {"startingTimestamp": "2500"})
    assert r.initialOffset() == {"version": 1}  # first batch = v2 only
    with pytest.raises(ValueError, match="not both"):
        _TxLogStreamReader(
            t.path, t.snapshot().schema,
            {"startingTimestamp": "1", "startingVersion": "0"},
        )


def test_writer_partition_by_creates_hive_table(spark, tmp_path):
    """df.write.format('hz_txlog').option('partitionBy', ...) creates
    a hive-partitioned table through the standard writer API: values
    in the add actions, partitionColumns in the meta, typed read-back,
    pruning — and later appends inherit the layout with NO option."""
    import json as _json

    from hz_csv2parquet_spark.sources.txlog import _version_file

    tbl = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 3, 2 * i) for i in range(12)], "k long, p int, v long"
    )
    df.write.format("hz_txlog").option("partitionBy", "p").option(
        "statCols", "k"
    ).mode("append").save(tbl)
    acts = _json.load(open(_version_file(tbl, 0)))
    metas = [a["meta"] for a in acts if "meta" in a]
    assert metas[0]["partitionColumns"] == ["p"]
    pvs = {a["add"]["partitionValues"]["p"] for a in acts if "add" in a}
    assert pvs == {"0", "1", "2"}
    t = TxTable(spark, tbl, stat_cols=["k"])
    assert {(r.k, r.p, r.v) for r in t.snapshot().collect()} == {
        (i, i % 3, 2 * i) for i in range(12)
    }
    # appends WITHOUT the option inherit the committed layout
    spark.createDataFrame([(100, 1, 0)], "k long, p int, v long").write.format(
        "hz_txlog"
    ).mode("append").save(tbl)
    acts1 = _json.load(open(_version_file(tbl, 1)))
    assert all(
        a["add"]["partitionValues"] == {"p": "1"} for a in acts1 if "add" in a
    )
    hit, miss = t.pruned_files("p", 2, 2)
    assert miss and all("p=2" in h for h in hit)
    # a mismatching option refuses instead of drifting the layout
    with pytest.raises(Exception, match="does not match"):
        spark.createDataFrame([(1, 1, 1)], "k long, p int, v long").write.format(
            "hz_txlog"
        ).option("partitionBy", "v").mode("append").save(tbl)


def test_stream_sink_partitioned_table(spark, tmp_path):
    """The exactly-once streaming sink stages hive-partitioned files
    when asked: one staged file per (task, partition value), values in
    the log, snapshot and DSv2 read reattach them."""
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(i, i % 2, 3 * i) for i in range(8)], "k long, p int, v long"
    ).coalesce(1).write.mode("append").parquet(str(src))
    tbl = tmp_path / "tbl"
    q = (
        spark.readStream.schema("k long, p int, v long")
        .parquet(str(src))
        .writeStream.format("hz_txlog")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("statCols", "k")
        .option("partitionBy", "p")
        .trigger(availableNow=True)
        .start(str(tbl))
    )
    q.awaitTermination()
    t = TxTable(spark, str(tbl), stat_cols=["k"])
    assert t.partition_columns() == ["p"]
    assert {(r.k, r.p, r.v) for r in t.snapshot().collect()} == {
        (i, i % 2, 3 * i) for i in range(8)
    }
    got = spark.read.format("hz_txlog").load(str(tbl))
    assert dict(got.dtypes)["p"] == "int"
    assert got.filter("p = 1").count() == 4


def test_restore_in_place_readd_is_a_change_commit_for_streams(spark, tmp_path):
    """Advisor r10 medium: restore() rolls a deletion vector back by
    re-emitting the add IN PLACE — no remove action, no dv on the new
    action. A stream classifying commits by removed==[] would replay
    the entire file as duplicate inserts. The append-only stream must
    treat it as a change commit (raise / skip), and the CDF stream on
    a change_data table serves the exact resurrected rows."""
    t = TxTable(
        spark,
        str(tmp_path / "tbl"),
        stat_cols=["k"],
        deletion_vectors=True,
        change_data=True,
    )
    t.create(
        spark.createDataFrame(
            [(i, 2 * i) for i in range(6)], "k long, v long"
        ).coalesce(1)
    )
    ck = str(tmp_path / "ck1")
    assert len(_drain(spark, t, ck)) == 6
    t.delete_where("k < 3")      # v1: dv commit
    t.restore(0)                 # v2: in-place re-add, no remove, no dv
    # append-only stream: the restore must NOT surface as 6 inserts
    with pytest.raises(Exception, match="append-only"):
        _drain(spark, t, ck)
    got = _drain(spark, t, ck, skip=True)
    if not got:
        got = _drain(spark, t, ck, skip=True)
    assert got == set()          # both change commits skipped, no replay
    # CDF stream: deletes at v1, resurrections at v2, nothing else
    cdf = _drain_cdf(spark, t.path, str(tmp_path / "ck2"))
    assert cdf == (
        {(i, 2 * i, "insert", 0) for i in range(6)}
        | {(i, 2 * i, "delete", 1) for i in range(3)}
        | {(i, 2 * i, "insert", 2) for i in range(3)}
    )


def test_restore_without_sidecars_raises_for_cdf_stream(spark, tmp_path):
    """The non-change_data variant: the CDF planner cannot represent
    an in-place restore row-accurately without sidecars — it must
    refuse (or skip) instead of emitting the whole file."""
    t = TxTable(
        spark, str(tmp_path / "tbl"), stat_cols=["k"], deletion_vectors=True
    )
    t.create(
        spark.createDataFrame(
            [(i, 2 * i) for i in range(6)], "k long, v long"
        ).coalesce(1)
    )
    t.delete_where("k = 0")
    t.restore(0)
    with pytest.raises(Exception, match="change-data sidecars"):
        _drain_cdf(spark, t.path, str(tmp_path / "ck"))
    assert _drain_cdf(spark, t.path, str(tmp_path / "ck2"), skip=True) == {
        (i, 2 * i, "insert", 0) for i in range(6)
    }


def test_sink_autocreate_persists_properties_and_features(spark, tmp_path):
    """Round-11 review finding: sink-auto-created tables must carry
    the same log-persisted properties/readerFeatures contract as
    TxTable.create(), so later writers resolve behavior from the log
    and partitioned tables are feature-gated."""
    import json as j
    import os

    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, p string, v long") \
        .write.format("hz_txlog").option("partitionBy", "p").mode("append").save(p)
    t = TxTable(spark, p)
    state = t._replay_state()
    assert state["properties"] == {"changeDataFeed": False, "deletionVectors": False}
    assert "hivePartitioning" in state["readerFeatures"]
    # enabling cdf later governs a bare writer on the sink-created table
    t.set_properties(changeDataFeed=True)
    bare = TxTable(spark, p)
    v = bare.delete_where("k = 1")
    acts = j.load(open(os.path.join(p, "_txlog", f"{v:08d}.json")))
    assert any("cdc" in a for a in acts)

def test_sink_merge_schema_evolves_mapped_table_in_one_commit(spark, tmp_path):
    """Round-12 (r11 verdict item 7): evolve-through-sink behind an
    explicit mergeSchema option. A batch write naming a column the
    mapping doesn't know stages its files under a FRESH physical id
    and folds the evolve_schema-equivalent meta action (union schema
    + extended columnMapping) into the SAME commit; without the
    option the write still fails closed at writer construction; old
    readers stay feature-gated on columnMapping."""
    import json as _json
    import os

    from hz_csv2parquet_spark.sources.txlog import (
        TableFeatureError,
        _version_file,
    )

    t = _mk(spark, tmp_path, n=5, files=1)
    t.rename_column("v", "val")  # upgrades the table to column mapping
    wide = spark.createDataFrame([(100, 200, "x")], "k long, val long, note string")
    # gated by default
    with pytest.raises(Exception, match="mergeSchema"):
        wide.write.format("hz_txlog").mode("append").save(t.path)
    v_before = t.version()
    wide.write.format("hz_txlog").mode("append").option(
        "mergeSchema", "true"
    ).save(t.path)
    # ONE commit carrying both the add and the meta action
    assert t.version() == v_before + 1
    actions = _json.load(open(_version_file(t.path, t.version())))
    kinds = {k for a in actions for k in a}
    assert "add" in kinds and "meta" in kinds
    # the new column got a fresh physical id in the mapping
    state = t._replay_state()
    phys = dict(state["columnMapping"]["physical"])
    assert phys["note"].startswith("col-")
    assert "columnMapping" in state["readerFeatures"]  # old readers gated
    # reads resolve: old rows null-fill, new row carries its value
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "val", "note"}
    assert snap.filter("note = 'x'").count() == 1
    assert snap.filter("note IS NULL").count() == 5
    # and the DSv2 read path resolves the same through the mapping
    got = spark.read.format("hz_txlog").load(t.path)
    assert got.filter("note = 'x'").count() == 1


def test_sink_merge_schema_evolves_unmapped_table(spark, tmp_path):
    """On an unmapped table a widening append is refused without
    mergeSchema (the new columns would be silently hidden by the
    committed schema) and with it commits the union schema in the
    same commit. mergeSchema+overwrite is refused — overwrite's
    schema gate is overwriteSchema."""
    t = _mk(spark, tmp_path, n=4, files=1)
    wide = spark.createDataFrame([(50, 60, 7.5)], "k long, v long, score double")
    with pytest.raises(Exception, match="mergeSchema"):
        wide.write.format("hz_txlog").mode("append").save(t.path)
    wide.write.format("hz_txlog").mode("append").option(
        "mergeSchema", "true"
    ).save(t.path)
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "v", "score"}
    assert snap.filter("score IS NULL").count() == 4
    assert snap.filter("score = 7.5").count() == 1
    with pytest.raises(Exception, match="overwriteSchema"):
        wide.write.format("hz_txlog").mode("overwrite").option(
            "mergeSchema", "true"
        ).save(t.path)


def test_sink_merge_schema_never_resurrects_dropped_column(spark, tmp_path):
    """A drop + sink-re-add of the same logical name must mint a
    FRESH physical id — the old files' residue under the previous
    physical name stays invisible (the evolve_schema rule, now
    honored by the sink path too)."""
    t = _mk(spark, tmp_path, n=3, files=1)
    t.rename_column("k", "key")  # upgrade to mapping
    old_phys = dict(t._replay_state()["columnMapping"]["physical"])["v"]
    t.drop_column("v")
    readd = spark.createDataFrame([(99, 123)], "key long, v long")
    readd.write.format("hz_txlog").mode("append").option(
        "mergeSchema", "true"
    ).save(t.path)
    state = t._replay_state()
    new_phys = dict(state["columnMapping"]["physical"])["v"]
    assert new_phys != old_phys
    snap = t.snapshot()
    # the three original rows' old v values are residue, NOT served
    assert {r.v for r in snap.collect()} == {123, None}

def _drain_rows(spark, t, ckpt, skip=False):
    """Like _drain but schema-agnostic: collects whole rows as
    tuples (the guard tests rename/evolve mid-stream, so the served
    column set varies between runs)."""
    rows: list = []

    def sink(batch_df, _bid):
        rows.extend(tuple(r) for r in batch_df.collect())

    reader = spark.readStream.format("hz_txlog")
    if skip:
        reader = reader.option("skipChangeCommits", "true")
    q = (
        reader.load(t.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return set(rows)


def test_stream_fails_on_non_additive_schema_change(spark, tmp_path):
    """Round-12 advisory fix: a mid-stream DROP COLUMN — and the
    nastier drop + re-add of the same logical name under a fresh
    physical id — must FAIL the stream (the Delta non-additive
    contract) instead of silently serving NULL for that column from
    newly appended files under the stale query-start anchor. Renames
    and added columns stay additive: the stream keeps serving its
    query-start schema."""
    t = _mk(spark, tmp_path, n=3, files=1)
    ckpt = str(tmp_path / "ckpt")
    assert len(_drain_rows(spark, t, ckpt)) == 3
    # additive: rename (physical names invariant) — stream continues
    t.rename_column("k", "key")
    t.append(spark.createDataFrame([(50, 100)], "key long, v long"))
    assert _drain_rows(spark, t, ckpt) == {(50, 100)}
    # non-additive: drop the served column v, re-add the same logical
    # name through the evolving sink (fresh physical id)
    t.drop_column("v")
    spark.createDataFrame([(60, 999)], "key long, v long").write.format(
        "hz_txlog"
    ).mode("append").option("mergeSchema", "true").save(t.path)
    with pytest.raises(Exception) as exc_info:
        _drain_rows(spark, t, ckpt)
    assert "restart the stream" in str(exc_info.value)
    # skipChangeCommits does NOT bypass a meta-change failure
    with pytest.raises(Exception) as exc2:
        _drain_rows(spark, t, ckpt, skip=True)
    assert "restart the stream" in str(exc2.value)


def test_stream_fails_on_unmapped_column_drop(spark, tmp_path):
    """The same guard on an UNMAPPED table, at the planner level (a
    restarted query re-anchors, so the long-lived case — the anchor
    predating the meta commit inside one query run — is driven by
    constructing the reader directly): a schema meta action that
    drops or retypes a served column fails the batch; additive
    widening passes."""
    from hz_csv2parquet_spark.sources.txlog_source import (
        _TxLogStreamReader,
        _schema_from_log,
    )

    t = _mk(spark, tmp_path, n=2, files=1)
    reader = _TxLogStreamReader(t.path, _schema_from_log(t.path), {})
    v0 = t.version()
    # additive widening mid-stream: plans fine
    t.evolve_schema(
        spark.createDataFrame([(10, 20, "x")], "k long, v long, extra string")
    )
    assert reader.partitions({"version": v0}, {"version": t.version()})
    v1 = t.version()
    # non-additive: narrow the schema away from served column v via a
    # raw meta commit (simulates an external writer / future verb)
    narrow = (
        '{"type":"struct","fields":['
        '{"name":"k","type":"long","nullable":true,"metadata":{}}]}'
    )
    t._rebase_commit([{"meta": {"schema": narrow}}], operation="NARROW")
    with pytest.raises(ValueError, match="restart the stream"):
        reader.partitions({"version": v1}, {"version": t.version()})
    # ...and a served column TYPE change is equally non-additive
    t2 = _mk(spark, tmp_path / "t2", n=2, files=1)
    reader2 = _TxLogStreamReader(t2.path, _schema_from_log(t2.path), {})
    v2 = t2.version()
    retyped = t2._replay_state()["schema"].replace('"type":"long"', '"type":"double"', 1)
    t2._rebase_commit([{"meta": {"schema": retyped}}], operation="RETYPE")
    with pytest.raises(ValueError, match="restart the stream"):
        reader2.partitions({"version": v2}, {"version": t2.version()})


def test_sink_merge_schema_refuses_case_variant_columns(spark, tmp_path):
    """Round-12 self-review fix: evolving a case-variant of an
    existing column would commit a schema where every later
    reference is ambiguous under spark.sql.caseSensitive=false — the
    sink refuses at construction with a rename instruction."""
    t = _mk(spark, tmp_path, n=2, files=1)
    wide = spark.createDataFrame([(9, 9, 9)], "k long, v long, K long")
    with pytest.raises(Exception, match="differ\\s+only by case"):
        wide.write.format("hz_txlog").mode("append").option(
            "mergeSchema", "true"
        ).save(t.path)
    assert "K" not in t.snapshot().columns


def test_stream_fails_on_mapped_column_retype(spark, tmp_path):
    """Round-12 self-review fix: on a MAPPED table a schema-only meta
    commit that retypes a served column (physical names unchanged)
    must fail the stream — the columnMapping presence check alone
    cannot see it."""
    import json as _json

    from hz_csv2parquet_spark.sources.txlog_source import (
        _TxLogStreamReader,
        _schema_from_log,
    )

    t = _mk(spark, tmp_path, n=2, files=1)
    t.rename_column("k", "key")  # upgrade to mapping
    reader = _TxLogStreamReader(t.path, _schema_from_log(t.path), {})
    v0 = t.version()
    # additive on mapped: rename again — physicals invariant, passes
    t.rename_column("v", "val")
    assert reader.partitions({"version": v0}, {"version": t.version()}) == []
    v1 = t.version()
    retyped = t._replay_state()["schema"].replace(
        '"type":"long"', '"type":"double"', 1
    )
    t._rebase_commit([{"meta": {"schema": retyped}}], operation="RETYPE")
    with pytest.raises(ValueError, match="restart the stream"):
        reader.partitions({"version": v1}, {"version": t.version()})


def test_null_count_skipping_is_null_and_is_not_null(spark, tmp_path):
    """Round 13 (the Delta nullCount shape): the log records per-file
    null counts next to min/max, and the pushed IsNull/IsNotNull
    filters prune files on them — IS NULL skips null-free files,
    IS NOT NULL skips all-NULL files (which have NO min/max stats, so
    range skipping alone could never touch them). Skipping stays a
    superset guarantee: results are exact either way."""
    from pyspark.sql.datasource import IsNotNull, IsNull


    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["v"])
    mk = lambda sql: spark.sql(sql).coalesce(1)
    # three single-file commits: all-NULL v / null-free v / mixed
    t.create(mk("SELECT id AS k, CAST(NULL AS BIGINT) AS v FROM range(10)"))
    t.append(mk("SELECT id AS k, id AS v FROM range(100, 110)"))
    t.append(
        mk(
            "SELECT id AS k, IF(id % 2 = 0, id, CAST(NULL AS BIGINT)) AS v "
            "FROM range(200, 210)"
        )
    )
    adds = t._replay_state()["adds"]
    assert sorted((a["rows"], a["nulls"]["v"]) for a in adds.values()) == [
        (10, 0),
        (10, 5),
        (10, 10),
    ]

    r = _batch_reader(t.path)
    assert len(r.partitions()) == 3
    r2 = _batch_reader(t.path)
    r2.pushFilters([IsNull(("v",))])
    assert len(r2.partitions()) == 2  # null-free file skipped
    r3 = _batch_reader(t.path)
    r3.pushFilters([IsNotNull(("v",))])
    assert len(r3.partitions()) == 2  # all-NULL file skipped

    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    df = spark.read.format("hz_txlog").load(t.path)
    assert df.filter("v IS NULL").count() == 15
    assert df.filter("v IS NOT NULL").count() == 15
    assert df.filter("v IS NOT NULL AND v >= 200").count() == 5


def _staged_message(path: str, rows: dict):
    """A parquet part staged under the table the way a writer task
    stages one, as the commit message its driver sees."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hz_csv2parquet_spark.sources.txlog_source import _WriteMessage

    rel = f"data-stream/part-{uuid.uuid4().hex}.parquet"
    os.makedirs(os.path.join(path, "data-stream"), exist_ok=True)
    table = pa.table(rows)
    pq.write_table(table, os.path.join(path, rel))
    return _WriteMessage([{"path": rel, "rows": table.num_rows, "stats": {}}])


def _racing_commit(monkeypatch, race):
    """Patch ``TxTable._commit`` so ``race()`` runs once, inside the
    first commit, before that commit creates its version file — the
    racer wins the version the caller was about to take."""
    real_commit = TxTable._commit
    fired = {"n": 0}

    def racing_commit(self, actions, expected_version, operation=None):
        if fired["n"] == 0:
            fired["n"] += 1
            race()
        return real_commit(self, actions, expected_version, operation=operation)

    monkeypatch.setattr(TxTable, "_commit", racing_commit)
    return fired


def _writer_commit(kind, path, schema):
    from hz_csv2parquet_spark.sources.txlog_source import (
        _TxLogBatchWriter,
        _TxLogStreamWriter,
    )

    msg = _staged_message(path, {"k": [1], "v": [2]})
    if kind == "batch_writer":
        w = _TxLogBatchWriter(path, schema, {}, overwrite=False)
        return msg, lambda: w.commit([msg])
    w = _TxLogStreamWriter(path, schema, {})
    return msg, lambda: w.commit([msg], 0)


@pytest.mark.parametrize("kind", ["batch_writer", "stream_sink"])
def test_writer_create_race_conflicts_instead_of_rebasing(
    spark, tmp_path, monkeypatch, kind
):
    """A writer auto-creating a table must not rebase its CREATE onto
    a table another writer created first: that would re-commit the
    loser's schema and properties at version 1, silently replacing
    the winner's. The loser surfaces CommitConflictError and the
    winner's table is intact."""
    import json as _json

    from hz_csv2parquet_spark.sources.txlog import CommitConflictError

    path = str(tmp_path / "tbl")
    _, commit = _writer_commit(kind, path, spark.range(1).selectExpr(
        "id AS k", "id AS v"
    ).schema)
    winner = TxTable(spark, path, change_data=True)
    fired = _racing_commit(monkeypatch, lambda: winner.create(spark.range(3)))
    with pytest.raises(CommitConflictError):
        commit()
    assert fired["n"] == 1
    assert winner.version() == 0
    state = winner._replay_state()
    assert [f["name"] for f in _json.loads(state["schema"])["fields"]] == ["id"]
    assert state["properties"]["changeDataFeed"] is True
    assert sorted(r.id for r in winner.snapshot().collect()) == [0, 1, 2]


def test_stream_sink_twin_race_aborts_and_commits_nothing(
    spark, tmp_path, monkeypatch
):
    """The sink's exactly-once race: a replayed twin of the same
    (appId, batchId) wins the version between the sink's duplicate
    check and its commit. The loser finds the marker on the head,
    commits nothing and deletes its staged files."""
    import os

    t = _mk(spark, tmp_path, n=4, files=1)
    twin = TxTable(spark, t.path)
    msg, commit = _writer_commit("stream_sink", t.path, t.snapshot().schema)
    staged = os.path.join(t.path, msg.files[0]["path"])
    fired = _racing_commit(
        monkeypatch,
        lambda: twin._rebase_commit(
            [{"txn": {"appId": "hz_txlog_sink", "batchId": 0}}], "STREAMING-SINK"
        ),
    )
    commit()
    assert fired["n"] == 1
    assert t.version() == 1  # only the twin's marker commit
    assert t.committed_txns("hz_txlog_sink") == {0}
    assert not os.path.exists(staged)
    assert sorted(r.k for r in t.snapshot().collect()) == [0, 1, 2, 3]


def test_merge_schema_write_conflicts_with_racing_evolve_schema(
    spark, tmp_path, monkeypatch
):
    """A mergeSchema append chose its union schema at writer
    construction; a racing evolve_schema that moves the schema first
    makes that choice stale, so the rebase raises instead of
    committing the stale evolution over the racer's schema."""
    from hz_csv2parquet_spark.sources.txlog import CommitConflictError
    from hz_csv2parquet_spark.sources.txlog_source import _TxLogBatchWriter

    t = _mk(spark, tmp_path, n=4, files=1)
    wide = spark.createDataFrame([(1, 2, 1.5)], "k long, v long, w double")
    w = _TxLogBatchWriter(t.path, wide.schema, {"mergeSchema": "true"}, overwrite=False)
    msg = _staged_message(t.path, {"k": [1], "v": [2], "w": [1.5]})
    racer = spark.createDataFrame([(9, 9, "x")], "k long, v long, note string")
    fired = _racing_commit(monkeypatch, lambda: t.evolve_schema(racer))
    with pytest.raises(CommitConflictError, match="mergeSchema"):
        w.commit([msg])
    assert fired["n"] == 1
    assert t.version() == 1  # only the racer's evolution landed
    assert t.snapshot().columns == ["k", "v", "note"]
    assert t.snapshot().count() == 5


_CONSTRAINT_VERBS = {
    "add_constraint": (lambda t: t.add_constraint("pos", "v > 0"), "pos", -5),
    "set_not_null": (lambda t: t.set_not_null("v"), "nn_v", None),
}


def _positive_table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(spark.createDataFrame([(1, 1), (2, 2)], "k long, v long"))
    return t


@pytest.mark.parametrize("verb", sorted(_CONSTRAINT_VERBS))
def test_constraint_verb_racing_a_violating_append_conflicts(
    spark, tmp_path, monkeypatch, verb
):
    """A violating append wins the version a constraint verb was about
    to take: the verb validated the files live before the append, so
    it must conflict instead of landing over a row it never checked."""
    from hz_csv2parquet_spark.sources.txlog import CommitConflictError

    add, name, bad_v = _CONSTRAINT_VERBS[verb]
    t = _positive_table(spark, tmp_path)
    bad = spark.createDataFrame([(3, bad_v)], "k long, v long")
    fired = _racing_commit(monkeypatch, lambda: TxTable(spark, t.path).append(bad))
    with pytest.raises(CommitConflictError, match="validated"):
        add(t)
    assert fired["n"] == 1
    assert name not in t.constraints()
    assert t.snapshot().count() == 3


@pytest.mark.parametrize("write", ["append", "append_batch"])
def test_append_racing_a_constraint_conflicts(spark, tmp_path, monkeypatch, write):
    """A constraint wins the version a violating append was about to
    take: the append enforced the constraints it replayed, so it must
    conflict instead of landing a row the new constraint forbids."""
    from hz_csv2parquet_spark.sources.txlog import CommitConflictError

    t = _positive_table(spark, tmp_path)
    bad = spark.createDataFrame([(3, -5)], "k long, v long")
    fired = _racing_commit(
        monkeypatch, lambda: TxTable(spark, t.path).add_constraint("pos", "v > 0")
    )
    with pytest.raises(CommitConflictError, match="enforced"):
        if write == "append":
            t.append(bad)
        else:
            t.append_batch(bad, "job", 0)
    assert fired["n"] == 1
    assert t.constraints() == {"pos": "v > 0"}
    assert t.snapshot().filter("v <= 0").count() == 0


def test_txlog_source_planning_is_sessionless():
    """Tooling guard: Spark 4.1 calls ``DataSource.reader()`` and
    plans partitions in a Python worker with no SparkSession, so a
    session probe in the source only ever sees ``None`` — a reader
    choice or skipping pass gated on one never runs in a real read.
    The source names no SparkSession at all."""
    import ast

    from hz_csv2parquet_spark.sources import txlog_source

    tree = ast.parse(open(txlog_source.__file__).read())
    names = {
        getattr(n, "id", None) or getattr(n, "attr", None) or getattr(n, "name", None)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    }
    assert not names & {"SparkSession", "getActiveSession"}
