"""Bloom-filter data skipping (sources/txlog.py index_bloom /
_bloom_prune): per-file bloom sidecars answer "provably absent" for
equality/IN probes. Min/max footer stats prune ranges but not point
lookups once values interleave across files — at 100 TB every file
overlaps ``user_id = X`` after enough appends, and a GDPR point
DELETE degrades to a full scan. With the index, the detection scan
schedules tasks only for files that plausibly contain the key.
Build and probe hash through the SAME JVM expression
(``xxhash64(cast(v), i)``), so parity is by construction. Bloom
skipping belongs to the TxTable verbs, which hold a session to hash
probes; the sessionless ``hz_txlog`` reader serves bloom-indexed
tables and skips by log stats only."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hz_csv2parquet_spark.sources.txlog import TxTable, _version_file


def _mk_interleaved(spark, tmp_path, files=4, per=64, **kw):
    """File i holds exactly k ≡ i (mod files): min/max ranges all
    overlap [i, (per-1)·files+i], so stats pruning is useless and any
    skipping observed below is the bloom's."""
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=["k"], **kw)

    def part(i):
        return (
            spark.range(per)
            .select((F.col("id") * files + i).alias("k"))
            .withColumn("user", F.concat(F.lit("u"), F.col("k")))
            .coalesce(1)
        )

    t.create(part(0))
    for i in range(1, files):
        t.append(part(i))
    return t


def _removed_paths(t, version):
    return [
        a["remove"]["path"]
        for a in json.load(open(_version_file(t.path, version)))
        if "remove" in a
    ]


def test_point_delete_rewrites_only_the_carrier_file(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path)
    assert len(t.files()) == 4
    t.index_bloom(["k", "user"])
    # stats are useless here (all ranges overlap); the bloom proves
    # three of the four files cannot contain k = 7
    v = t.delete_where("k = 7")
    assert len(_removed_paths(t, v)) == 1
    assert t.snapshot().count() == 4 * 64 - 1
    # string probe goes through the same machinery
    v = t.delete_where("user = 'u9'")
    assert len(_removed_paths(t, v)) == 1
    assert t.snapshot().count() == 4 * 64 - 2


def test_in_list_probes_every_value(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path)
    t.index_bloom("k")
    # 5 and 9 share k%4=1: one carrier file; 6 adds a second
    v = t.delete_where("k IN (5, 9, 6)")
    assert len(_removed_paths(t, v)) == 2
    assert t.snapshot().count() == 4 * 64 - 3


def test_bloom_never_wrongly_skips(spark, tmp_path):
    """Exhaustive correctness sweep: every present key deletes
    exactly its row, interleaved layout, both column kinds."""
    t = _mk_interleaved(spark, tmp_path, files=2, per=16)
    t.index_bloom(["k", "user"])
    for k in range(0, 32, 5):
        t.delete_where(f"k = {k}")
    remaining = {r.k for r in t.snapshot().collect()}
    assert remaining == set(range(32)) - set(range(0, 32, 5))
    t.delete_where("user = 'u3'")
    assert 3 not in {r.k for r in t.snapshot().collect()}


def test_unindexed_appends_stay_conservative(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path, files=2, per=8)
    t.index_bloom("k")
    # the new file has NO bloom: it must still be scanned and matched
    t.append(
        spark.range(100, 108).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.col("id")).alias("user"),
        )
    )
    t.delete_where("k = 101")
    assert t.snapshot().filter("k = 101").count() == 0
    # a second index tick covers only the new file (old adds keep
    # their sidecars — pointer equality, no rebuild)
    before = {
        rel: a["bloom"]["path"]
        for rel, a in t._replay_state()["adds"].items()
        if a.get("bloom")
    }
    t.index_bloom("k")
    after = {
        rel: a["bloom"]["path"]
        for rel, a in t._replay_state()["adds"].items()
        if a.get("bloom")
    }
    assert all(after[rel] == p for rel, p in before.items())
    assert len(after) == len(t.files())


def test_all_null_column_gets_empty_bloom_and_skips(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"), stat_cols=[])
    t.create(
        spark.range(16).select(
            F.col("id").alias("k"), F.lit(None).cast("string").alias("user")
        )
    )
    t.index_bloom("user")
    # user = 'x' is provably false everywhere: zero files rewritten,
    # the no-match delete commits nothing
    base = t.version()
    t.delete_where("user = 'x'")
    assert t.version() == base
    assert t.snapshot().count() == 16


def test_rename_then_probe_through_the_mapping(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path)
    t.index_bloom("k")
    t.rename_column("k", "key")
    v = t.delete_where("key = 7")
    assert len(_removed_paths(t, v)) == 1
    assert t.snapshot().filter("key = 7").count() == 0


def test_update_where_uses_the_index_too(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path)
    t.index_bloom("k")
    v = t.update_where("k = 7", {"user": "concat(user, '!')"})
    # update shares DELETE's detection scan — one file rewritten
    assert len(_removed_paths(t, v)) == 1
    assert t.snapshot().filter("k = 7").collect()[0].user == "u7!"


def test_vacuum_reclaims_superseded_sidecars(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path, files=2, per=8)
    t.index_bloom("k")
    old = {
        os.path.join(t.path, a["bloom"]["path"])
        for a in t._replay_state()["adds"].values()
    }
    # a compaction rewrites the files: their blooms are superseded
    t.compact()
    t.index_bloom("k")
    t.vacuum(retention_seconds=0.0)
    assert not any(os.path.exists(f) for f in old)
    # live sidecars survive
    live = {
        os.path.join(t.path, a["bloom"]["path"])
        for a in t._replay_state()["adds"].values()
        if a.get("bloom")
    }
    assert live and all(os.path.exists(f) for f in live)


def test_index_survives_a_checkpoint_roundtrip(spark, tmp_path):
    t = _mk_interleaved(spark, tmp_path, checkpoint_interval=2)
    t.index_bloom("k")
    for i in range(4):  # force a parquet checkpoint past the index
        t.set_properties(changeDataFeed=False)
    fresh = TxTable(spark, t.path, stat_cols=["k"], checkpoint_interval=2)
    assert any(
        a.get("bloom") for a in fresh._replay_state()["adds"].values()
    )
    v = fresh.delete_where("k = 7")
    assert len(_removed_paths(fresh, v)) == 1


def test_validation_errors(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.range(8).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("p"),
            F.rand().alias("x"),
        ),
    )
    with pytest.raises(ValueError, match="no such column"):
        t.index_bloom("missing")
    with pytest.raises(ValueError, match="integral and string"):
        t.index_bloom("x")
    with pytest.raises(ValueError, match="hashes"):
        t.index_bloom("k", hashes=99)
    with pytest.raises(ValueError, match="bits"):
        t.index_bloom("k", bits=7)
    tp = TxTable(spark, str(tmp_path / "tp"))
    tp.create(
        spark.range(8).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p")),
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition column"):
        tp.index_bloom("p")


def test_dsv2_reads_indexed_and_purged_tables(spark, tmp_path):
    """Interop: the sessionless DSv2 reader serves bloom-indexed
    tables (unknown ``bloom`` add-keys ignored; the BLOOM-INDEX
    commit's dataChange=False adds are invisible to streams/CDF),
    and purged tables read through the mapping as usual."""
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    t = _mk_interleaved(
        spark, tmp_path, files=2, per=16, deletion_vectors=True
    )
    v = t.index_bloom(["k", "user"])
    t.set_properties(changeDataFeed=True)
    t.delete_where("k = 7")
    register_txlog_source(spark)
    df = spark.read.format("hz_txlog").load(t.path)
    assert df.count() == 31
    # the index commit is maintenance: the change feed skips it
    assert t.changes(v, v).count() == 0
    t.drop_column("user")
    t.reorg_purge()
    df = spark.read.format("hz_txlog").load(t.path)
    assert df.columns == ["k"]
    assert df.count() == 31


def test_or_predicates_never_bloom_skip(spark, tmp_path):
    """Only conjunct-level atoms are sound: `k = 7 OR user = 'u9'`
    must not skip a file that merely lacks k=7."""
    t = _mk_interleaved(spark, tmp_path, files=2, per=16)
    t.index_bloom(["k", "user"])
    t.delete_where("k = 7 OR user = 'u9'")
    left = {r.k for r in t.snapshot().collect()}
    assert 7 not in left and 9 not in left
    assert len(left) == 30
