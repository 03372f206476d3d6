"""Shallow clone (TxTable.clone): zero-copy table references.

Pins the Delta SHALLOW CLONE contract re-expressed on the txlog:
commit 0 of the clone references the source's files by absolute path
(``absPath`` on add/dv actions, relative keys unchanged), gated by
the ``absolutePaths`` reader feature; every verb then works on the
clone as an independent table, with copy-on-write localization and
strict source isolation."""

from __future__ import annotations

import glob
import json
import os

import pytest

from hz_csv2parquet_spark.sources.txlog import (
    SUPPORTED_READER_FEATURES,
    TableFeatureError,
    TxTable,
)


def _mk_src(spark, path, **kw):
    t = TxTable(spark, path, **kw)
    df = spark.range(100).selectExpr(
        "id", "id % 5 as grp", "cast(id * 1.5 as double) as val"
    )
    t.create(df, partition_by=["grp"])
    return t


def _ids(t, **kw):
    return sorted(r["id"] for r in t.snapshot(**kw).collect())


def _src_files(path):
    return set(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def test_clone_reads_equal_source(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"), deletion_vectors=True)
    src.delete_where("id < 10")  # dv sidecar rides the clone too
    src.append(
        spark.range(100, 120).selectExpr(
            "id", "id % 5 as grp", "cast(id * 1.5 as double) as val"
        )
    )
    cl = src.clone(str(tmp_path / "cl"))
    assert _ids(cl) == _ids(src) == list(range(10, 120))
    # schema + partitioning carried
    assert cl.partition_columns() == ["grp"]
    assert cl.snapshot().schema == src.snapshot().schema
    # zero data files copied — the clone directory holds log only
    assert _src_files(str(tmp_path / "cl")) - {
        f for f in _src_files(str(tmp_path / "cl")) if "_txlog" in f
    } == set()


def test_clone_is_time_travelable_and_versioned(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    src.append(
        spark.range(100, 150).selectExpr(
            "id", "id % 5 as grp", "cast(id as double) as val"
        )
    )
    old = src.clone(str(tmp_path / "old"), version=0)
    assert old.snapshot().count() == 100
    ts_clone = src.clone(
        str(tmp_path / "ts"), timestamp=src.commit_timestamps()[0]
    )
    assert ts_clone.snapshot().count() == 100
    with pytest.raises(ValueError, match="version OR timestamp"):
        src.clone(str(tmp_path / "both"), version=0, timestamp=0.0)
    with pytest.raises(FileExistsError):
        src.clone(str(tmp_path / "old"))


def test_clone_dml_is_copy_on_write_into_clone_dir(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    before = _src_files(str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    cl.delete_where("id >= 50")
    cl.update_where("grp = 0", {"val": "0.0"})
    # clone content moved, source bit-identical
    assert _ids(cl) == list(range(0, 50))
    assert _ids(src) == list(range(100))
    assert _src_files(str(tmp_path / "src")) == before
    # every rewritten file landed under the clone's own root
    local = [f for f in cl.files() if f.startswith(str(tmp_path / "cl"))]
    assert local, "DML must write into the clone directory"


def test_compact_materializes_clone_fully_local(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    assert all(f.startswith(str(tmp_path / "src")) for f in cl.files())
    cl.compact()
    assert all(f.startswith(str(tmp_path / "cl")) for f in cl.files())
    assert _ids(cl) == list(range(100))
    # after materialization the source is dead weight: reads touch
    # local files only, so vacuuming the source can't break the clone
    state = cl._replay_state()
    assert not any(a.get("absPath") for a in state["adds"].values())


def test_clone_of_clone_points_at_original(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    c1 = src.clone(str(tmp_path / "c1"))
    c2 = c1.clone(str(tmp_path / "c2"))
    assert all(f.startswith(str(tmp_path / "src")) for f in c2.files())
    assert _ids(c2) == list(range(100))


def test_clone_carries_constraints_properties_mapping(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"), change_data=True)
    src.add_constraint("pos_id", "id >= 0")
    src.rename_column("val", "score")  # column mapping upgrade
    cl = src.clone(str(tmp_path / "cl"))
    assert "score" in cl.snapshot().columns
    assert cl.constraints() == {"pos_id": "id >= 0"}
    # constraint enforced on the CLONE's own writes
    with pytest.raises(ValueError, match="pos_id"):
        cl.append(
            spark.range(1).selectExpr(
                "-1 as id", "0 as grp", "cast(1.0 as double) as score"
            )
        )
    # CDF property carried: an update on the clone stages sidecars
    cl.update_where("grp = 1", {"score": "0.0"})
    kinds = {r["_change_type"] for r in cl.changes(0).collect()}
    assert kinds == {"update_preimage", "update_postimage"}
    # txn idempotency state deliberately does NOT carry
    assert cl._replay_state()["txns"] == {}


def test_clone_requires_absolute_paths_reader_feature(spark, tmp_path, monkeypatch):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    state = cl._replay_state()
    assert "absolutePaths" in state["readerFeatures"]
    # a reader without the feature must refuse, not resolve keys
    # under the wrong root and read nothing
    import hz_csv2parquet_spark.sources.txlog as txlog_mod

    monkeypatch.setattr(
        txlog_mod,
        "SUPPORTED_READER_FEATURES",
        SUPPORTED_READER_FEATURES - {"absolutePaths"},
    )
    with pytest.raises(TableFeatureError, match="absolutePaths"):
        TxTable(spark, str(tmp_path / "cl")).snapshot()


def test_clone_survives_checkpoint_roundtrip(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    # drive the clone past a checkpoint so replay seeds from parquet
    t = TxTable(spark, str(tmp_path / "cl"), checkpoint_interval=2)
    for i in range(4):
        t.append(
            spark.range(200 + i, 201 + i).selectExpr(
                "id", "id % 5 as grp", "cast(id * 1.5 as double) as val"
            )
        )
    fresh = TxTable(spark, str(tmp_path / "cl"))
    fresh.log_reads = 0
    assert _ids(fresh) == list(range(100)) + [200, 201, 202, 203]
    assert fresh.log_reads <= 3, "checkpoint must seed the replay"
    # absPath survived the checkpoint's extra-column spill
    assert any(
        a.get("absPath") for a in fresh._replay_state()["adds"].values()
    )


def test_clone_restore_back_to_reference_state(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    cl.delete_where("id < 50")
    assert _ids(cl) == list(range(50, 100))
    cl.restore(0)
    assert _ids(cl) == list(range(100))
    # restored adds resolve absolutely again
    assert any(f.startswith(str(tmp_path / "src")) for f in cl.files())


def test_clone_vacuum_never_touches_source(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    cl.compact()  # clone now owns local files; the references died
    before = _src_files(str(tmp_path / "src"))
    cl.vacuum(retention_seconds=0)
    assert _src_files(str(tmp_path / "src")) == before
    assert _ids(cl) == list(range(100))


def test_source_vacuum_breaks_clone_loudly(spark, tmp_path):
    # the documented Delta shared-fate hazard: reclaiming source
    # files a clone references fails the clone's reads LOUDLY
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    v = src.delete_where("id >= 0")  # source drops all content
    assert v >= 1
    src.vacuum(retention_seconds=0)
    with pytest.raises(Exception):
        cl.snapshot().collect()


def test_clone_pruning_uses_cloned_stats(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    hit, miss = cl.pruned_files("id", 1_000, 2_000)
    assert len(hit) + len(miss) == len(cl.files())
    assert miss, "cloned footer stats must keep data skipping alive"


def test_clone_dsv2_batch_and_stream_reads(spark, tmp_path):
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    src = _mk_src(spark, str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    got = spark.read.format("hz_txlog").load(str(tmp_path / "cl"))
    assert got.count() == 100
    assert sorted(r["id"] for r in got.select("id").collect()) == list(range(100))
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("hz_txlog")
        .load(str(tmp_path / "cl"))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 100


def test_clone_lineage_in_commit_info(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    src.clone(str(tmp_path / "cl"))
    log = json.load(open(str(tmp_path / "cl" / "_txlog" / "00000000.json")))
    info = next(a["commitInfo"] for a in log if "commitInfo" in a)
    assert info["operation"] == "CLONE"
    assert info["sourcePath"] == os.path.abspath(str(tmp_path / "src"))
    assert info["sourceVersion"] == 0


# ---------------- DEEP CLONE (round 12) ----------------


def test_deep_clone_copies_files_and_shares_no_fate(spark, tmp_path):
    import shutil

    src = _mk_src(spark, str(tmp_path / "src"), deletion_vectors=True)
    src.delete_where("id < 10")  # dv sidecar must copy too
    cl = src.clone(str(tmp_path / "cl"), deep=True)
    # fully local: every file under the clone root, no absPath, no
    # absolutePaths reader feature
    assert all(f.startswith(str(tmp_path / "cl")) for f in cl.files())
    state = cl._replay_state()
    assert not any(a.get("absPath") for a in state["adds"].values())
    assert "absolutePaths" not in state["readerFeatures"]
    assert _ids(cl) == _ids(src) == list(range(10, 100))
    # no shared fate: destroy the source entirely; the clone still reads
    shutil.rmtree(str(tmp_path / "src"))
    assert _ids(cl) == list(range(10, 100))
    # and clone DML never touched the (now gone) source before that
    assert cl.partition_columns() == ["grp"]


def test_deep_clone_carries_bloom_sidecars(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    src.index_bloom("id")
    cl = src.clone(str(tmp_path / "cl"), deep=True)
    state = cl._replay_state()
    blooms = [a.get("bloom") for a in state["adds"].values()]
    assert all(b for b in blooms)
    for b in blooms:
        assert os.path.exists(os.path.join(str(tmp_path / "cl"), b["path"]))
    # the copied sidecars actually prune: a miss probe skips all files
    kept = cl._bloom_prune(cl.files(), state, "id = 100000")
    assert kept == []


def test_deep_clone_of_shallow_clone_localizes_original_bytes(spark, tmp_path):
    import shutil

    src = _mk_src(spark, str(tmp_path / "src"))
    sh = src.clone(str(tmp_path / "sh"))
    dp = sh.clone(str(tmp_path / "dp"), deep=True)
    shutil.rmtree(str(tmp_path / "src"))
    shutil.rmtree(str(tmp_path / "sh"))
    assert _ids(dp) == list(range(100))


def test_deep_clone_time_travel_and_lineage(spark, tmp_path):
    src = _mk_src(spark, str(tmp_path / "src"))
    src.append(
        spark.range(100, 150).selectExpr(
            "id", "id % 5 as grp", "cast(id as double) as val"
        )
    )
    old = src.clone(str(tmp_path / "old"), version=0, deep=True)
    assert old.snapshot().count() == 100
    log = json.load(open(str(tmp_path / "old" / "_txlog" / "00000000.json")))
    info = next(a["commitInfo"] for a in log if "commitInfo" in a)
    assert info["deep"] is True and info["sourceVersion"] == 0


def test_cli_deep_clone(spark, tmp_path):
    from hz_csv2parquet_spark.cli import main

    src = tmp_path / "t.csv"
    src.write_text("k,v\n1,10\n2,20\n3,30\n")
    tbl = str(tmp_path / "tbl")
    assert main(["table", "create", tbl, "--src", str(src), "--stat-cols", "k"]) == 0
    dest = str(tmp_path / "deep")
    assert main(["table", "clone", tbl, "--dest", dest, "--deep"]) == 0
    cl = TxTable(spark, dest)
    assert all(f.startswith(dest) for f in cl.files())
    assert cl.snapshot().count() == 3


def test_clone_drops_bloom_refs_shallow_copies_them_deep_of_shallow(spark, tmp_path):
    """Bloom sidecars resolve table-relative only: a shallow clone
    cannot serve the source's, so the entries are dropped (absent
    bloom = cannot skip, always sound) — and a deep clone OF that
    shallow clone must not crash copying nonexistent sidecars
    (round-12 review)."""
    src = _mk_src(spark, str(tmp_path / "src"))
    src.index_bloom("id")
    sh = src.clone(str(tmp_path / "sh"))
    state = sh._replay_state()
    assert not any(a.get("bloom") for a in state["adds"].values())
    assert _ids(sh) == list(range(100))
    dp = sh.clone(str(tmp_path / "dp"), deep=True)  # must not raise
    assert _ids(dp) == list(range(100))
    # deep clone of the ORIGINAL still carries working sidecars
    dp2 = src.clone(str(tmp_path / "dp2"), deep=True)
    st2 = dp2._replay_state()
    assert all(a.get("bloom") for a in st2["adds"].values())
