"""Generated columns (TxTable.create(generated=...)): Delta's
``GENERATED ALWAYS AS`` re-expressed on the txlog.

Pins the write contract on every path — omit→compute, supply→verify,
UPDATE recompute after assignments, MERGE (incl. a custom resolver),
the DSv2 sink's DuckDB twin — plus the DDL pins (sources immovable,
the generated column itself rename/droppable), the ``generatedColumns``
WRITER-feature gate, checkpoint round-trip, and clone carry-over.
The reference has no table layer at all (hz_csv2parquet writes flat
parquet once, csv2parquet.py:1-80); this is §2-beyond surface."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hz_csv2parquet_spark.sources.txlog import (
    SUPPORTED_WRITER_FEATURES,
    TableFeatureError,
    TxTable,
)

GEN_DATE = "CAST(CAST(ts / 1000 AS TIMESTAMP) AS DATE)"


def _frame(spark, n=12, shift=0):
    return spark.range(n).select(
        (F.col("id") + shift).alias("event_id"),
        (F.col("id") * 43_200_000 + 1_700_000_000_000).alias("ts"),
        (F.col("id") % 3).cast("double").alias("value"),
    )


def _mk(spark, path, **kw):
    t = TxTable(spark, str(path), stat_cols=["event_id"], **kw)
    t.create(
        _frame(spark),
        partition_by=["event_date"],
        generated={"event_date": GEN_DATE},
    )
    return t


def test_create_computes_and_partitions(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    snap = t.snapshot()
    assert "event_date" in snap.columns
    assert t.partition_columns() == ["event_date"]
    assert t.generated_columns() == {"event_date": GEN_DATE}
    assert snap.filter(f"event_date <> {GEN_DATE}").count() == 0
    # hive layout on the generated column
    assert any("event_date=" in p for p in t.files())
    # the writer feature is committed
    assert "generatedColumns" in t._replay_state()["writerFeatures"]


def test_append_omitted_is_computed(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.append(_frame(spark, shift=100))
    snap = t.snapshot()
    assert snap.count() == 24
    assert snap.filter(f"event_date <> {GEN_DATE}").count() == 0


def test_append_supplied_correct_passes_wrong_refused(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    good = _frame(spark, shift=200).withColumn("event_date", F.expr(GEN_DATE))
    t.append(good)
    assert t.snapshot().count() == 24
    bad = _frame(spark, shift=300).withColumn(
        "event_date", F.lit("1999-01-01").cast("date")
    )
    with pytest.raises(ValueError, match="generated column 'event_date'"):
        t.append(bad)
    assert t.snapshot().count() == 24  # nothing committed


def test_update_recomputes_including_partition_move(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    old = t.snapshot().filter("event_id = 0").collect()[0]
    t.update_where("event_id = 0", {"ts": "ts + 86400000"})
    row = t.snapshot().filter("event_id = 0").collect()[0]
    assert row.ts == old.ts + 86_400_000
    assert (row.event_date - old.event_date).days == 1  # moved partition
    assert t.snapshot().filter(f"event_date <> {GEN_DATE}").count() == 0


def test_update_refuses_set_on_generated(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="cannot SET generated"):
        t.update_where("event_id = 1", {"event_date": "DATE '2000-01-01'"})


def test_merge_computes_on_insert_and_update(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    batch = _frame(spark, n=4, shift=10).withColumn("value", F.lit(9.0))
    t.merge_upsert(batch, "event_id")  # ids 10,11 update; 12,13 insert
    snap = t.snapshot()
    assert snap.count() == 14
    assert snap.filter(f"event_date <> {GEN_DATE}").count() == 0
    assert snap.filter("value = 9.0").count() == 4


def test_merge_resolver_output_honors_generation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    batch = _frame(spark, n=2).withColumn("ts", F.col("ts") + 86_400_000)

    def resolve(matched, updates):
        return updates

    t.merge_upsert(batch, "event_id", resolve=resolve)
    snap = t.snapshot()
    assert snap.count() == 12
    assert snap.filter(f"event_date <> {GEN_DATE}").count() == 0


def test_narrowing_batch_computes_over_null_sources(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(4).selectExpr("id", "cast(id as double) as v")
    t.create(df, generated={"v2": "v * 2"})
    t.append(spark.range(4, 8).selectExpr("id"))  # no v: v2 = NULL * 2
    rows = {r.id: (r.v, r.v2) for r in t.snapshot().collect()}
    assert rows[1] == (1.0, 2.0)
    assert rows[5] == (None, None)


def test_create_rejects_nondeterministic_and_chained(spark, tmp_path):
    df = _frame(spark)
    with pytest.raises(ValueError, match="nondeterministic"):
        TxTable(spark, str(tmp_path / "a")).create(df, generated={"r": "rand()"})
    with pytest.raises(ValueError, match="references generated"):
        TxTable(spark, str(tmp_path / "b")).create(
            df, generated={"a": "value * 2", "b": "a + 1"}
        )
    with pytest.raises(ValueError, match="could not be evaluated"):
        TxTable(spark, str(tmp_path / "c")).create(
            df, generated={"g": "no_such_col + 1"}
        )


def test_rename_and_drop_of_sources_refused(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="generated column 'event_date'"):
        t.rename_column("ts", "tstamp")
    with pytest.raises(ValueError, match="generated column 'event_date'"):
        t.drop_column("ts")


def test_generated_column_itself_renames_and_drops(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.rename_column("event_date", "edate")
    assert t.generated_columns() == {"edate": GEN_DATE}
    assert t.partition_columns() == ["edate"]
    t.append(_frame(spark, n=2, shift=50))
    assert t.snapshot().filter(f"edate <> {GEN_DATE}").count() == 0
    # dropping retires the generation (partition column stays undroppable)
    t2 = TxTable(spark, str(tmp_path / "u"))
    t2.create(_frame(spark), generated={"event_date": GEN_DATE})
    t2.drop_column("event_date")
    assert t2.generated_columns() == {}
    t2.append(_frame(spark, n=2, shift=60))
    assert "event_date" not in t2.snapshot().columns


def test_writer_feature_gate_blocks_unaware_writers(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(_frame(spark))
    t.add_constraint("pos", "event_id >= 0")
    t.set_not_null("event_id")
    t._commit(
        [{"meta": {"writerFeatures": ["futureWriterFeature"]}}],
        t.version(),
        operation="TEST",
    )
    fresh = TxTable(spark, str(tmp_path / "t"))
    for verb in (
        lambda: fresh.append(_frame(spark, n=1)),
        lambda: fresh.delete_where("event_id = 0"),
        lambda: fresh.update_where("event_id = 0", {"value": "1.0"}),
        lambda: fresh.compact(),
        lambda: fresh.set_properties(changeDataFeed=True),
        lambda: fresh.rename_column("value", "v2"),
        lambda: fresh.drop_constraint("pos"),
        lambda: fresh.drop_not_null("event_id"),
    ):
        with pytest.raises(TableFeatureError, match="writer features"):
            verb()
    # reads stay legal: the data is self-describing
    assert fresh.snapshot().count() == 12
    assert "futureWriterFeature" not in SUPPORTED_WRITER_FEATURES


def test_state_round_trips_through_checkpoint(spark, tmp_path):
    t = TxTable(
        spark, str(tmp_path / "t"), stat_cols=["event_id"], checkpoint_interval=2
    )
    t.create(_frame(spark), generated={"event_date": GEN_DATE})
    for s in range(1, 4):
        t.append(_frame(spark, n=2, shift=100 * s))
    assert t._checkpoint_versions()  # a checkpoint exists
    fresh = TxTable(spark, str(tmp_path / "t"))
    state = fresh._replay_state()
    assert state["generated"] == {"event_date": GEN_DATE}
    assert "generatedColumns" in state["writerFeatures"]
    fresh.append(_frame(spark, n=2, shift=999))
    assert fresh.snapshot().filter(f"event_date <> {GEN_DATE}").count() == 0


def test_clone_carries_generation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    c = t.clone(str(tmp_path / "c"))
    assert c.generated_columns() == {"event_date": GEN_DATE}
    c.append(_frame(spark, n=2, shift=70))
    assert c.snapshot().filter(f"event_date <> {GEN_DATE}").count() == 0
    assert "generatedColumns" in c._replay_state()["writerFeatures"]


def test_cdf_feed_carries_generated_values(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), change_data=True)
    t.create(
        _frame(spark),
        partition_by=["event_date"],
        generated={"event_date": GEN_DATE},
    )
    t.update_where("event_id = 3", {"ts": "ts + 86400000"})
    # (from_version is exclusive: changes(0) walks commit v1, the UPDATE)
    feed = t.changes(0).filter("_change_type like 'update_%'")
    rows = {r._change_type: r for r in feed.collect()}
    pre, post = rows["update_preimage"], rows["update_postimage"]
    assert post.ts == pre.ts + 86_400_000
    assert post.event_date != pre.event_date


# ---------------- DSv2 sink twin ----------------


@pytest.fixture()
def sink_table(spark, tmp_path):
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "s"), stat_cols=["event_id"])
    df = _frame(spark).withColumn("x", (F.col("event_id") % 4).cast("int"))
    t.create(df, partition_by=["bucket"], generated={"bucket": "abs(x - 2)"})
    return t


def test_sink_computes_generated_subset_expr(spark, sink_table):
    df = _frame(spark, shift=100).withColumn(
        "x", (F.col("event_id") % 4).cast("int")
    )
    df.write.format("hz_txlog").mode("append").save(sink_table.path)
    snap = sink_table.snapshot()
    assert snap.count() == 24
    assert snap.filter("bucket <> abs(x - 2)").count() == 0


def test_sink_verifies_supplied_generated(spark, sink_table):
    base = _frame(spark, shift=200).withColumn(
        "x", (F.col("event_id") % 4).cast("int")
    )
    base.withColumn("bucket", F.expr("abs(x - 2)")).write.format(
        "hz_txlog"
    ).mode("append").save(sink_table.path)
    assert sink_table.snapshot().count() == 24
    with pytest.raises(Exception, match="generated column"):
        base.withColumn("bucket", F.lit(99)).write.format("hz_txlog").mode(
            "append"
        ).save(sink_table.path)
    assert sink_table.snapshot().count() == 24


def test_sink_refuses_non_subset_generation_at_construction(spark, tmp_path):
    from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    t = TxTable(spark, str(tmp_path / "t"))
    t.create(_frame(spark), generated={"event_date": GEN_DATE})
    with pytest.raises(Exception, match="sink-compatible|write via TxTable"):
        _frame(spark, shift=10).write.format("hz_txlog").mode("append").save(
            t.path
        )
    # TxTable writes still work — the gate is sink-dialect-scoped
    t.append(_frame(spark, shift=10))
    assert t.snapshot().count() == 24


def test_sink_generated_under_column_mapping(spark, sink_table):
    sink_table.rename_column("value", "amount")
    df = (
        _frame(spark, shift=300)
        .withColumnRenamed("value", "amount")
        .withColumn("x", (F.col("event_id") % 4).cast("int"))
    )
    df.write.format("hz_txlog").mode("append").save(sink_table.path)
    snap = sink_table.snapshot()
    assert snap.count() == 24
    assert snap.filter("bucket <> abs(x - 2)").count() == 0
    # hive dirs carry the PHYSICAL partition name, values stay typed
    # (x = event_id % 4 → abs(x-2)=2 on 3 rows per 12-row frame)
    assert snap.filter("bucket = 2").count() == 6


def test_restore_past_rename_rekeys_generation(spark, tmp_path):
    """RESTORE past a rename of the generated column itself: the
    generation entry re-keys back with the schema, so later writes
    keep computing it (round-12 restore metadata-rollback fix)."""
    from pyspark.sql import functions as F

    t = TxTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.range(4).selectExpr("id as k"),
        generated={"dbl": "k * 2"},
    )
    t.rename_column("dbl", "twice")  # entry re-keys to 'twice'
    assert t.generated_columns() == {"twice": "k * 2"}
    t.restore(0)
    assert t.generated_columns() == {"dbl": "k * 2"}
    t.append(spark.range(10, 12).selectExpr("id as k"))
    rows = {r.k: r.dbl for r in t.snapshot().collect()}
    assert rows[10] == 20 and rows[11] == 22
