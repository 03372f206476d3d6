"""Pin the driver fixture schemas as a pytest invariant.

Round 4 post-mortem: the driver regenerated the fixtures with
``events.ts`` as parquet ``timestamp[us]`` while the readers still
assumed raw epoch-nanos, silently breaking 14 time-based queries —
caught only by the driver's oracle, not by pytest. These tests make
the next silent fixture regeneration fail HERE first:

- the parquet footer dtypes of all 10 tables must match one of the
  encodings the readers handle (for ``events.ts``: a native
  timestamp unit OR nanos/raw-int64 — both branches of
  ``tables.events_ts_is_native``);
- the DECODED ``events.ts`` must land in a sane wall-clock range
  (a unit mix-up is off by 10^3/10^6, never subtle).

Footer checks are pure pyarrow metadata reads — no Spark session.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyarrow.types as pat
import pytest

from tests.conftest import SF_DIR, SF_DIR_ORACLE

# table -> {column: predicate over the arrow type}. Only the columns
# the engine's readers/queries depend on are pinned (a driver adding
# NEW columns is fine; changing the type of a depended-on one is not).
_PINS = {
    "region": {"r_regionkey": pat.is_integer, "r_name": pat.is_string},
    "nation": {
        "n_nationkey": pat.is_integer,
        "n_regionkey": pat.is_integer,
        "n_name": pat.is_string,
    },
    "customer": {
        "c_custkey": pat.is_integer,
        "c_nationkey": pat.is_integer,
        "c_acctbal": pat.is_floating,
        "c_mktsegment": pat.is_string,
    },
    "supplier": {"s_suppkey": pat.is_integer, "s_nationkey": pat.is_integer},
    "part": {"p_partkey": pat.is_integer, "p_brand": pat.is_string},
    "orders": {
        "o_orderkey": pat.is_integer,
        "o_custkey": pat.is_integer,
        "o_totalprice": pat.is_floating,
        "o_orderdate": lambda t: pat.is_timestamp(t) or pat.is_date(t),
    },
    "lineitem": {
        "l_orderkey": pat.is_integer,
        "l_partkey": pat.is_integer,
        "l_suppkey": pat.is_integer,
        "l_quantity": lambda t: pat.is_floating(t) or pat.is_integer(t),
        "l_extendedprice": pat.is_floating,
        "l_discount": pat.is_floating,
        "l_shipdate": lambda t: pat.is_timestamp(t) or pat.is_date(t),
        "l_returnflag": pat.is_string,
        "l_linestatus": pat.is_string,
    },
    "events": {
        "event_id": pat.is_integer,
        # either encoding the reader probe handles
        "ts": lambda t: pat.is_timestamp(t) or pat.is_integer(t),
        "user_id": pat.is_integer,
        "event_type": pat.is_string,
        "value": pat.is_floating,
        "props": pat.is_string,
    },
    "documents": {
        "doc_id": pat.is_integer,
        "source": pat.is_string,
        "lang": pat.is_string,
        "text": pat.is_string,
    },
    "embeddings": {
        "vec_id": pat.is_integer,
        "label": pat.is_integer,
        "embedding": lambda t: (pat.is_list(t) or pat.is_fixed_size_list(t))
        and pat.is_floating(t.value_type),
    },
}


@pytest.mark.parametrize("sf", [SF_DIR, SF_DIR_ORACLE])
@pytest.mark.parametrize("name", sorted(_PINS))
def test_fixture_footer_dtypes(sf, name):
    path = os.path.join(sf, f"{name}.parquet")
    schema = pq.ParquetFile(path).schema_arrow
    for col, pred in _PINS[name].items():
        assert col in schema.names, f"{name}.{col} missing from fixture at {sf}"
        t = schema.field(col).type
        assert pred(t), f"{name}.{col} has unexpected arrow type {t} at {sf}"


def test_events_ts_decodes_to_sane_wallclock(spark):
    """The decoded event times must be modern wall-clock — a unit
    mix-up (ns read as us, us read as ns) lands in 1970 or year
    ~56000, never nearby. Bound: 2000-01-01 .. 2100-01-01."""
    from pyspark.sql import functions as F

    from hz_csv2parquet_spark.tables import table

    lo, hi = 946_684_800_000, 4_102_444_800_000  # 2000..2100 epoch-ms
    r = (
        table(spark, SF_DIR, "events")
        .agg(F.min(F.unix_millis("ts")).alias("lo"), F.max(F.unix_millis("ts")).alias("hi"))
        .collect()[0]
    )
    assert lo < r.lo <= r.hi < hi, f"events.ts decoded outside sane range: {r}"


def test_events_ts_probe_handles_both_encodings(tmp_path):
    """The footer probe must classify a native-micros file as native
    and a raw-int64 file as not (→ nanos decode branch)."""
    import pyarrow as pa

    from hz_csv2parquet_spark.tables import events_ts_is_native

    native = os.path.join(SF_DIR, "events.parquet")
    t = pq.ParquetFile(native).schema_arrow.field("ts").type
    expected_native = pat.is_timestamp(t) and t.unit != "ns"
    assert events_ts_is_native(native) == expected_native

    raw = tmp_path / "events.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.int64())}), str(raw)
    )
    assert events_ts_is_native(str(raw)) is False


def test_events_ts_probe_classifies_int96_as_native(spark, tmp_path):
    """Spark's legacy INT96 timestamp encoding surfaces as
    timestamp[ns] in the arrow schema but can only be read natively —
    the probe must inspect the physical type, not just the unit."""
    import datetime

    from hz_csv2parquet_spark.tables import events_ts_is_native, read_events

    p = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12, 0, 0), 7, "x", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert events_ts_is_native(p) is True
    row = read_events(spark, p).collect()[0]
    assert row.ts.year == 2024


def test_table_schema_follows_a_rewrite_at_the_same_path(spark, tmp_path):
    """The schema cache is keyed on the file's mtime as well as its
    path: a table rewritten in place with a new schema is read with
    the new schema, not the cached one."""
    import pyarrow as pa

    from hz_csv2parquet_spark.tables import table

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64())}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([2], pa.int64()), "r_name": ["x"]}), path
    )
    got = table(spark, str(tmp_path), "region")
    assert got.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in got.collect()] == [(2, "x")]
