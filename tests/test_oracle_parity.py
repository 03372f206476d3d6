"""Every catalog query vs its DuckDB oracle — the driver's t2 gate,
run locally at sf0.001 (point HZ_PARITY_SF_DIR at the sf0.01 fixture
directory for the full-size check)."""

from __future__ import annotations

import os

import pytest

from hz_csv2parquet_spark.queries import REGISTRY

from .oracle_utils import compare, duck_con

ORACLE_SF_DIR = os.environ.get("HZ_PARITY_SF_DIR", "/root/testdata/sf0.001")

_oracled = [name for name, q in REGISTRY.items() if q.sql is not None]


@pytest.fixture(scope="module")
def con():
    return duck_con(ORACLE_SF_DIR)


@pytest.mark.parametrize("name", _oracled)
def test_query_matches_oracle(spark, con, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, ORACLE_SF_DIR).toPandas()
    oracle_pdf = con.sql(q.sql).df()
    compare(spark_pdf, oracle_pdf, name)


def test_process_memory_mappings_bounded():
    """Tripwire for the round-6 root cause of the 'intermittent OOM'
    parity flakes: a DuckDB oracle whose CTEs inline combinatorially
    (the pre-fix MMR oracle added ~53k mappings per run) marches the
    process toward vm.max_map_count (65530), after which EVERY
    later allocation in the process dies with bad_alloc. Running
    after the full parametrized parity sweep, the map count must sit
    far below the kernel limit; a future oracle reintroducing the
    blowup fails here with a number, not as a random OOM three tests
    later."""
    import os

    maps_file = f"/proc/{os.getpid()}/maps"
    if not os.path.exists(maps_file):
        return  # non-Linux
    n = sum(1 for _ in open(maps_file))
    assert n < 30_000, (
        f"{n} memory mappings after the parity sweep (kernel limit 65530) — "
        "some oracle is exploding allocations; bisect with a per-query "
        "/proc/self/maps diff and MATERIALIZE its repeated CTEs"
    )


def test_all_queries_return_rows(spark):
    """Every catalog query must be non-trivially exercised by the
    fixtures — an empty result makes its oracle hash check vacuous."""
    for name, q in REGISTRY.items():
        if q.streaming:
            continue  # covered by tests/test_streaming.py
        n = q.fn(spark, ORACLE_SF_DIR).count()
        assert n > 0, f"{name} returned 0 rows — oracle check would be vacuous"
