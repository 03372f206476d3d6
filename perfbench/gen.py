"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``seed`` argument (numpy's
PCG64 via ``default_rng``), so the same seed always yields
byte-identical inputs. The engine never sees the seed: it only reads
the files written here.

- :func:`star_schema` writes the ten catalog tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) in the
  shape the catalog queries expect: one parquet file per table, same
  column names, types and value domains as the fixture family the
  catalog is verified on.
- :func:`geo_points` / :func:`country_grid` write the paper's geo CSV
  input and its (lat_bin, lon_bin) -> country lookup.
- :func:`txlog_script` draws the DML verb script of the txlog
  workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark stream table query join filter group agg sort scan "
    "hash key value row column part line order customer batch window merge "
    "vector fast slow big small"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path: str, cols: dict) -> int:
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, base_us: int, span: int, n: int) -> pa.Array:
    us = base_us + rng.integers(0, span, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, choices, n: int, p=None) -> list:
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)].tolist()


def _documents(rng, n: int) -> dict:
    """``n`` documents of 10-100 words; 5% are an earlier document
    plus a trailing ``dup`` token (near-duplicates for MinHash/SimHash)
    and a few are exact copies (for exact dedup)."""
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS, dtype=object)
    words = vocab[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(words[at : at + k]))
        at += k
    near = rng.random(n) < 0.05
    exact = rng.random(n) < 0.003
    for i in range(1, n):
        if near[i] or exact[i]:
            src = texts[int(rng.integers(0, i))]
            texts[i] = src if exact[i] and not near[i] else src + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf`` under
    ``out_dir``; returns {table: rows}. Row counts follow the fixture
    family: lineitem 6M x sf, orders 1.5M x sf, customer 150k x sf,
    events 1M x sf, documents 50k x sf and embeddings 20k x sf, with at
    least 500 of each of the last two."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, _EPOCH_1995, 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2499, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, cols in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


#: geo grid: one lookup cell is LOOKUP_DEG degrees on a side; points
#: fall in a lat/lon box this many cells wide so the lookup is small
#: (a broadcast) and ~1/8 of cells are absent (the "No country" path).
LOOKUP_DEG = 0.5
GEO_BOX = (40.0, 48.0, -5.0, 11.0)  # lat_lo, lat_hi, lon_lo, lon_hi


def geo_points(out_dir: str, rows: int, files: int, seed: int) -> int:
    """Write ``rows`` geo points as ``files`` CSV files
    (``Latitude, Longitude, Data, station, quality``); returns bytes.
    About 0.5% of rows are out of the [-90, 90) x [-180, 180) range,
    which the aggregation must drop."""
    import pyarrow.csv as pcsv

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    lat_lo, lat_hi, lon_lo, lon_hi = GEO_BOX
    total = 0
    per = rows // files
    for f in range(files):
        lat = np.round(rng.uniform(lat_lo, lat_hi, per), 5)
        lon = np.round(rng.uniform(lon_lo, lon_hi, per), 5)
        lat[rng.random(per) < 0.005] += 200.0
        cols = {
            "Latitude": lat,
            "Longitude": lon,
            "Data": np.round(rng.gamma(2.0, 40.0, per), 3),
            "station": rng.integers(0, 5000, per),
            "quality": _pick(rng, ("good", "fair", "poor"), per),
        }
        path = os.path.join(out_dir, f"points_{f:02d}.csv")
        pcsv.write_csv(pa.table(cols), path, pcsv.WriteOptions(quoting_style="none"))
        total += os.path.getsize(path)
    return total


def country_grid(path: str, seed: int) -> int:
    """Write the (lat_bin, lon_bin, country) lookup over the geo box;
    ~1/8 of the cells are left out. Returns the row count."""
    rng = np.random.default_rng([seed, 4])
    lat_lo, lat_hi, lon_lo, lon_hi = GEO_BOX
    lat_bins = np.arange(int(lat_lo / LOOKUP_DEG), int(lat_hi / LOOKUP_DEG))
    lon_bins = np.arange(int(lon_lo / LOOKUP_DEG), int(lon_hi / LOOKUP_DEG))
    la, lo = (a.reshape(-1) for a in np.meshgrid(lat_bins, lon_bins, indexing="ij"))
    keep = rng.random(len(la)) >= 0.125
    countries = [f"C{c:02d}" for c in rng.integers(0, 30, int(keep.sum()))]
    _write(
        path,
        {"lat_bin": la[keep].astype(np.int64), "lon_bin": lo[keep].astype(np.int64), "country": countries},
    )
    return int(keep.sum())


def txlog_script(n_verbs: int, id_max: int, files: int, seed: int) -> list[dict]:
    """A seeded DML script over an events-derived table keyed by
    ``event_id`` in [0, id_max), stored as ``files`` equal key ranges.
    Each step is one verb with its arguments; appends and upsert
    inserts use fresh ids above ``id_max`` so the script never collides
    with itself. The seed places each verb's key range, inside one file
    that no other step touches, and draws its values; range widths and
    row counts are fixed, so every seed asks for the same work."""
    rng = np.random.default_rng([seed, 5])
    kinds = ("append", "delete", "update", "merge", "read")
    per_file = id_max // files
    width = per_file // 5
    homes = rng.permutation(files)
    steps, next_id = [], id_max
    for i in range(n_verbs):
        kind = kinds[i % len(kinds)] if i < len(kinds) else kinds[int(rng.integers(0, len(kinds)))]
        # half a width clear of the file's ends, which range
        # partitioning places only near the multiples of per_file
        lo = int(homes[i % files]) * per_file + int(rng.integers(width // 2, per_file - width - width // 2))
        step = {"verb": kind, "lo": lo, "hi": lo + width}
        if kind == "append":
            step["n"] = 1000
            step["first_id"] = next_id
            next_id += step["n"]
        elif kind == "update":
            step["delta"] = int(rng.integers(1, 100))
        elif kind == "merge":
            step["n_new"] = 250
            step["first_id"] = next_id
            step["delta"] = int(rng.integers(1, 100))
            next_id += step["n_new"]
        steps.append(step)
    return steps
