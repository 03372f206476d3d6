"""The benchmark workloads: inputs, one pass of operations, output checks.

Every workload is a closed loop with one client: each operation starts
when the previous one returns. A *pass* is the workload's fixed
operation sequence; its order and arguments come from the seed. A run
times one pass, the first in a fresh process; what every pass
produced is verified afterwards, untimed, against an independent oracle.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import numpy as np
import pandas as pd

import gen
from probe import catalyst_phases
from tests.oracle_utils import compare, duck_con

# --------------------------------------------------------------------------
# output comparison


def mismatch(got: pd.DataFrame, want: pd.DataFrame, name: str) -> str | None:
    """None when both frames hold the same rows (the catalog's oracle
    comparison: order-insensitive, exact values); else the reason."""
    try:
        compare(got, want, name)
    except AssertionError as e:
        return str(e)
    return None


def dlit(x: float) -> str:
    """A double literal both engines parse to the same IEEE value."""
    return f"CAST('{x!r}' AS DOUBLE)"


# --------------------------------------------------------------------------
# shared operation plumbing


class Pass:
    """Latencies and failures of the operations of one pass."""

    def __init__(self):
        self.latencies: list[float] = []
        self.failed: list[str] = []

    def run(self, rec, op: str, fn, expect=None) -> None:
        """Time ``fn()`` as one operation. An exception, or a result
        that differs from ``expect`` (compared after the clock stops),
        counts as a failure."""
        t0 = time.perf_counter()
        try:
            with rec.span("op", op):
                got = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed.append(op)
            return
        dt = time.perf_counter() - t0
        if expect is not None and got != expect:
            print(f"[perfbench] {op}: got {got!r}, expected {expect!r}", file=sys.stderr)
            self.failed.append(op)
            return
        self.latencies.append(dt)


def query_op(rec, op: str, build, sink, plan: bool):
    """Build a DataFrame, then execute it through ``sink`` and return
    what the sink returns — one span per layer. With ``plan`` (a sink
    that runs the DataFrame's own query execution), a traced run plans
    that execution in a span of its own first, so the execute span
    reuses the plan and nothing is planned twice. A write sink starts a
    new command execution, which plans inside the execute span."""
    with rec.layer("build", op):
        df = build()
    if rec.trace and plan:
        with rec.layer("plan", op) as s:
            s.update(catalyst_phases(df))
    with rec.layer("exec", op):
        return sink(df)


def broadcasts(df) -> int:
    """1 when the physical plan of ``df`` holds a BroadcastHashJoin."""
    return int("BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString())


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _parquet_parts(path: str) -> dict[str, int]:
    return {p: n for p, n in _dir_files(path).items() if p.endswith(".parquet")}


def layer_sums(spans: list[dict], cores: int) -> dict[str, float]:
    """build/plan/exec totals over one pass's spans."""
    out: dict[str, float] = {}
    for s in spans:
        name = s["name"]
        if name not in ("build", "plan", "exec"):
            continue
        out[f"{name}.s"] = out.get(f"{name}.s", 0.0) + s["end"] - s["start"]
        for k, v in s.get("counts", {}).items():
            out[f"{name}.{k}"] = out.get(f"{name}.{k}", 0) + v
        for k in ("analysis_ms", "optimization_ms", "planning_ms"):
            if k in s:
                out[f"plan.{k}"] = out.get(f"plan.{k}", 0.0) + s[k]
    if out.get("exec.s"):
        out["exec.core_busy_frac"] = out.get("exec.task_run_ms", 0) / (out["exec.s"] * 1000 * cores)
    return out


def _op_spans(spans: list[dict], prefix: str) -> list[dict]:
    return [s for s in spans if s["name"] == "op" and s["op"].startswith(prefix)]


def _children(spans: list[dict], parents: list[dict], name: str) -> list[dict]:
    ids = {p["id"] for p in parents}
    return [s for s in spans if s["parent"] in ids and s["name"] == name]


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


class Part:
    """One piece of a workload: its inputs (generate), its operations
    (ops, appended to a pass), the untimed check of their outputs
    (verify) and its own per-layer metrics (layers, after_pass)."""

    name = ""

    def __init__(self, seed: int, small: bool):
        self.seed = seed
        self.small = small
        self.data = ""

    def generate(self, data_dir: str) -> dict:
        raise NotImplementedError

    def ops(self, spark, rec, p: Pass, k: int, out_dir: str) -> None:
        raise NotImplementedError

    def verify(self, spark, out_dir: str) -> tuple[int, int]:
        """Compare what the pass into ``out_dir`` produced with an
        oracle; returns (checks attempted, checks failed)."""
        return 0, 0

    def layers(self, spans: list[dict]) -> dict[str, float]:
        return {}

    def after_pass(self, out_dir: str, rec) -> dict[str, float]:
        """Per-layer metrics read after a traced pass, outside its
        spans: what it left on disk and the plans it ran."""
        return {}


class Workload:
    """A named sequence of parts; one pass runs every part's operations
    in order, each part under its own subdirectory."""

    def __init__(self, name: str, parts: list[Part]):
        self.name = name
        self.parts = parts

    def generate(self, data_dir: str) -> dict:
        return {p.name: p.generate(os.path.join(data_dir, p.name)) for p in self.parts}

    def verify(self, spark, out_dir: str) -> tuple[int, int]:
        attempted = failed = 0
        for part in self.parts:
            a, f = part.verify(spark, os.path.join(out_dir, part.name))
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def run_pass(self, spark, rec, k: int, out_dir: str) -> Pass:
        p = Pass()
        for part in self.parts:
            part.ops(spark, rec, p, k, os.path.join(out_dir, part.name))
        return p

    def layers(self, spans: list[dict], cores: int) -> dict[str, float]:
        out = layer_sums(spans, cores)
        for part in self.parts:
            out.update(part.layers(spans))
        return out

    def after_pass(self, out_dir: str, rec) -> dict[str, float]:
        out: dict[str, float] = {}
        for part in self.parts:
            out.update(part.after_pass(os.path.join(out_dir, part.name), rec))
        return out


# --------------------------------------------------------------------------
# headline: the 20 headline catalog queries on generated star-schema tables


class Headline(Part):
    name = "headline"
    #: the tables are the same for every run: the seed orders the queries
    DATA_SEED = 42

    def __init__(self, seed: int, small: bool):
        super().__init__(seed, small)
        from hz_csv2parquet_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.names = sorted(n for n, q in REGISTRY.items() if q.headline and not q.streaming)
        self.sf = 0.001 if small else 0.01
        self.results: dict[str, dict[str, pd.DataFrame]] = {}

    def generate(self, data_dir: str) -> dict:
        """The tables, and each query's ``sql`` oracle run on them by
        DuckDB before the engine starts."""
        self.data = data_dir
        sizes = gen.star_schema(data_dir, self.sf, self.DATA_SEED)
        con = duck_con(data_dir)
        try:
            self.want = {n: con.sql(self.registry[n].sql).df() for n in self.names}
        finally:
            con.close()
        return sizes

    def order(self, k: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{self.seed}:{k}").shuffle(names)
        return names

    def ops(self, spark, rec, p: Pass, k: int, out_dir: str) -> None:
        from hz_csv2parquet_spark.tables import memo_clear

        got = self.results[out_dir] = {}
        for n in self.order(k):
            memo_clear()
            fn = self.registry[n].fn

            def op(n=n, fn=fn):
                got[n] = query_op(rec, n, lambda: fn(spark, self.data), lambda df: df.toPandas(), plan=True)

            p.run(rec, n, op)

    def verify(self, spark, out_dir: str) -> tuple[int, int]:
        """Each query's result, as the pass collected it, against its
        ``sql`` oracle run by DuckDB on the same files."""
        want = self.want
        got = self.results.pop(out_dir)
        failed = 0
        for n in self.names:
            why = mismatch(got[n], want[n], n) if n in got else "raised"
            if why:
                print(f"[perfbench] check {n}: {why}", file=sys.stderr)
                failed += 1
        return len(self.names), failed


# --------------------------------------------------------------------------
# geo_etl: the paper's convert -> binned aggregate -> enrich pipeline


class GeoEtl(Part):
    name = "geo_etl"
    GRID_M = 5000.0
    MODES = ("mean", "median", "max")

    def __init__(self, seed: int, small: bool):
        super().__init__(seed, small)
        self.rows = 20_000 if small else 100_000
        self.files = 2 if small else 4
        self.enriched = {}

    def generate(self, data_dir: str) -> dict:
        self.data = data_dir
        self.csv_dir = os.path.join(data_dir, "csv")
        self.lookup = os.path.join(data_dir, "country.parquet")
        self.csv_bytes = gen.geo_points(self.csv_dir, self.rows, self.files, self.seed)
        return {"rows": self.rows, "csv_bytes": self.csv_bytes, "lookup": gen.country_grid(self.lookup, self.seed)}

    def ops(self, spark, rec, p: Pass, k: int, out_dir: str) -> None:
        from pyspark.sql import functions as F

        from hz_csv2parquet_spark.operators.binned_agg import geo_aggregate
        from hz_csv2parquet_spark.operators.enrich import add_lookup_column
        from hz_csv2parquet_spark.sources.io import convert, read_table, write_table

        points = os.path.join(out_dir, "points.parquet")

        def do_convert():
            with rec.layer("io.convert", "convert"):
                convert(spark, self.csv_dir, dest=points)

        p.run(rec, "convert", do_convert)
        for mode in self.MODES:
            out = os.path.join(out_dir, f"agg_{mode}.parquet")
            p.run(
                rec,
                f"agg_{mode}",
                lambda: query_op(
                    rec,
                    f"agg_{mode}",
                    lambda: geo_aggregate(read_table(spark, points), self.GRID_M, mode),
                    lambda df: write_table(df, out, fmt="parquet"),
                    plan=False,
                ),
            )

        def enriched():
            df = read_table(spark, points)
            grid = gen.LOOKUP_DEG
            keyed = df.withColumn("lat_bin", F.floor(F.col("Latitude") / grid).cast("long")).withColumn(
                "lon_bin", F.floor(F.col("Longitude") / grid).cast("long")
            )
            lookup = read_table(spark, self.lookup)
            df = add_lookup_column(
                keyed, lookup, on=["lat_bin", "lon_bin"], value_col="country", out_col="Country"
            ).drop("lat_bin", "lon_bin")
            self.enriched[out_dir] = df
            return df

        out = os.path.join(out_dir, "enriched.parquet")
        p.run(
            rec,
            "enrich",
            lambda: query_op(rec, "enrich", enriched, lambda df: write_table(df, out, fmt="parquet"), plan=False),
        )

    def _oracle_sql(self, mode: str) -> str:
        from hz_csv2parquet_spark.operators.binned_agg import meters_to_degrees

        step = meters_to_degrees(self.GRID_M)
        val = f"Data / {dlit(10.0)}"
        agg = {
            "mean": f"CAST(CAST(SUM(CAST({val} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / COUNT(*)",
            "median": f"MEDIAN({val})",
            "max": f"MAX({val})",
        }[mode]

        def center(c: str, lo: float) -> str:
            return f"(FLOOR(({c} - {dlit(lo)}) / {dlit(step)}) + 0.5) * {dlit(step)} + {dlit(lo)}"

        return f"""
            SELECT {agg} AS Data, {center("Latitude", -90.0)} AS Latitude,
                   {center("Longitude", -180.0)} AS Longitude
            FROM pts
            WHERE Latitude >= -90.0 AND Latitude < 90.0
              AND Longitude >= -180.0 AND Longitude < 180.0
            GROUP BY FLOOR((Latitude - {dlit(-90.0)}) / {dlit(step)}),
                     FLOOR((Longitude - {dlit(-180.0)}) / {dlit(step)})
        """

    def verify(self, spark, out_dir: str) -> tuple[int, int]:
        import duckdb

        failed = 0
        self.enriched.pop(out_dir, None)
        con = duckdb.connect(config={"threads": 2})
        con.sql(
            f"CREATE VIEW pts AS SELECT * FROM read_csv('{self.csv_dir}/*.csv', header=true, "
            "columns={'Latitude': 'DOUBLE', 'Longitude': 'DOUBLE', 'Data': 'DOUBLE', "
            "'station': 'BIGINT', 'quality': 'VARCHAR'})"
        )
        con.sql(f"CREATE VIEW country AS SELECT * FROM read_parquet('{self.lookup}')")
        grid = dlit(gen.LOOKUP_DEG)

        def out(name: str) -> str:
            return f"read_parquet('{out_dir}/{name}.parquet/*.parquet')"

        # (engine output, oracle) pairs; DuckDB reads both sides
        checks = {f"agg_{m}": (f"SELECT * FROM {out('agg_' + m)}", self._oracle_sql(m)) for m in self.MODES}
        checks["enrich"] = (
            f"SELECT Country, COUNT(*) AS n, SUM(station) AS s FROM {out('enriched')} GROUP BY Country",
            f"""SELECT COALESCE(c.country, 'No country') AS Country, COUNT(*) AS n, SUM(station) AS s
                FROM pts LEFT JOIN country c
                  ON c.lat_bin = CAST(FLOOR(Latitude / {grid}) AS BIGINT)
                 AND c.lon_bin = CAST(FLOOR(Longitude / {grid}) AS BIGINT)
                GROUP BY 1""",
        )
        checks["convert"] = (
            f"SELECT COUNT(*) AS n, SUM(station) AS s FROM {out('points')}",
            "SELECT COUNT(*) AS n, SUM(station) AS s FROM pts",
        )
        for name, (got_sql, want_sql) in checks.items():
            try:
                why = mismatch(con.sql(got_sql).df(), con.sql(want_sql).df(), name)
            except duckdb.Error as e:  # an output the pass did not write
                why = str(e).splitlines()[0]
            if why:
                print(f"[perfbench] check {name}: {why}", file=sys.stderr)
                failed += 1
        con.close()
        return len(checks), failed

    def layers(self, spans: list[dict]) -> dict[str, float]:
        out = {}
        conv = [s for s in spans if s["name"] == "io.convert"]
        if conv:
            conv_s = _dur(conv)
            out["io.convert_s"] = conv_s
            out["io.convert_jobs"] = sum(s["counts"]["jobs"] for s in conv)
            out["io.convert_mb_per_s"] = self.csv_bytes / 1e6 / conv_s
        aggs = _op_spans(spans, "agg_")
        out["binned_agg.s"] = _dur(aggs)
        out["binned_agg.shuffle_bytes"] = sum(
            s["counts"]["shuffle_write_bytes"] for s in _children(spans, aggs, "exec")
        )
        out["enrich.s"] = _dur(_op_spans(spans, "enrich"))
        return out

    def after_pass(self, out_dir: str, rec) -> dict[str, float]:
        parts = _parquet_parts(os.path.join(out_dir, "points.parquet"))
        size = sum(parts.values())
        out = {
            "io.write_bytes": size,
            "io.write_files": len(parts),
            "io.stored_bytes_per_row": size / self.rows,
        }
        if out_dir in self.enriched:
            out["enrich.broadcast"] = broadcasts(self.enriched[out_dir])
        return out


# --------------------------------------------------------------------------
# txlog_dml: a seeded DML script on a copy-on-write and a deletion-vector table


class TxlogDml(Part):
    name = "txlog_dml"
    FILES = 8

    def __init__(self, seed: int, small: bool):
        super().__init__(seed, small)
        self.n = 5_000 if small else 40_000
        self.script = gen.txlog_script(5, self.n, self.FILES, seed)
        self._model()
        #: per pass (its output directory): the final tables and the
        #: files they held when created
        self.final: dict[str, list] = {}
        self.created: dict[str, dict] = {}

    def generate(self, data_dir: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.data = data_dir
        os.makedirs(data_dir, exist_ok=True)
        self.base = os.path.join(data_dir, "events.parquet")
        pq.write_table(
            pa.table(
                {
                    "event_id": np.arange(self.n, dtype=np.int64),
                    "event_type": np.asarray(gen.EVENT_TYPES, dtype=object)[self.types].tolist(),
                    "cents": self.cents0,
                }
            ),
            self.base,
        )
        return {"rows": self.n, "steps": len(self.script)}

    def _model(self) -> None:
        """Expected results of every step, from a plain Python model of
        the script: read (count, sum) per read step, live (count, sum)
        at the end, and the row count of ``changes(0)``."""
        rng = np.random.default_rng([self.seed, 6])
        self.types = rng.integers(0, len(gen.EVENT_TYPES), self.n)
        self.cents0 = rng.integers(0, 100_000, self.n)
        live = dict(zip(range(self.n), self.cents0.tolist()))
        self.expect_read: dict[int, tuple[int, int]] = {}
        self.updates: dict[int, pd.DataFrame] = {}
        changes = touched = 0
        for i, st in enumerate(self.script):
            ids = [j for j in range(st["lo"], st["hi"]) if j in live]
            if st["verb"] == "append":
                for j in range(st["first_id"], st["first_id"] + st["n"]):
                    live[j] = j % 997
                changes += st["n"]
                touched += st["n"]
            elif st["verb"] == "delete":
                for j in ids:
                    del live[j]
                changes += len(ids)
                touched += len(ids)
            elif st["verb"] == "update":
                for j in ids:
                    live[j] += st["delta"]
                changes += 2 * len(ids)
                touched += len(ids)
            elif st["verb"] == "merge":
                new = list(range(st["first_id"], st["first_id"] + st["n_new"]))
                rows = [(j, "merge", live[j] + st["delta"]) for j in ids] + [(j, "merge", j % 991) for j in new]
                self.updates[i] = pd.DataFrame(rows, columns=["event_id", "event_type", "cents"])
                for j, _, c in rows:
                    live[j] = c
                changes += 2 * len(ids) + len(new)
                touched += len(rows)
            else:
                self.expect_read[i] = (len(ids), sum(live[j] for j in ids))
        self.expect_live = (len(live), sum(live.values()))
        self.expect_changes = changes
        self.touched = touched

    def _pred(self, st: dict) -> str:
        return f"event_id >= {st['lo']} AND event_id < {st['hi']}"

    def _script(self, spark, rec, p: Pass, out_dir: str) -> list:
        from pyspark.sql import functions as F

        from hz_csv2parquet_spark.sources.txlog import TxTable
        from hz_csv2parquet_spark.sources.txlog_source import register_txlog_source

        register_txlog_source(spark)
        base = spark.read.parquet(self.base)
        tables = {}
        for kind in ("cow", "dv"):
            path = os.path.join(out_dir, kind)

            def create(path=path, kind=kind):
                t = TxTable(spark, path, stat_cols=["event_id"], deletion_vectors=kind == "dv")
                with rec.layer("txlog.create", kind):
                    t.create(base.repartitionByRange(self.FILES, "event_id").sortWithinPartitions("event_id"))
                tables[kind] = t

            p.run(rec, f"create_{kind}", create)
        if len(tables) < 2:
            return []
        self.created[out_dir] = {k: _dir_files(t.path) for k, t in tables.items()}
        for i, st in enumerate(self.script):
            verb = st["verb"]
            for kind, t in tables.items():
                op = f"{verb}{i}_{kind}"
                if rec.trace and verb != "append":
                    hit, miss = t.pruned_files("event_id", st["lo"], st["hi"] - 1)
                    rec.counts.setdefault("scanned", []).append((len(hit), len(hit) + len(miss)))
                before = set(t.files()) if rec.trace else None
                if verb == "append":
                    rows = spark.range(st["first_id"], st["first_id"] + st["n"]).select(
                        F.col("id").alias("event_id"),
                        F.lit("append").alias("event_type"),
                        (F.col("id") % 997).alias("cents"),
                    )
                    fn, expect = (lambda t=t, rows=rows: t.append(rows)), None
                elif verb == "delete":
                    fn, expect = (lambda t=t, st=st: t.delete_where(self._pred(st))), None
                elif verb == "update":
                    fn, expect = (
                        lambda t=t, st=st: t.update_where(self._pred(st), {"cents": f"cents + {st['delta']}"})
                    ), None
                elif verb == "merge":
                    upd = spark.createDataFrame(self.updates[i], "event_id long, event_type string, cents long")
                    fn, expect = (lambda t=t, upd=upd: t.merge_upsert(upd, "event_id")), None
                else:
                    expect = self.expect_read[i]
                    if kind == "cow":
                        fn = lambda t=t, st=st: self._agg(t.snapshot().filter(self._pred(st)))
                    else:
                        fn = lambda t=t, st=st: self._agg(
                            spark.read.format("hz_txlog").load(t.path).filter(self._pred(st))
                        )

                def step(fn=fn, verb=verb, kind=kind):
                    with rec.layer(f"txlog.{verb}", kind):
                        return fn()

                p.run(rec, op, step, expect)
                if before is not None:
                    after = set(t.files())
                    rec.counts["files_added"] = rec.counts.get("files_added", 0) + len(after - before)
                    rec.counts["files_removed"] = rec.counts.get("files_removed", 0) + len(before - after)

        def replay():
            with rec.layer("txlog.replay", "cow"):
                return self._agg(TxTable(spark, tables["cow"].path).snapshot())

        p.run(rec, "replay_cow", replay, self.expect_live)

        def changes():
            with rec.layer("txlog.changes", "cow"):
                return tables["cow"].changes(0).count()

        p.run(rec, "changes_cow", changes, self.expect_changes)
        return list(tables.values())

    @staticmethod
    def _agg(df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")).collect()[0]
        return (int(row["n"]), int(row["s"] or 0))

    def ops(self, spark, rec, p: Pass, k: int, out_dir: str) -> None:
        self.final[out_dir] = self._script(spark, rec, p, out_dir)

    def verify(self, spark, out_dir: str) -> tuple[int, int]:
        """The dv table's final state against the model (the cow
        table's is checked by the timed replay step)."""
        final = self.final.get(out_dir, [])
        if len(final) == 2 and self._agg(final[1].snapshot()) == self.expect_live:
            return 1, 0
        print("[perfbench] dv table final state differs from the model", file=sys.stderr)
        return 1, 1

    def layers(self, spans: list[dict]) -> dict[str, float]:
        out = {}
        for verb in ("append", "delete", "update", "merge", "read", "replay", "changes", "create"):
            ss = [s for s in spans if s["name"] == f"txlog.{verb}"]
            out[f"txlog.{verb}_s"] = _dur(ss)
            out[f"txlog.{verb}_jobs"] = sum(s["counts"]["jobs"] for s in ss)
        return out

    def after_pass(self, out_dir: str, rec) -> dict[str, float]:
        wrote = stored = 0
        for t in self.final.get(out_dir, []):
            files = _dir_files(t.path)
            wrote += sum(n for f, n in files.items() if f not in self.created[out_dir][os.path.basename(t.path)])
            stored += sum(files.values())
        scanned = rec.counts.get("scanned", [])
        return {
            "txlog.write_bytes_per_row": wrote / (2 * self.touched),
            "txlog.stored_bytes_per_row": stored / (2 * self.expect_live[0]),
            "txlog.files_scanned_frac": sum(a for a, _ in scanned) / max(1, sum(b for _, b in scanned)),
            "txlog.files_added": rec.counts.get("files_added", 0),
            "txlog.files_removed": rec.counts.get("files_removed", 0),
        }


#: workload name -> its parts, in pass order
WORKLOADS = {
    "headline": (Headline,),
    "etl_dml": (GeoEtl, TxlogDml),
}


def make(name: str, seed: int, small: bool) -> Workload:
    return Workload(name, [part(seed, small) for part in WORKLOADS[name]])
