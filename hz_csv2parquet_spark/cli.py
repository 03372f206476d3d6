"""CLI reproducing the reference's three tools (O4) on the Spark engine.

    python -m hz_csv2parquet_spark.cli convert <src> [dest] [--single-file]
    python -m hz_csv2parquet_spark.cli agg <glob> [suffix] [-m MODE] [-s METERS] [--collate] [--per-file]
    python -m hz_csv2parquet_spark.cli add-country <glob> [suffix] --lookup PATH [--grid-deg D]

Argv surfaces mirror the reference (csv2parquet.py:191-201,
agg.py:259-273, add_country.py:198-207): same positionals, same
defaults (suffix ``_geo_aggregated`` / ``_with_country``, mode
``median``, grid ``10`` meters, opt-in ``--collate``). Differences
are deliberate and documented:

- ``add-country`` enriches from a local lookup table (broadcast
  join, operators/enrich.py) instead of one OSM HTTP call per row —
  the reference's per-row network boundary does not survive
  distribution (SURVEY.md U1).
- per-file mode (O3) preserves the reference's 1:1 input→output file
  mapping; each output is a Spark directory-with-one-part (written
  ``coalesce(1)``), since distributed writers emit directories.
- the ``_x..csv`` double-dot bug (add_country.py:79) is not
  reproduced.
"""

from __future__ import annotations

import argparse
import glob as globmod
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.binned_agg import geo_aggregate
from .operators.enrich import add_lookup_column
from .sources.io import add_suffix_to_path, convert, read_table, write_table


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark(app="hz_cli")


def _expand(pattern: str) -> list[str]:
    files = sorted(globmod.glob(pattern, recursive=True))
    if not files:
        raise SystemExit(f"no input files match {pattern!r}")
    return files


def cmd_convert(args: argparse.Namespace) -> None:
    spark = _spark()
    if os.path.isdir(args.src):
        # per-file layout (O3): every CSV under src gets its own
        # parquet output, stem preserved (csv2parquet.py:63-79)
        files = _expand(os.path.join(args.src, "**", "*.csv"))
        dest_dir = args.dest or args.src.rstrip("/") + "_parquet"
        for f in files:
            out = os.path.join(dest_dir, os.path.splitext(os.path.basename(f))[0] + ".parquet")
            df = read_table(spark, f, fmt="csv")
            write_table(df.coalesce(1) if args.single_file else df, out, fmt="parquet")
            print(out)
    else:
        print(convert(spark, args.src, args.dest))


def _fmt_of(path: str) -> str:
    return "csv" if path.lower().endswith(".csv") else "parquet"


def cmd_agg(args: argparse.Namespace) -> None:
    spark = _spark()
    files = _expand(args.src)
    if args.collate:
        # one global aggregation over every matched file (agg.py:182-190)
        df = read_table(spark, files, fmt=_fmt_of(files[0]))
        out = add_suffix_to_path(files[0], args.suffix)
        out = os.path.splitext(out)[0] + ".parquet"  # agg always writes parquet (agg.py:172)
        write_table(geo_aggregate(df, args.size, args.mode), out, fmt="parquet")
        print(out)
        return
    for f in files:  # per-file independence (agg.py:164-172)
        df = read_table(spark, f, fmt=_fmt_of(f))
        out = os.path.splitext(add_suffix_to_path(f, args.suffix))[0] + ".parquet"
        res = geo_aggregate(df, args.size, args.mode)
        write_table(res.coalesce(1) if args.per_file else res, out, fmt="parquet")
        print(out)


def cmd_add_country(args: argparse.Namespace) -> None:
    spark = _spark()
    files = _expand(args.src)
    lookup = read_table(spark, args.lookup, fmt=_fmt_of(args.lookup))
    grid = float(args.grid_deg)
    for f in files:
        df = read_table(spark, f, fmt=_fmt_of(f))
        keyed = df.withColumn("lat_bin", F.floor(F.col("Latitude") / grid).cast("long")).withColumn(
            "lon_bin", F.floor(F.col("Longitude") / grid).cast("long")
        )
        enriched = add_lookup_column(
            keyed, lookup, on=["lat_bin", "lon_bin"], value_col="country", out_col="Country"
        ).drop("lat_bin", "lon_bin")
        out = add_suffix_to_path(f, args.suffix)
        write_table(enriched.coalesce(1), out, fmt=_fmt_of(f))
        print(out)


def cmd_curate(args: argparse.Namespace) -> None:
    """End-to-end training-data curation: exact dedup → quality gate →
    (optional) deterministic sample → shard assignment → partitioned
    parquet write. Every stage is one of the catalog operators; the
    whole pipeline is a single lazy plan — one read, one shuffle for
    the dedup, a narrow tail, `partitionBy(shard_id)` fan-out write."""
    spark = _spark()
    from .functions.text import normalize_text
    from .operators.repetition import repetition_stats
    from .operators.sampling import deterministic_sample, shard_assign

    df = read_table(spark, args.src, fmt=_fmt_of(args.src))
    id_col, text_col = args.id_col, args.text_col

    # exact dedup: keep the lowest-id representative of each text
    rep = F.min(F.col(id_col)).alias(id_col)
    keep = df.groupBy(F.md5(normalize_text(text_col)).alias("__h")).agg(rep).drop("__h")
    df = df.join(keep, id_col, "left_semi")

    if not args.no_quality:
        passing = repetition_stats(df, id_col, text_col).filter("passes_quality")
        df = df.join(passing.select(id_col), id_col, "left_semi")

    if args.rate < 1.0:
        df = deterministic_sample(df, id_col, args.rate, seed=args.seed)

    df = shard_assign(df, id_col, args.shards, seed=args.seed)
    write_table(df, args.dest, fmt="parquet", partition_by=["shard_id"])
    print(args.dest)


def cmd_sql(args: argparse.Namespace) -> None:
    """``sql`` verb (VERDICT r10 #8): ANSI-SQL front door over the
    fixture tables and any transaction-log tables — registers them as
    temp views and hands the statement to Catalyst. The engine is
    otherwise DataFrame-first; this is the two-dozen-line passthrough
    that makes it a queryable analytics engine from a shell."""
    import logging

    from .sources.txlog_source import register_txlog_source
    from .tables import TABLES, table as load_table

    spark = _spark()
    if args.sf_dir:
        for name in TABLES:
            if os.path.exists(os.path.join(args.sf_dir, f"{name}.parquet")):
                load_table(spark, args.sf_dir, name).createOrReplaceTempView(name)
    if args.table:
        # txlog views go through the DSv2 source, not snapshot(): the
        # reader pushes filters against the log's min/max stats, so a
        # selective WHERE prunes files before any scan is planned
        register_txlog_source(spark)
    tx_paths: dict[str, str] = {}
    for spec in args.table or []:
        name, sep, path = spec.partition("=")
        if not sep:
            raise SystemExit(f"--table takes name=path, got {spec!r}")
        if os.path.isdir(os.path.join(path, "_txlog")):
            spark.read.format("hz_txlog").load(path).createOrReplaceTempView(name)
        # a name may be registered BEFORE its table exists — that is
        # how `sql "CREATE TABLE t AS SELECT ..."` names its target
        # path (the temp view appears once the table does)
        tx_paths[name.lower()] = path
    # table-verb statements (UPDATE/DELETE/MERGE/OPTIMIZE/VACUUM/
    # DESCRIBE HISTORY/RESTORE/ALTER TABLE) route to the TxTable
    # verbs — Catalyst cannot execute DML against a Python data
    # source; everything else is handed to spark.sql untouched
    from . import sqlfront
    from .sources.txlog import TxTable

    def _resolve(name: str) -> TxTable:
        return TxTable(spark, tx_paths[name.lower()])

    try:
        routed = sqlfront.execute(spark, args.query, _resolve)
    except (sqlfront.SqlFrontDoorError, ValueError) as e:
        # grammar deviations AND verb-level refusals (bad column,
        # unknown constraint, ...) surface as a clean named error,
        # not a traceback
        raise SystemExit(f"sql: {e}")
    df = routed if routed is not None else spark.sql(args.query)
    if args.dest:
        write_table(df, args.dest, fmt=_fmt_of(args.dest))
        logging.getLogger("hz_csv2parquet_spark.cli").info(
            "wrote query result to %s", args.dest
        )
    else:
        rows = df.limit(args.limit).collect()
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))


def cmd_table(args: argparse.Namespace) -> None:
    """Maintenance surface for transaction-log tables
    (sources/txlog.py): create from an existing parquet/csv input,
    stats-pruned MERGE of an update batch (``--key``, composite via
    commas), show commit history, OPTIMIZE-style compaction, vacuum
    of unreferenced files (retention-guarded), snapshot export
    (optionally ``--as-of`` a historical version), the row-level
    change feed (``changes --from-version N`` — incremental
    consumption without re-reading the table), and copy-on-write
    ``delete --where`` (GDPR-erasure shape: only files containing
    matching rows are rewritten), and ``restore --to-version N``
    (rollback-as-commit: history preserved, no data rewritten). One
    verb per invocation, matching how a scheduler would drive table
    upkeep."""
    import json as jsonmod
    import logging

    from .sources.txlog import DEFAULT_VACUUM_RETENTION_S, TxTable

    # verb-specific required options — argparse keeps them optional
    # across verbs, so validate up front instead of crashing inside
    # read_table/write_table with a None path (ADVICE r6)
    if args.action == "create" and not args.src:
        raise SystemExit("table create requires --src")
    if args.action == "export" and not args.dest:
        raise SystemExit("table export requires --dest")
    if args.action == "merge" and not (args.src and args.key):
        raise SystemExit("table merge requires --src and --key")
    if args.action == "changes" and args.from_version is None:
        raise SystemExit("table changes requires --from-version")
    if args.action == "delete" and not args.where:
        raise SystemExit("table delete requires --where")
    if args.action == "update" and not (args.where and args.set):
        raise SystemExit("table update requires --where and --set")
    if args.action == "restore" and args.to_version is None:
        raise SystemExit("table restore requires --to-version")
    if args.action == "rename-column" and not (args.column and args.to_name):
        raise SystemExit("table rename-column requires --column and --to")
    if args.action == "drop-column" and not args.column:
        raise SystemExit("table drop-column requires --column")
    if args.retention_seconds is None:
        args.retention_seconds = DEFAULT_VACUUM_RETENTION_S

    log = logging.getLogger("hz_csv2parquet_spark.cli")
    spark = _spark()
    # no --stat-cols = auto (first-32-columns footer stats; [] would
    # mean explicitly none — the TxTable contract)
    t = TxTable(spark, args.table, stat_cols=args.stat_cols.split(",") if args.stat_cols else None)
    if args.action == "create":
        df = read_table(spark, args.src, fmt=_fmt_of(args.src))
        gen = {}
        for g in args.generated or []:
            col, sep, expr = g.partition("=")
            if not sep:
                raise SystemExit(f"--generated needs COL=EXPR, got {g!r}")
            gen[col.strip()] = expr.strip()
        ident = {}
        for spec in args.identity or []:
            col, sep, rest = spec.partition("=")
            entry = {}
            if sep:
                try:
                    start_s, _, step_s = rest.partition(",")
                    entry = {"start": int(start_s), "step": int(step_s or 1)}
                except ValueError:
                    raise SystemExit(
                        f"--identity needs COL or COL=START[,STEP], got {spec!r}"
                    )
            ident[col.strip()] = entry
        v = t.create(
            df,
            partition_by=args.partition_by.split(",") if args.partition_by else None,
            generated=gen or None,
            identity=ident or None,
        )
        log.info("created %s at version %d (%d files)", args.table, v, len(t.files()))
    elif args.action == "clone":
        if not args.dest:
            raise SystemExit("table clone requires --dest")
        if args.as_of is not None and args.as_of_timestamp is not None:
            raise SystemExit("pass --as-of OR --as-of-timestamp, not both")
        c = t.clone(
            args.dest,
            version=args.as_of,
            timestamp=args.as_of_timestamp,
            deep=args.deep,
        )
        log.info(
            "%s-cloned %s to %s at version %d (%d file%s)",
            "deep" if args.deep else "shallow",
            args.table,
            args.dest,
            c.version(),
            len(c.files()),
            " copy(ies)" if args.deep else " reference(s), zero bytes copied",
        )
    elif args.action == "history":
        for v in range(t.version() + 1):
            kinds = {}
            op = ""
            for a in t._read_commit(v):
                k = next(iter(a))
                if k == "commitInfo":
                    op = a["commitInfo"].get("operation", "")
                    continue
                kinds[k] = kinds.get(k, 0) + 1
            label = f" [{op}]" if op else ""
            print(
                f"v{v}{label}: " + ", ".join(f"{k}×{n}" for k, n in sorted(kinds.items()))
            )
    elif args.action == "compact":
        v = t.compact(
            target_files=args.target_files,
            layout_key=args.layout_key,
            zorder=args.zorder.split(",") if args.zorder else None,
            where=args.where,
            max_file_rows=args.max_file_rows,
        )
        log.info("compacted to %d file(s) at version %d", len(t.files()), v)
    elif args.action == "reorg-purge":
        before = set(t.files())
        v = t.reorg_purge(where=args.where)
        after = set(t.files())
        log.info(
            "purged soft-deleted state at version %s (%d file(s) "
            "rewritten, %d untouched) — run vacuum after the retention "
            "window to destroy the bytes",
            v,
            len(before - after),
            len(before & after),
        )
    elif args.action == "index-bloom":
        if not args.column:
            raise SystemExit("table index-bloom requires --column")
        v = t.index_bloom(args.column.split(","), where=args.where)
        log.info(
            "bloom-indexed %s at version %s (%d live file(s))",
            args.column,
            v,
            len(t.files()),
        )
    elif args.action == "set-properties":
        props = {}
        for kv in (args.properties or "").split(","):
            if not kv:
                continue
            k, sep, val = kv.partition("=")
            if not sep:
                raise SystemExit(f"--properties takes k=v pairs, got {kv!r}")
            props[k] = val.strip().lower() in ("1", "true", "yes")
        if not props:
            raise SystemExit("table set-properties requires --properties k=v[,k=v]")
        v = t.set_properties(**props)
        log.info("set %s at version %d", props, v)
    elif args.action == "merge":
        before = set(t.files())
        updates = read_table(spark, args.src, fmt=_fmt_of(args.src))
        # a scheduler-driven merge may race other writers: re-run the
        # transaction on a fresh snapshot rather than fail the job
        v = t.merge_upsert(updates, args.key.split(","), retries=3)
        after = set(t.files())
        log.info(
            "merged %s at version %s (%d file(s) rewritten, %d untouched)",
            args.src,
            v,
            len(before - after),
            len(before & after),
        )
    elif args.action == "delete":
        before = set(t.files())
        v = t.delete_where(args.where)
        after = set(t.files())
        log.info(
            "deleted rows matching %r at version %s (%d file(s) rewritten, %d untouched)",
            args.where,
            v,
            len(before - after),
            len(before & after),
        )
    elif args.action in ("add-constraint", "drop-constraint"):
        if not args.name:
            raise SystemExit(f"table {args.action} requires --name")
        if args.action == "add-constraint":
            if not args.check:
                raise SystemExit("table add-constraint requires --check")
            v = t.add_constraint(
                args.name, args.check, sink_enforceable=not args.spark_only
            )
            log.info(
                "added constraint %s CHECK (%s) at version %s",
                args.name,
                args.check,
                v,
            )
        else:
            v = t.drop_constraint(args.name)
            log.info("dropped constraint %s at version %s", args.name, v)
    elif args.action in ("set-not-null", "drop-not-null"):
        if not args.column:
            raise SystemExit(f"table {args.action} requires --column")
        if args.action == "set-not-null":
            # history judged from the logged null counts (O(files)
            # metadata); only uncounted legacy files get one probe
            v = t.set_not_null(args.column)
            log.info("column %s SET NOT NULL at version %s", args.column, v)
        else:
            v = t.drop_not_null(args.column)
            log.info("column %s DROP NOT NULL at version %s", args.column, v)
    elif args.action == "rename-column":
        v = t.rename_column(args.column, args.to_name)
        log.info(
            "renamed column %s to %s at version %s (metadata-only, zero "
            "data files rewritten)",
            args.column,
            args.to_name,
            v,
        )
    elif args.action == "drop-column":
        v = t.drop_column(args.column)
        log.info(
            "dropped column %s at version %s (metadata-only)", args.column, v
        )
    elif args.action == "convert":
        v = t.convert_in_place()
        log.info(
            "converted %s in place at version %s (%d file(s) adopted, zero rewritten)",
            args.table,
            v,
            len(t.files()),
        )
    elif args.action == "update":
        assigns = {}
        for s in args.set:
            col, _, expr = s.partition("=")
            if not _:
                raise SystemExit(f"--set needs col=expr, got {s!r}")
            assigns[col.strip()] = expr.strip()
        v = t.update_where(args.where, assigns)
        log.info(
            "updated rows matching %r with %s at version %s",
            args.where,
            assigns,
            v,
        )
    elif args.action == "restore":
        v = t.restore(args.to_version)
        log.info(
            "restored %s to version %d as new version %d",
            args.table,
            args.to_version,
            v,
        )
    elif args.action == "vacuum":
        n = t.vacuum(retention_seconds=args.retention_seconds, dry_run=args.dry_run)
        log.info(
            "%s %d unreferenced file(s)",
            "would vacuum" if args.dry_run else "vacuumed",
            n,
        )
    elif args.action == "refresh-view":
        # incremental materialized view: `args.table` is the SOURCE
        # table; --dest holds the view, advanced by O(changed rows)
        from .sources.ivm import IncrementalAggView

        if not args.dest or not args.group_by:
            raise SystemExit("table refresh-view requires --dest and --group-by")
        view = IncrementalAggView(
            t,
            args.dest,
            args.group_by.split(","),
            args.sum.split(",") if args.sum else None,
        )
        v = view.refresh()
        log.info(
            "view %s %s source version %d",
            args.dest,
            "already reflects" if v is None else "advanced to",
            view.last_applied(),
        )
    elif args.action == "fsck":
        missing = t.fsck_repair(dry_run=args.dry_run)
        log.info(
            "%s %d missing file reference(s)%s",
            "would repair" if args.dry_run else "repaired",
            len(missing),
            (": " + ", ".join(missing)) if missing else "",
        )
    elif args.action == "describe":
        state = t._replay_state()
        rows = sum(a.get("rows", 0) for a in state["adds"].values())
        print(f"version: {t.version()}")
        print(f"files: {len(state['adds'])}")
        print(f"rows: {rows}")
        print(f"size bytes: {t.detail()['sizeInBytes']}")
        stat_cols = sorted({c for a in state["adds"].values() for c in a.get("stats", {})})
        print(f"stat columns: {', '.join(stat_cols) if stat_cols else '(none)'}")
        pcols = state.get("partitionColumns") or []
        print(f"partition columns: {', '.join(pcols) if pcols else '(none)'}")
        for cname, cexpr in sorted((state.get("constraints") or {}).items()):
            print(f"constraint {cname}: CHECK ({cexpr})")
        for gname, gexpr in sorted((state.get("generated") or {}).items()):
            print(f"generated {gname}: ALWAYS AS ({gexpr})")
        for iname, ispec in sorted((state.get("identity") or {}).items()):
            print(
                f"identity {iname}: ALWAYS AS IDENTITY (START WITH "
                f"{ispec.get('start', 1)} INCREMENT BY {ispec.get('step', 1)}, "
                f"high-water mark {ispec.get('highWaterMark')})"
            )
        wf = sorted(state.get("writerFeatures") or ())
        if wf:
            print(f"writer features: {', '.join(wf)}")
        cm = state.get("columnMapping")
        if cm:
            moved = {
                l: p for l, p in (cm.get("physical") or {}).items() if l != p
            }
            print(
                "column mapping: name mode"
                + (
                    ", renamed "
                    + ", ".join(f"{p}->{l}" for l, p in sorted(moved.items()))
                    if moved
                    else ""
                )
            )
        n_dv = sum(1 for a in state["adds"].values() if a.get("dv"))
        if n_dv:
            dead = sum(a["dv"].get("deleted", 0) for a in state["adds"].values() if a.get("dv"))
            print(f"deletion vectors: {n_dv} file(s), {dead} masked row(s)")
        if state["schema"]:
            from pyspark.sql.types import StructType

            st = StructType.fromJson(jsonmod.loads(state["schema"]))
            print("schema: " + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields))
    elif args.action == "export":
        as_of = args.as_of
        if args.as_of_timestamp is not None:
            if as_of is not None:
                raise SystemExit("pass --as-of OR --as-of-timestamp, not both")
            as_of = t.version_at(args.as_of_timestamp)  # log the RESOLVED version
        snap = t.snapshot(as_of=as_of)
        write_table(snap, args.dest, fmt="parquet")
        log.info("exported version %s to %s", as_of if as_of is not None else t.version(), args.dest)
    elif args.action == "changes":
        feed = t.changes(args.from_version, args.as_of)
        if args.dest:
            write_table(feed, args.dest, fmt="parquet")
            log.info(
                "wrote change feed (%s, %s] to %s",
                args.from_version,
                args.as_of if args.as_of is not None else t.version(),
                args.dest,
            )
        else:
            # console inspection caps at 50 rows — the scale path for
            # a big feed is --dest (distributed parquet write)
            shown = feed.limit(50).collect()
            for r in shown:
                print(r.asDict())
            if len(shown) == 50:
                print("... (truncated at 50 rows; use --dest for the full feed)")


def _setup_logging(log_file: str | None) -> None:
    """Dual file + console logging, mirroring the reference's surface
    (csv2parquet.py:203-244: append-mode file next to console, DEBUG
    level, timestamped lines). The log file is append-mode so repeated
    runs accumulate history like the reference's; a file that cannot
    be opened raises up-front rather than silently dropping logs."""
    import logging

    log = logging.getLogger("hz_csv2parquet_spark.cli")
    # scoped to the package logger, NOT logging.basicConfig: the CLI
    # runs in-process in tests and long-lived sessions, and a root-
    # logger FileHandler would capture py4j/Spark shutdown logs (and
    # outlive the file's tmp dir). Handlers are replaced per main()
    # call so repeated invocations don't stack duplicates.
    for h in list(log.handlers):
        log.removeHandler(h)
        h.close()
    handlers: list[logging.Handler] = [logging.StreamHandler(sys.stderr)]
    if log_file:
        try:
            handlers.append(logging.FileHandler(log_file, mode="a"))
        except OSError as e:
            raise SystemExit(f"error opening log file {log_file!r}: {e}")
    fmt = logging.Formatter(
        "%(asctime)s %(levelname)s %(message)s", datefmt="%Y/%m/%d %I:%M:%S %p"
    )
    for h in handlers:
        h.setFormatter(fmt)
        log.addHandler(h)
    log.setLevel(logging.DEBUG if log_file else logging.INFO)
    log.propagate = False


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hz-spark", description=__doc__)
    p.add_argument(
        "--log-file",
        default=None,
        help="append timestamped progress to this file in addition to the console",
    )
    sub = p.add_subparsers(dest="tool", required=True)

    c = sub.add_parser("convert", help="CSV → Parquet (csv2parquet.py surface)")
    c.add_argument("src", help="CSV file or directory")
    c.add_argument("dest", nargs="?", default=None)
    c.add_argument("--single-file", action="store_true", help="one part file per output (1:1 mapping)")
    c.set_defaults(fn=cmd_convert)

    a = sub.add_parser("agg", help="geo-grid binned aggregation (agg.py surface)")
    a.add_argument("src", help="input file glob")
    a.add_argument("suffix", nargs="?", default="_geo_aggregated")
    a.add_argument("-m", "--mode", choices=("mean", "median", "max"), default="median")
    a.add_argument("-s", "--size", type=float, default=10.0, help="grid size in meters")
    a.add_argument("--collate", action="store_true", help="aggregate all inputs together")
    a.add_argument("--per-file", action="store_true", help="single part file per output")
    a.set_defaults(fn=cmd_agg)

    d = sub.add_parser("add-country", help="lookup enrichment (add_country.py surface)")
    d.add_argument("src", help="input file glob")
    d.add_argument("suffix", nargs="?", default="_with_country")
    d.add_argument("--lookup", required=True, help="lookup table (lat_bin, lon_bin, country)")
    d.add_argument("--grid-deg", type=float, default=1.0, help="lookup grid resolution in degrees")
    d.set_defaults(fn=cmd_add_country)

    k = sub.add_parser(
        "curate",
        help="training-data curation pipeline: dedup → quality → sample → shards",
    )
    k.add_argument("src", help="documents table (parquet or csv)")
    k.add_argument("dest", help="output directory (hive-partitioned by shard_id)")
    k.add_argument("--id-col", default="doc_id")
    k.add_argument("--text-col", default="text")
    k.add_argument("--rate", type=float, default=1.0, help="deterministic sample keep-rate")
    k.add_argument("--shards", type=int, default=8)
    k.add_argument("--seed", type=int, default=0)
    k.add_argument("--no-quality", action="store_true", help="skip the repetition/quality gate")
    k.set_defaults(fn=cmd_curate)

    q = sub.add_parser(
        "sql",
        help="run an ANSI SQL statement over fixture tables and txlog tables",
    )
    q.add_argument("query", help="SQL statement (tables resolve as temp views)")
    q.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="fixture directory whose parquet tables register as views "
        "(default: $SPARK_GRAFT_SF_DIR)",
    )
    q.add_argument(
        "--table",
        action="append",
        metavar="NAME=PATH",
        help="register a transaction-log table snapshot as view NAME "
        "(repeatable)",
    )
    q.add_argument("--dest", default=None, help="write the result here instead of printing")
    q.add_argument("--limit", type=int, default=50, help="max rows printed (default 50)")
    q.set_defaults(fn=cmd_sql)

    t = sub.add_parser(
        "table",
        help="transaction-log table maintenance (create/merge/history/compact/vacuum/fsck/export/changes/delete/restore/describe/set-properties/clone/reorg-purge/index-bloom/refresh-view)",
    )
    t.add_argument(
        "action",
        choices=(
            "create",
            "merge",
            "history",
            "compact",
            "vacuum",
            "fsck",
            "refresh-view",
            "export",
            "changes",
            "delete",
            "update",
            "restore",
            "describe",
            "set-properties",
            "convert",
            "add-constraint",
            "drop-constraint",
            "set-not-null",
            "drop-not-null",
            "rename-column",
            "drop-column",
            "clone",
            "reorg-purge",
            "index-bloom",
        ),
    )
    t.add_argument("table", help="table directory (contains _txlog/)")
    t.add_argument("--src", default=None, help="input for create/merge (parquet or csv)")
    t.add_argument(
        "--key",
        default=None,
        help="merge key column(s), comma-separated; the first keys file pruning",
    )
    t.add_argument("--dest", default=None, help="output directory for export")
    t.add_argument("--as-of", type=int, default=None, help="historical version for export")
    t.add_argument(
        "--as-of-timestamp",
        default=None,
        help="export: time travel to the latest version committed at or "
        "before this epoch-seconds or ISO timestamp (Delta timestampAsOf)",
    )
    t.add_argument(
        "--deep",
        action="store_true",
        help="clone: copy data files executor-side into the clone "
        "(Delta DEEP CLONE) instead of referencing the source's",
    )
    t.add_argument("--target-files", type=int, default=1, help="compaction target file count")
    t.add_argument(
        "--max-file-rows",
        type=int,
        default=None,
        help="compact: bin-pack only files smaller than this (plus any "
        "carrying deletion vectors); right-sized files are never rewritten",
    )
    t.add_argument(
        "--properties",
        default=None,
        help="set-properties: comma-separated k=v pairs "
        "(changeDataFeed=true, deletionVectors=true)",
    )
    t.add_argument(
        "--where",
        default=None,
        help="delete/update: row predicate (SQL expression); compact: "
        "partition scope over the partition columns",
    )
    t.add_argument(
        "--set",
        action="append",
        default=None,
        help="update: col=SQL-expression assignment (repeatable; the "
        "expression sees the pre-update row)",
    )
    t.add_argument(
        "--name",
        default=None,
        help="add-constraint/drop-constraint: the constraint name",
    )
    t.add_argument(
        "--check",
        default=None,
        help="add-constraint: the CHECK expression (SQL; existing data "
        "is validated before the constraint commits)",
    )
    t.add_argument(
        "--spark-only",
        action="store_true",
        help="add-constraint: accept full Spark SQL outside the "
        "sink-compatible CHECK subset (the hz_txlog DSv2 sink then "
        "refuses writes to this table; TxTable writes still enforce)",
    )
    t.add_argument(
        "--column",
        default=None,
        help="rename-column/drop-column/set-not-null/drop-not-null: "
        "the (logical) column to alter",
    )
    t.add_argument(
        "--to",
        dest="to_name",
        default=None,
        help="rename-column: the new column name",
    )
    t.add_argument(
        "--to-version",
        type=int,
        default=None,
        help="restore: roll the table back to this version as a new commit",
    )
    t.add_argument(
        "--dry-run",
        action="store_true",
        help="vacuum: report the would-be-deleted count without touching disk",
    )
    t.add_argument(
        "--from-version",
        type=int,
        default=None,
        help="change feed start (exclusive); pair with --as-of for the end (inclusive)",
    )
    t.add_argument("--layout-key", default=None, help="range-cluster the compaction rewrite on this column")
    t.add_argument(
        "--zorder",
        default=None,
        help="OPTIMIZE ZORDER BY: two integer columns (comma-separated) clustered on a transient Morton key",
    )
    t.add_argument("--stat-cols", default=None, help="comma-separated columns to record min/max stats for")
    t.add_argument(
        "--partition-by",
        default=None,
        help="create: hive-partition the table by these comma-separated columns",
    )
    t.add_argument(
        "--generated",
        action="append",
        default=None,
        metavar="COL=EXPR",
        help="create: declare a GENERATED column computed from the SQL "
        "expression on every write (repeatable; may appear in "
        "--partition-by — writers then never supply it)",
    )
    t.add_argument(
        "--identity",
        action="append",
        default=None,
        metavar="COL[=START[,STEP]]",
        help="create: declare a GENERATED ALWAYS AS IDENTITY bigint "
        "column — unique engine-assigned ids on every append "
        "(repeatable; writers never supply it)",
    )
    t.add_argument(
        "--group-by",
        default=None,
        help="refresh-view: comma-separated grouping columns of the "
        "incremental aggregate",
    )
    t.add_argument(
        "--sum",
        default=None,
        help="refresh-view: comma-separated columns to SUM (COUNT is "
        "always maintained)",
    )
    t.add_argument(
        "--retention-seconds",
        type=float,
        default=None,
        help="vacuum retention window; files younger than this are kept "
        "(default: 7 days, the Delta contract — 0 requires no in-flight writers)",
    )
    t.set_defaults(fn=cmd_table)
    return p


def main(argv: list[str] | None = None) -> int:
    import logging

    args = build_parser().parse_args(argv)
    _setup_logging(args.log_file)
    log = logging.getLogger("hz_csv2parquet_spark.cli")
    shown = {k: v for k, v in vars(args).items() if k not in ("fn", "log_file") and v is not None}
    log.info("start tool=%s %s", args.tool, shown)
    args.fn(args)
    log.info("done tool=%s", args.tool)
    return 0


if __name__ == "__main__":
    sys.exit(main())
