"""Append-only transaction log over plain parquet — the production
story behind the simulated lakehouse ops (SURVEY E105 merge, E126
schema evolution, E127 compaction; VERDICT r5 "What's missing" §3).

Public-knowledge design (the open Delta Lake / Iceberg protocol
shape; no proprietary format): a table is a directory of parquet
data files plus ``_txlog/<version 8-digit>.json`` commit files, each
holding a JSON list of actions:

- ``{"add":    {"path", "rows", "stats": {col: [min, max]}}}``
  — optionally carrying ``"dv": {"path", "deleted"}``, a
  deletion-vector sidecar whose row positions readers mask out
  (merge-on-read DELETE; re-adding a path replaces its action)
- ``{"remove": {"path"}}``
- ``{"meta":   {"schema": <DDL string>}}``
- ``{"txn":    {"appId", "batchId"}}`` (streaming exactly-once)
- ``{"cdc":    {"path", "rows"}}`` — change-data sidecar files
  (``change_data=True`` tables); ignored by snapshot replay, served
  by the change feed

The CURRENT snapshot = replay all commits in version order: the live
file set is (all adds) − (all removes); the schema is the last
``meta``. Everything readers need is in the log — no directory
listing races, no eventually-consistent file discovery; at cluster
scale this is why every lakehouse format replaced "list the
directory" with "read the log".

Checkpoints (VERDICT r6 item 4, the Delta ``_last_checkpoint``
pattern): every ``checkpoint_interval`` commits the writer also
drops ``<version>.ckpt.parquet`` — a snapshot of the fully-replayed
state (live add actions, schema, txn markers) as of that version.
Replay then costs O(tail): load the newest checkpoint ≤ the target
version and apply only the commits after it. Without this a
long-lived streaming sink pays O(versions) log reads per batch ⇒
O(versions²) cumulative — the exact failure mode the open Delta
protocol's checkpoint files exist to prevent. Checkpoints are
derived data: last-writer-wins via atomic rename, and a missing or
stale checkpoint only costs speed, never correctness.

Concurrency: a commit is the CREATE of the next version file with
O_EXCL (open mode ``x``) — exactly one writer wins a version and a
loser gets :class:`CommitConflictError` (optimistic concurrency, the
Delta protocol's put-if-absent primitive; on S3-like stores this maps
to a conditional put / DynamoDB mutex, same contract). A lost race
is rebased by ONE rule, :meth:`TxTable._rebase_commit`: replay the
head; a ``txn`` twin in it means the batch already landed (no-op); a
CREATE never rebases (conflict); otherwise the verb revalidates its
staged actions against the head or raises (blind appends keep them,
DML and rewrites check their read set); retry with bounded, jittered
backoff. Verbs with no revalidation rule (overwrite, evolve_schema,
column DDL, restore, fsck) commit once and surface the conflict.

Write path: data files are produced by Spark (``df.write.parquet``
into a staging dir), then registered in the log with per-file
row counts and min/max column stats read from the parquet FOOTERS
(driver-side metadata only, no data scan). MERGE prunes the rewrite
set with those stats — only files whose [min,max] key range
intersects the update keys are rewritten (copy-on-write), the
Delta/Iceberg MERGE shape: touched-file rewrite, not table rewrite.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import random
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default VACUUM retention, mirroring Delta's 7-day default: files
#: younger than this are never deleted, which protects both time
#: travel and — critically — data files a concurrent writer has
#: staged but not yet committed (the write path stages BEFORE the
#: log commit, so a zero-retention vacuum racing a writer could
#: delete files whose commit then lands: a committed version
#: pointing at missing files).
DEFAULT_VACUUM_RETENTION_S = 7 * 24 * 3600

_COMMIT_RE = re.compile(r"^\d{8}\.json$")
#: add-action keys with dedicated parquet-checkpoint columns; the
#: rest spill into the "extra" JSON column (forward compatibility)
_CKPT_COLS = frozenset(
    {"path", "rows", "stats", "dv", "partitionValues", "dataChange"}
)

_CKPT_RE = re.compile(r"^(\d{8})\.ckpt\.(json|parquet)$")


class CommitConflictError(RuntimeError):
    """Another writer committed this version first — reload the
    snapshot and retry the transaction."""


class TableFeatureError(RuntimeError):
    """The log requires a reader feature this reader does not
    implement — refusing is the CORRECT outcome (the Delta
    minReaderVersion/readerFeatures contract): a feature-unaware
    reader that pressed on would silently misread, e.g. resurrect
    deletion-vector-masked rows or drop partition columns."""


#: Reader features THIS implementation understands. A meta action's
#: ``readerFeatures`` naming anything outside this set makes every
#: read path (snapshot, changes, DSv2 source) raise
#: :class:`TableFeatureError` instead of misreading the table.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "hivePartitioning", "columnMapping", "absolutePaths"}
)

#: Writer features THIS implementation understands (the Delta
#: minWriterVersion/writerFeatures contract's other half): a table
#: whose meta names a writer feature outside this set refuses every
#: WRITE verb — reads stay legal (the data is self-describing), but
#: an unaware writer pressing on would break the invariant the
#: feature encodes (e.g. append rows without computing a generated
#: column, silently desynchronizing it from its expression).
SUPPORTED_WRITER_FEATURES = frozenset({"generatedColumns", "identityColumns"})

#: Identity assignment packs (partition index, row-in-partition) into
#: one 64-bit sequence: ``seq = pid * STRIDE + row``. The stride caps
#: rows per written partition (guarded executor-side — overflow would
#: collide ids); 2^28 ≈ 268M rows is far above any sane task output,
#: while keeping hwm growth ~32× slower than raw
#: ``monotonically_increasing_id`` (whose 2^33 partition stride would
#: exhaust long id space in ~1e5 large appends).
IDENTITY_PARTITION_STRIDE = 1 << 28


def _data_file(table_path: str, rel: str, action: dict | None) -> str:
    """Resolve an add/dv action's on-disk file. Paths in the log are
    table-relative EXCEPT on shallow clones (``absolutePaths`` reader
    feature): a clone's commit-0 add actions keep the SOURCE table's
    relative key (so the scan-side ``data-*/…`` join key still
    matches) and carry the source file's absolute location in
    ``absPath``. Everything local to this table resolves under
    ``table_path`` as before."""
    abs_path = (action or {}).get("absPath")
    return abs_path or os.path.join(table_path, rel)


def _rel_key(path: str) -> str:
    """Inverse of resolution: the log key of a resolved data-file
    path. Every data file a TxTable writes lives under a table-root
    ``data-*`` stage dir (``_stage``/``convert_in_place`` both
    guarantee it), so the key is the path suffix from the LAST
    ``data-*`` segment — the same extraction the scan side performs
    JVM-side (``_DV_KEY_RE``), which keeps log keys and scan keys
    identical whether the file is local or an absolute shallow-clone
    reference into another table."""
    m = re.search(_DV_KEY_RE, path)
    return m.group(1) if m else path


def _pv_from_path(rel_path: str) -> dict[str, str | None]:
    """``{col: value}`` from a hive-layout relative path's
    ``col=value`` segments — percent-decoded (Spark escapes special
    chars in directory names); the hive NULL sentinel maps to None."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            col, _, val = seg.partition("=")
            out[unquote(col)] = (
                None if val == "__HIVE_DEFAULT_PARTITION__" else unquote(val)
            )
    return out


def pv_cast(value: str | None, data_type):
    """A logged partition value (string) → the Python value of the
    column's Spark type — the same stringified-partition-value
    round-trip the Delta protocol defines. Unknown types stay
    strings (readers cast the literal column instead)."""
    if value is None:
        return None
    t = data_type.typeName()
    if t in ("byte", "short", "integer", "long"):
        return int(value)
    if t in ("float", "double"):
        return float(value)
    if t == "boolean":
        return value.lower() == "true"
    if t == "date":
        import datetime

        return datetime.date.fromisoformat(value)
    return value


# ---------------- column mapping (metadata-only rename/drop) -------
#
# The Delta columnMapping contract (reference: Delta protocol's
# name-mode mapping): everything under the table's data directory —
# parquet column names, hive partition dirs, the ``partitionValues``
# and ``stats`` keys on add actions — stores PHYSICAL names that
# never change after a column is created; the committed ``schema``
# meta, constraints, and every user-facing predicate speak LOGICAL
# names. A ``columnMapping`` meta action holds the logical→physical
# map, so RENAME and DROP COLUMN are one O(1) metadata commit — at
# 100 TB the alternative is rewriting every data file. Before the
# first rename/drop the mapping is absent and physical == logical.


def _cm_map(mapping: dict | None) -> dict[str, str]:
    """logical→physical name map ({} = mapping off / identity)."""
    return dict((mapping or {}).get("physical") or {})


def _cm_rev(mapping: dict | None) -> dict[str, str]:
    """physical→logical (inverse of :func:`_cm_map`)."""
    return {p: l for l, p in _cm_map(mapping).items()} if mapping else {}


def _rename_df(df: DataFrame, names: dict[str, str]) -> DataFrame:
    """Rename columns in ONE projection (atomic — immune to the
    chained-rename ambiguity of sequential ``withColumnRenamed``
    when an old name equals another rename's new name). Columns
    outside ``names`` pass through, order preserved."""
    if not any(c in names and names[c] != c for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(names.get(c, c)) for c in df.columns])


def _to_physical_df(df: DataFrame, mapping: dict | None) -> DataFrame:
    return _rename_df(df, _cm_map(mapping)) if mapping else df


def _rekey_logical(d: dict | None, mapping: dict | None) -> dict:
    """Re-key a physical-keyed per-file dict (stats/partitionValues)
    to logical names so pruning compares against user predicates."""
    if not d or not mapping:
        return d or {}
    rev = _cm_rev(mapping)
    return {rev.get(k, k): v for k, v in d.items()}


def _scan_to_logical(
    df: DataFrame, mapping: dict | None, keep_extra: tuple = ()
) -> DataFrame:
    """physical→logical for a raw file scan. Orphan physicals
    (dropped-column residue in old files) are pruned BEFORE the
    rename — a later re-added column may reuse the dropped logical
    name, and renaming first would collide two columns. ``__hz_*``
    internals and ``keep_extra`` columns pass through."""
    if not mapping:
        return df
    rev = _cm_rev(mapping)
    keep = [
        c
        for c in df.columns
        if c in rev or c in keep_extra or c.startswith("__hz_")
    ]
    if len(keep) < len(df.columns):
        df = df.select(*keep)
    return _rename_df(df, rev)


#: SQL expression extracting a file's table-relative key from
#: ``_metadata.file_path`` — the LAST ``data-*/`` segment of the RAW
#: (still percent-encoded) URI. Both the vector writer and every
#: masked reader derive the key from the same expression, so it is
#: consistent by construction, unique per file (part-file basenames
#: COLLIDE across hive partition dirs — one task writes the same
#: name into several ``col=val`` dirs), and relocation-proof (the
#: prefix outside the table root never participates).
_DV_KEY_RE = r".*/(data-[^/]+/.+)$"


def _dv_key_col():
    return F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1)


def _decode_uri_col(col):
    """Decode a percent-encoded file-URI fragment back to on-disk
    bytes, JVM-side. ``F.url_decode`` alone is WRONG here: it decodes
    application/x-www-form-urlencoded, where a literal ``+`` means
    space — but file URIs keep ``+`` literal (spaces are %20), so a
    partition value like ``tag=a+b`` would silently key-mismatch the
    log (round-11 review finding). Pre-escaping ``+`` to %2B makes
    url_decode exact for URI semantics, matching Python's ``unquote``
    in ``_uri_to_path``."""
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


def _decoded_rel_col():
    """The table-relative on-disk path of the current row's file —
    THE join key between scans and log metadata."""
    return _decode_uri_col(_dv_key_col())


#: Partition-cardinality threshold for the read planners: at or below
#: it, one branch per distinct partition tuple (literal columns —
#: Catalyst constant-folds partition predicates per branch, so
#: partition pruning is free and the plan is exchange-free); above
#: it, plan size O(|partitions|) would sink a 10k-partition table, so
#: reads collapse to one scan + a broadcast join against O(files)
#: rows of log metadata.
_PV_UNION_MAX = 32


def _dv_schema():
    """Deletion-vector sidecar schema — fixed by construction
    (:meth:`TxTable._stage_dv_detect` writes exactly these two
    columns), so sidecar reads never need a footer-inference job."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [StructField("fname", StringType()), StructField("pos", LongType())]
    )


_DV_SCHEMA = _dv_schema()


def _physical_read_schema(
    schema_json: str, mapping: dict | None, adds: dict[str, dict]
):
    """Explicit parquet read schema for data files: the committed
    schema in PHYSICAL column names, every field nullable (files
    written before a column evolved in null-fill it — Spark's own
    explicit-schema parquet semantics), minus hive-partitioned
    columns (``_stage`` writes those as directory segments via
    ``partitionBy``; their values reattach from the logged
    ``partitionValues``, whose keys — physical, like the files — are
    exactly the exclusion set)."""
    from pyspark.sql.types import StructField, StructType

    pv_keys: set[str] = set()
    for a in adds.values():
        pv = a.get("partitionValues")
        if pv:
            pv_keys.update(pv)
    phys = _cm_map(mapping)
    return StructType(
        [
            StructField(phys.get(f.name, f.name), f.dataType, True)
            for f in StructType.fromJson(json.loads(schema_json)).fields
            if phys.get(f.name, f.name) not in pv_keys
        ]
    )


def _norm_action(a: dict) -> dict:
    """An add action stripped of ``dataChange`` — provenance (append
    vs maintenance), not content: two adds differing only by it
    describe the same file state. THE normalization every in-place /
    restore / staleness comparison uses (the commit classifier,
    restore, the rebase read-set check and compact's staleness
    check; keep them agreeing)."""
    return {k: v for k, v in a.items() if k != "dataChange"}


def _classify_commit(
    actions: list[dict], live: dict[str, dict]
) -> tuple[dict, dict, dict, list]:
    """One commit's data changes against the adds ``live`` before it
    — the one classifier of the change feed and the ``hz_txlog``
    planners. Returns ``(added, removed, in_place, cdcs)``:

    - ``added``: ``{path: add}`` for data-changing adds that are new
      or differ from their live action (an add re-emitted unchanged
      changes no content);
    - ``removed``: ``{path: live add or None}`` for data-changing
      removes;
    - ``in_place``: ``{path: live add}`` for added paths that were
      already live and are not removed — the file changed under its
      own path, with no remove action (a deletion vector grown,
      rolled back or dropped);
    - ``cdcs``: the commit's ``cdc`` actions.

    ``dataChange: false`` actions (layout maintenance) land in no
    bucket."""
    added: dict[str, dict] = {}
    removed: dict[str, dict | None] = {}
    cdcs: list[dict] = []
    for action in actions:
        if "add" in action and action["add"].get("dataChange", True):
            a = action["add"]
            if a["path"] not in live or _norm_action(live[a["path"]]) != _norm_action(a):
                added[a["path"]] = a
        elif "remove" in action and action["remove"].get("dataChange", True):
            removed[action["remove"]["path"]] = live.get(action["remove"]["path"])
        elif "cdc" in action:
            cdcs.append(action["cdc"])
    in_place = {p: live[p] for p in added if p in live and p not in removed}
    return added, removed, in_place, cdcs


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_txlog")


def _version_file(table_path: str, v: int) -> str:
    return os.path.join(_log_dir(table_path), f"{v:08d}.json")


def _checkpoint_file(table_path: str, v: int) -> str:
    """Legacy JSON checkpoint path (still READ; no longer written)."""
    return os.path.join(_log_dir(table_path), f"{v:08d}.ckpt.json")


def _checkpoint_parquet(table_path: str, v: int) -> str:
    return os.path.join(_log_dir(table_path), f"{v:08d}.ckpt.parquet")


#: Auto-stats column cap (the Delta default: stats on the first 32
#: columns). Bounds the per-add JSON in the log on wide tables.
_AUTO_STAT_COLS = 32


def _expr_attr_names(spark, expr: str) -> set[str]:
    """Column names referenced by a SQL expression (unresolved-parse
    walk) — empty set on any parse/walk surprise, which callers treat
    as 'reference everything'."""
    try:
        node = spark._jsparkSession.sessionState().sqlParser().parseExpression(expr)
        out: set[str] = set()

        def walk(n):
            if n.getClass().getSimpleName() == "UnresolvedAttribute":
                out.add(n.name())
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(node)
        return out
    except Exception:
        return set()


#: scalar functions blessed for sink-enforceable CHECK constraints —
#: every name here is executed through BOTH engines on the same data
#: by tests/test_txlog.py's compatibility matrix
_SINK_COMPAT_FUNCS = {"abs", "length", "upper", "lower", "coalesce"}

#: operator/punctuation tokens of the sink-compatible grammar.
#: Deliberately excluded: ``/`` and ``%`` (ANSI Spark raises on a
#: zero divisor where DuckDB yields NULL, so a row the TxTable path
#: refuses could pass the sink), ``||`` / regex operators
#: (dialect-specific), and statement punctuation (``;``, comments).
_SINK_COMPAT_OPS = {"=", "!=", "<>", "<", "<=", ">", ">=", "+", "-", "*", "(", ")", ","}

_SINK_TOKEN_RE = None  # compiled lazily


#: bare-word keywords of the sink-compatible grammar — any OTHER bare
#: identifier must name a table column, which catches word-shaped
#: dialect operators (RLIKE, ILIKE, SIMILAR, DIV, ...) that a pure
#: token-class whitelist would wave through as "column references"
_SINK_COMPAT_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "between", "true", "false", "like",
}


def sink_compatible_reason(expr: str, columns: set[str] | None = None) -> str | None:
    """``None`` when ``expr`` stays inside the CHECK-expression
    subset the DSv2 sink's session-less DuckDB gate is pinned to
    evaluate identically to Spark's write path (column refs,
    literals, comparisons, AND/OR/NOT, IS [NOT] NULL, IN, BETWEEN,
    LIKE, ``+ - *``, and the :data:`_SINK_COMPAT_FUNCS` scalar
    functions — tests/test_txlog.py executes every form through BOTH
    engines on the same rows, including the NULL-passes rule);
    otherwise a short reason naming the first offending token. Pure
    Python (no SparkSession), so the sink writer can re-derive the
    verdict at construction time from the log alone.

    ``columns`` (the table's logical column names) makes the check
    strict: a bare identifier that is neither a grammar keyword nor a
    column (by its root name part, case-insensitively) is rejected —
    closing the word-shaped-operator hole."""
    import re as _re

    global _SINK_TOKEN_RE
    if _SINK_TOKEN_RE is None:
        _SINK_TOKEN_RE = _re.compile(
            r"""\s+                                   # whitespace
              | '(?:[^']|'')*'                        # string literal
              | [A-Za-z_][A-Za-z0-9_.]*               # identifier/keyword
              | \d+(?:\.\d+)?(?:[eE][+-]?\d+)?        # number
              | <>|!=|<=|>=                           # two-char operators
              | .                                     # single char
            """,
            _re.VERBOSE,
        )
    cols_lower = {c.lower() for c in columns} if columns is not None else None
    tokens = [m.group(0) for m in _SINK_TOKEN_RE.finditer(expr)]
    for i, tok in enumerate(tokens):
        if tok.isspace():
            continue
        if tok.startswith("'") and tok.endswith("'") and len(tok) >= 2:
            # backslash escapes parse differently between the engines
            # (Spark: 'a\tb' is a TAB; DuckDB: a literal backslash-t)
            # — the exact silent-divergence the subset exists to
            # exclude, verified live in both engines
            if "\\" in tok:
                return (
                    "string literal with a backslash escape is outside the "
                    "sink-compatible subset (Spark and DuckDB parse "
                    "escapes differently)"
                )
            continue
        low = tok.lower()
        if tok[0].isalpha() or tok[0] == "_":
            if low in _SINK_COMPAT_KEYWORDS:
                continue  # NOT ( / IN ( are keyword-paren, not calls
            nxt = next(
                (t for t in tokens[i + 1:] if not t.isspace()), ""
            )
            if nxt == "(":
                if low not in _SINK_COMPAT_FUNCS:
                    return f"function {tok!r} is outside the sink-compatible subset"
                continue
            if cols_lower is not None and low.split(".")[0] not in cols_lower:
                return (
                    f"identifier {tok!r} is neither a column nor part of "
                    "the sink-compatible grammar"
                )
            continue
        if tok[0].isdigit():
            continue
        if tok in _SINK_COMPAT_OPS:
            continue
        return f"operator {tok!r} is outside the sink-compatible subset"
    return None


def _parse_ts(raw) -> float:
    """Epoch seconds from a float/int or an ISO datetime string —
    THE timestamp-option parse, shared by batch ``timestampAsOf``
    (:meth:`TxTable.version_at`) and the streaming
    ``startingTimestamp`` (txlog_source), so the two surfaces can
    never drift in how they read the same user string."""
    if isinstance(raw, (int, float)):
        return float(raw)
    try:
        return float(raw)
    except ValueError:
        import datetime

        return datetime.datetime.fromisoformat(raw).timestamp()


def _file_stats(
    path: str, stat_cols: list[str] | None
) -> tuple[int, dict, dict]:
    """(row count, {col: [min, max]}, {col: null count}) from the
    parquet footer only.

    ``stat_cols=None`` means AUTO (round 11, the Delta
    dataSkippingNumIndexedCols shape): collect stats for the first
    ``_AUTO_STAT_COLS`` file columns — every JSON-expressible
    min/max the footer already carries is free pruning for MERGE/
    DELETE, the DSv2 pushdown, and the disjoint-append rebase check.
    Columns whose stats are absent, binary, or non-JSON (timestamps)
    are skipped by the guards below either way; an explicit ``[]``
    still means "no stats".

    Null counts (round 13 — the Delta nullCount shape) are tracked
    INDEPENDENTLY of min/max: an all-NULL column has no min/max but a
    perfectly good null count, which is exactly the file a pushed
    ``IS NOT NULL`` should skip; a null-free file is what ``IS NULL``
    skips. A column is reported only when EVERY row group carries a
    null count — partial knowledge must not masquerade as a bound."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    rows = pf.metadata.num_rows
    stats: dict[str, list] = {}
    nulls: dict[str, int] = {}
    idx = {pf.schema_arrow.field(i).name: i for i in range(len(pf.schema_arrow.names))}
    if stat_cols is None:
        stat_cols = list(pf.schema_arrow.names)[:_AUTO_STAT_COLS]
    for c in stat_cols:
        if c not in idx:
            continue
        lo, hi = None, None
        nc = 0
        mm_ok = nc_ok = True
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx[c]).statistics
            if st is None:
                mm_ok = nc_ok = False
                break
            if st.null_count is not None:
                nc += st.null_count
            else:
                nc_ok = False
            if mm_ok and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            else:
                mm_ok = False
                lo, hi = None, None
        if isinstance(lo, bytes):
            # BYTE_ARRAY stats surface as bytes; the log is JSON
            try:
                lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
            except UnicodeDecodeError:
                lo = None  # binary payload column: no usable stats
        if lo is not None:
            try:
                json.dumps([lo, hi])
            except TypeError:
                lo = None  # non-JSON-serializable stat type: skip
            else:
                stats[c] = [lo, hi]
        if nc_ok:
            nulls[c] = int(nc)
    return rows, stats, nulls


_CMP_MIRROR = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}

_CMP_OPS = {
    "EqualTo": "=",
    "EqualNullSafe": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _cmp_bounds(bounds, op: str, v, exact: bool) -> bool:
    """May any value in ``bounds = (lo, hi)`` satisfy ``value <op>
    v``? Soundness rule for mixed kinds: lexicographic STRING
    min/max do NOT bound the numeric casts of the values (file
    ["100", "9"] has lo="100", hi="9" but numerically spans 9..100 —
    skipping on float(lo/hi) would silently miss matching rows), so
    a numeric literal against string RANGE stats never skips. An
    ``exact`` bound (a hive partition value: lo == hi == the exact
    stringified value) IS safely coercible to the literal's type:
    numbers parse as float, booleans match by name (``bool("false")``
    is True), and other types a DSv2 filter pushes (Decimal, ...)
    build from the string. Any remaining type mismatch is
    conservatively no-skip."""
    lo, hi = bounds
    if exact and isinstance(lo, str) and not isinstance(v, str):
        try:
            if isinstance(v, bool):
                lo = lo.lower() == "true"
            elif isinstance(v, (int, float)):
                lo = float(lo)
            else:
                lo = type(v)(lo)
        except (TypeError, ValueError, ArithmeticError):
            return True
        hi = lo
    elif isinstance(v, (int, float)) and isinstance(lo, str):
        return True
    if isinstance(v, str) and not isinstance(lo, str):
        return True  # string literal vs numeric stats: no proof
    try:
        if op == "=":
            return lo <= v <= hi
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
    except (TypeError, ArithmeticError):
        return True
    return True


# ---- per-file skipping closures: ``f(stats, pv, nulls, rows) -> bool``
# is False only on PROOF that no row of the file can match. The keys
# of the four inputs are the names the closure was built with (the
# DML path re-keys to logical names; the DSv2 reader builds with
# physical ones). Built by :func:`_compile_can_match` from a parsed
# DML predicate and by the hz_txlog batch reader from pushed filters.


def _bounds_of(name: str, stats: dict, pv: dict):
    st = stats.get(name)
    if st is not None and st[0] is not None and st[1] is not None:
        return (st[0], st[1]), False
    v = pv.get(name)
    if v is not None:
        return (v, v), True  # exact hive partition value
    return None, False


def _cmp_fn(name: str, op: str, v):
    def f(stats, pv, nulls=None, rows=None):
        b, exact = _bounds_of(name, stats, pv)
        return True if b is None else _cmp_bounds(b, op, v, exact)

    return f


def _in_fn(name: str, values):
    alts = [_cmp_fn(name, "=", v) for v in values]
    return lambda *a: any(alt(*a) for alt in alts)  # IN () matches nothing


def _range_fn(name: str, lo, hi):
    """May the file hold a ``name`` value in ``[lo, hi]``? The ``>= lo``
    and ``<= hi`` closures together, so MERGE's key-range checks skip
    files by the same rule as DML and DSv2 reads."""
    ge, le = _cmp_fn(name, ">=", lo), _cmp_fn(name, "<=", hi)
    return lambda *a: ge(*a) and le(*a)


def _null_fn(name: str, want_null: bool):
    def f(stats, pv, nulls=None, rows=None):
        p = pv or {}
        if want_null:
            if p.get(name) is not None:
                # exact non-null hive partition value: the column
                # is a non-null constant in this file
                return False
            nc = (nulls or {}).get(name)
            return True if nc is None else nc > 0
        if name in p and p[name] is None:
            # __HIVE_DEFAULT_PARTITION__: the column is NULL for
            # every row of this file
            return False
        nc = (nulls or {}).get(name)
        if nc is None or rows is None:
            return True
        return nc < rows  # all-NULL file can't satisfy IS NOT NULL

    return f


def _compile_can_match(node):
    """Compile the parsed (unresolved) Catalyst predicate ``node``
    into a pure-Python ``can_match(stats, pv, nulls=None, rows=None)
    -> bool`` — the conservative Delta/Parquet data-skipping rewrite
    (``c = v`` → ``min <= v <= max``; ``c IS [NOT] NULL`` → the
    file's logged null count, round 13; AND/OR recurse; everything
    unrecognized — functions, NOT, non-literal sides — compiles to
    always-True). The py4j tree is walked ONCE here; per-file
    evaluation touches no JVM state, so skipping a 100k-file table
    costs 100k Python calls, not millions of py4j round-trips.
    Returns False only on PROOF of no match; nulls are sound by
    construction (parquet min/max ignore nulls and a comparison on
    null is never TRUE; a missing null count always admits). Raises
    on py4j surprises — callers treat that as "cannot skip"."""

    def lit_value(n):
        v = n.value()
        if v is None:
            return None, False
        dt = n.dataType().simpleString()
        if dt == "boolean":
            return bool(v), True
        if dt in ("int", "bigint", "smallint", "tinyint"):
            return int(str(v)), True
        if dt in ("double", "float") or dt.startswith("decimal"):
            return float(str(v)), True
        if dt == "string":
            return str(v), True
        return None, False  # date/timestamp/binary literal: no skip

    TRUE = lambda stats, pv, nulls=None, rows=None: True  # noqa: E731

    def walk(n):
        cls = n.getClass().getSimpleName()
        ch = n.children()
        kids = [ch.apply(i) for i in range(ch.size())]
        if cls == "And":
            l, r = walk(kids[0]), walk(kids[1])
            return lambda *a: l(*a) and r(*a)
        if cls == "Or":
            l, r = walk(kids[0]), walk(kids[1])
            return lambda *a: l(*a) or r(*a)
        if (
            cls in ("IsNull", "IsNotNull")
            and len(kids) == 1
            and kids[0].getClass().getSimpleName() == "UnresolvedAttribute"
        ):
            return _null_fn(kids[0].name(), cls == "IsNull")
        if cls in _CMP_OPS and len(kids) == 2:
            lc = kids[0].getClass().getSimpleName()
            rc = kids[1].getClass().getSimpleName()
            if lc == "UnresolvedAttribute" and rc == "Literal":
                v, ok = lit_value(kids[1])
                return _cmp_fn(kids[0].name(), _CMP_OPS[cls], v) if ok else TRUE
            if lc == "Literal" and rc == "UnresolvedAttribute":
                v, ok = lit_value(kids[0])
                return (
                    _cmp_fn(kids[1].name(), _CMP_MIRROR[_CMP_OPS[cls]], v)
                    if ok
                    else TRUE
                )
            return TRUE
        if cls == "In" and kids and kids[0].getClass().getSimpleName() == "UnresolvedAttribute":
            values = []
            for k in kids[1:]:
                if k.getClass().getSimpleName() != "Literal":
                    return TRUE
                v, ok = lit_value(k)
                if not ok:
                    return TRUE
                values.append(v)
            return _in_fn(kids[0].name(), values)
        return TRUE  # NOT / functions / anything else

    return walk(node)


def _can_match_stats(
    node, stats: dict, pv: dict, nulls: dict | None = None, rows: int | None = None
) -> bool:
    """One-shot form of :func:`_compile_can_match` (tests use it);
    hot paths compile once and evaluate per file."""
    try:
        return _compile_can_match(node)(stats, pv, nulls, rows)
    except Exception:  # py4j surprises: skipping is only an optimization
        return True


#: Bloom probes precompute this many 64-bit hashes per literal; a
#: sidecar's ``k`` (hash count) may not exceed it.
_BLOOM_MAX_K = 8


def _bloom_atoms(node) -> list[tuple[str, list]]:
    """Top-level AND-conjunct equality atoms ``[(attr, [values])]``
    of a parsed predicate — ``c = v`` / ``v = c`` yields one value,
    ``c IN (...)`` all of them. ONLY direct conjuncts make bloom
    skipping sound (under OR the file may match via the other
    branch), and only int/string literals are probed: float equality
    is noise, date/binary literals don't hash type-stably. Values
    come back as Python int/str; the caller type-checks them against
    the column before probing."""

    def lit_of(n):
        if n.getClass().getSimpleName() != "Literal":
            return None
        v = n.value()
        if v is None:
            return None
        dt = n.dataType().simpleString()
        if dt in ("int", "bigint", "smallint", "tinyint"):
            return int(str(v))
        if dt == "string":
            return str(v)
        return None

    atoms: list[tuple[str, list]] = []

    def leaf(n):
        cls = n.getClass().getSimpleName()
        ch = n.children()
        kids = [ch.apply(i) for i in range(ch.size())]
        if cls in ("EqualTo", "EqualNullSafe") and len(kids) == 2:
            names = [k.getClass().getSimpleName() for k in kids]
            if sorted(names) == ["Literal", "UnresolvedAttribute"]:
                attr = kids[names.index("UnresolvedAttribute")]
                v = lit_of(kids[names.index("Literal")])
                if v is not None:
                    atoms.append((attr.name(), [v]))
        elif (
            cls == "In"
            and kids
            and kids[0].getClass().getSimpleName() == "UnresolvedAttribute"
        ):
            vals = [lit_of(k) for k in kids[1:]]
            if vals and all(v is not None for v in vals):
                atoms.append((kids[0].name(), vals))

    def conjuncts(n):
        if n.getClass().getSimpleName() == "And":
            ch = n.children()
            for i in range(ch.size()):
                conjuncts(ch.apply(i))
        else:
            leaf(n)

    conjuncts(node)
    return atoms


def _bloom_probe_hashes(spark, probes: list[tuple]) -> list[list[int]]:
    """``_BLOOM_MAX_K`` 64-bit hashes per ``(value, kind)`` probe,
    computed by the SAME JVM expression the index build uses —
    ``xxhash64(cast(value), i)`` — so build/probe parity is by
    construction, not by reimplementing Spark's xxhash64 in Python.
    ONE tiny local job per predicate (per-file tests are then pure
    Python bit checks)."""
    exprs = []
    for j, (v, kind) in enumerate(probes):
        lit = F.lit(v).cast("long" if kind == "long" else "string")
        for i in range(_BLOOM_MAX_K):
            exprs.append(F.xxhash64(lit, F.lit(i)).alias(f"h_{j}_{i}"))
    row = spark.range(1).select(*exprs).collect()[0]
    return [
        [row[f"h_{j}_{i}"] for i in range(_BLOOM_MAX_K)]
        for j in range(len(probes))
    ]


def _bloom_contains(bits: bytes, m: int, hashes: list[int]) -> bool:
    """Membership test: every hash's ``h % m`` bit must be set.
    Python ``%`` on a negative hash is non-negative for positive
    ``m`` — the same value as the JVM ``pmod`` the build side uses."""
    for h in hashes:
        p = h % m
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True


class TxTable:
    """A parquet table governed by the transaction log.

    All mutating methods stage data files first and commit the log
    entry LAST — a crashed writer leaves orphan data files (cleaned
    by vacuum) but never a torn table: readers only see files the
    log names.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        stat_cols: list[str] | None = None,
        checkpoint_interval: int = 10,
        change_data: bool = False,
        deletion_vectors: bool = False,
    ):
        self.spark = spark
        self.path = path
        #: None = AUTO stats (first _AUTO_STAT_COLS columns, the
        #: Delta default); [] = explicitly no stats; a list = exactly
        #: those columns. See _file_stats.
        self.stat_cols = list(stat_cols) if stat_cols is not None else None
        self.checkpoint_interval = max(1, int(checkpoint_interval))
        #: Change Data Feed: with ``change_data=True`` every verb that
        #: rewrites rows (MERGE, DELETE, RESTORE) also stages the
        #: row-level change set as parquet sidecars under
        #: ``_change_data/`` and records them as ``cdc`` actions in
        #: the same commit — Delta's CDF table property. Snapshot
        #: replay ignores cdc actions; ``changes()`` and the
        #: ``hz_txlog`` readChangeFeed stream serve them directly,
        #: with no content diff and no dependence on superseded data
        #: files. Costs one extra diff+write per change commit,
        #: bounded by the commit's touched files.
        self.change_data = bool(change_data)
        #: Merge-on-read DELETE: with ``deletion_vectors=True``,
        #: ``delete_where`` writes a position sidecar per touched
        #: file (``_dv/``, recorded on the re-emitted add action)
        #: instead of rewriting data — the Delta deletion-vector
        #: shape. Readers mask the positions; ``compact()``
        #: materializes and drops the vectors. A selective delete on
        #: a 10 GB file costs one tiny sidecar write instead of a
        #: 10 GB rewrite.
        self.deletion_vectors = bool(deletion_vectors)
        #: commit files parsed since construction — the O(tail)
        #: replay contract is pinned against this counter.
        self.log_reads = 0

    # ---------------- log primitives ----------------

    def version(self) -> int:
        """Latest committed version, -1 if the table does not exist."""
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            return -1
        return max((int(n[:8]) for n in names if _COMMIT_RE.match(n)), default=-1)

    def _commit(
        self,
        actions: list[dict],
        expected_version: int,
        operation: str | None = None,
        info: dict | None = None,
    ) -> int:
        """Atomically write version ``expected_version + 1``. O_EXCL
        create: exactly one writer wins; a loser raises
        CommitConflictError without touching the log. The winner also
        drops a replay checkpoint every ``checkpoint_interval``
        commits. ``operation`` adds a ``commitInfo`` action (the Delta
        commitInfo shape: operation name + wall-clock) — ignored by
        replay, but the timestamp is the ``timestampAsOf`` /
        ``startingTimestamp`` resolution key, so it is MONOTONIC by
        construction (Delta's inCommitTimestamps rule: stamp
        ``max(clock, previous + ε)``). Without the clamp, clock skew
        between two writer hosts — or one NTP step-back — makes a
        later version carry an earlier wall-clock and ``version_at``
        silently resolves a timestamp to a snapshot that excludes
        commits before it. One O(1) JSON open of the predecessor
        version per commit (walk-back past unstamped commits is
        bounded by the unstamped run length, ~0 in practice)."""
        v = expected_version + 1
        os.makedirs(_log_dir(self.path), exist_ok=True)
        target = _version_file(self.path, v)
        if operation is not None:
            ts = time.time()
            prev = expected_version
            while prev >= 0:
                try:
                    prior = self._read_commit(prev)
                except (OSError, ValueError):
                    break  # vacuumed/unreadable log head: clock wins
                stamp = next(
                    (a["commitInfo"] for a in prior if "commitInfo" in a), None
                )
                if stamp is not None:
                    ts = max(ts, float(stamp.get("timestamp", 0)) + 1e-3)
                    break
                prev -= 1
            actions = actions + [
                {
                    "commitInfo": {
                        "operation": operation,
                        "timestamp": ts,
                        **(info or {}),
                    }
                }
            ]
        try:
            with open(target, "x") as fh:
                json.dump(actions, fh)
        except FileExistsError as exc:
            raise CommitConflictError(
                f"version {v} already committed by another writer"
            ) from exc
        if (v + 1) % self.checkpoint_interval == 0:
            self._write_checkpoint(v)
        return v

    def _checkpoint_versions(self) -> list[int]:
        try:
            names = os.listdir(_log_dir(self.path))
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            m = _CKPT_RE.match(n)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _write_checkpoint(self, v: int) -> None:
        """Materialize the replayed state as of version ``v`` as a
        PARQUET checkpoint (round 11, the Delta parquet-checkpoint
        shape): one row per live add action, the table-level envelope
        (schema/partitionColumns/properties/readerFeatures/txns) in
        the parquet schema metadata. A million-file table's state
        loads as a columnar binary read instead of gigabytes of JSON
        text parsing, and future readers can column-prune (e.g. paths
        only, no stats). Atomic via tmp+rename; best-effort (a
        failure costs replay speed on future reads, never
        correctness). Legacy ``.ckpt.json`` files are still read.
        Checkpoints are derived data, so the format needs no reader
        feature: an old reader ignores unknown checkpoint files and
        pays a longer log tail, never a misread."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            self._write_checkpoint_inner(v, pa, pq)
        except Exception:
            # genuinely best-effort: the version file is already
            # durable, so NO checkpoint failure may surface as a
            # failed commit — and pa.table/json.dumps/pq.write_table
            # can raise ArrowInvalid/TypeError, not just OSError.
            # _write_checkpoint_inner removes its own tmp file on the
            # write path; construction failures never create one.
            pass

    def _write_checkpoint_inner(self, v: int, pa, pq) -> None:
        state = self._replay_state(as_of=v)
        adds = list(state["adds"].values())
        table = pa.table(
            {
                "path": pa.array([a["path"] for a in adds], pa.string()),
                "rows": pa.array(
                    [int(a.get("rows", 0)) for a in adds], pa.int64()
                ),
                # nested/sparse action fields ride as JSON strings —
                # per-field columns would churn the checkpoint schema
                # every time the action shape evolves
                "stats": pa.array(
                    [json.dumps(a.get("stats", {})) for a in adds], pa.string()
                ),
                "dv": pa.array(
                    [json.dumps(a["dv"]) if a.get("dv") else None for a in adds],
                    pa.string(),
                ),
                "partitionValues": pa.array(
                    [
                        json.dumps(a["partitionValues"])
                        if a.get("partitionValues") is not None
                        else None
                        for a in adds
                    ],
                    pa.string(),
                ),
                "dataChange": pa.array(
                    [a.get("dataChange") for a in adds], pa.bool_()
                ),
                # forward-compat spill-over: action keys outside the
                # fixed column set survive the roundtrip as JSON —
                # otherwise a checkpoint would silently strip fields
                # a newer writer recorded, and _norm_action
                # comparisons (restore, in-place feed classification,
                # OPTIMIZE staleness) would diverge between
                # checkpoint-loaded and raw-replayed states
                "extra": pa.array(
                    [
                        json.dumps(x) if (x := {
                            k: val for k, val in a.items() if k not in _CKPT_COLS
                        }) else None
                        for a in adds
                    ],
                    pa.string(),
                ),
            }
        )
        envelope = {
            "version": v,
            "schema": state["schema"],
            "partitionColumns": state["partitionColumns"],
            "properties": state["properties"],
            "constraints": state.get("constraints", {}),
            "generatedColumns": state.get("generated", {}),
            "identityColumns": state.get("identity", {}),
            "readerFeatures": sorted(state["readerFeatures"]),
            "writerFeatures": sorted(state.get("writerFeatures", set())),
            "columnMapping": state.get("columnMapping"),
            "txns": {app: sorted(ids) for app, ids in state["txns"].items()},
        }
        # (version -> commitInfo wall-clock) index so timestampAsOf
        # resolution scans only the post-checkpoint tail instead of
        # O(versions) JSON opens. Persisted ONLY when complete: a
        # replay seeded from a pre-round-12 checkpoint carries a
        # tail-only index that must not be re-persisted as truth.
        if state.get("commitTsComplete", False):
            envelope["commitTimestamps"] = {
                str(cv): t for cv, t in state.get("commitTs", {}).items()
            }
        table = table.replace_schema_metadata(
            {b"hz_txlog.envelope": json.dumps(envelope).encode()}
        )
        tmp = _checkpoint_parquet(self.path, v) + f".tmp-{uuid.uuid4().hex[:8]}"
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, _checkpoint_parquet(self.path, v))
        except Exception:
            # remove the tmp in ALL failure cases (ArrowException as
            # well as OSError) so nothing leaks until vacuum
            if os.path.exists(tmp):
                os.remove(tmp)

    def _load_checkpoint_envelope(self, v: int) -> dict:
        """ONLY the table-level envelope of checkpoint ``v`` — an
        O(footer) parquet schema-metadata read, no add rows
        materialized. The pure-metadata callers (commit_timestamps)
        use this so a timestamp lookup on a million-file table never
        pays a full checkpoint scan. Legacy JSON checkpoints fall
        back to the full load."""
        pqt = _checkpoint_parquet(self.path, v)
        if os.path.exists(pqt):
            import pyarrow.parquet as pq

            meta = pq.read_schema(pqt).metadata or {}
            return json.loads(meta[b"hz_txlog.envelope"].decode())
        return json.load(open(_checkpoint_file(self.path, v)))

    def _load_checkpoint(self, v: int) -> dict:
        """The checkpoint payload at version ``v`` — parquet
        preferred, legacy JSON fallback. Raises on neither present /
        unreadable (caller falls back to full replay)."""
        pqt = _checkpoint_parquet(self.path, v)
        if os.path.exists(pqt):
            import pyarrow.parquet as pq

            table = pq.read_table(pqt)
            envelope = json.loads(
                (table.schema.metadata or {})[b"hz_txlog.envelope"].decode()
            )
            adds = []
            for row in table.to_pylist():
                a = {"path": row["path"], "rows": row["rows"],
                     "stats": json.loads(row["stats"])}
                if row["dv"] is not None:
                    a["dv"] = json.loads(row["dv"])
                if row["partitionValues"] is not None:
                    a["partitionValues"] = json.loads(row["partitionValues"])
                if row["dataChange"] is not None:
                    a["dataChange"] = row["dataChange"]
                if row.get("extra") is not None:
                    a.update(json.loads(row["extra"]))
                adds.append(a)
            envelope["adds"] = adds
            return envelope
        return json.load(open(_checkpoint_file(self.path, v)))

    def _read_commit(self, v: int) -> list[dict]:
        """The actions of commit ``v`` in file order — the one parser
        of ``_txlog/<v>.json``; counts ``log_reads``. Raises
        FileNotFoundError when the file is missing; each caller
        decides whether a missing commit is an error or a gap."""
        try:
            with open(_version_file(self.path, v)) as fh:
                actions = json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(f"missing log version {v} at {self.path}") from None
        self.log_reads += 1
        return actions

    def _seed_state(self, hi: int, envelope_only: bool = False) -> tuple[dict, int]:
        """The replay's starting point for a fold that ends at ``hi``:
        the state of the newest checkpoint ≤ ``hi`` and the first
        version left to fold after it, or the empty state and 0 when
        no checkpoint loads. ``envelope_only`` reads the checkpoint's
        footer metadata, no add rows (a pure metadata walk never pays
        a full checkpoint scan), and passes over a checkpoint without
        the (version -> commitInfo wall-clock) index, so a timestamp
        walk never yields a partial index."""
        ckpts = [c for c in self._checkpoint_versions() if c <= hi]
        if ckpts:
            load = self._load_checkpoint_envelope if envelope_only else self._load_checkpoint
            try:
                snap = load(ckpts[-1])
                # the index is absent on checkpoints written before
                # round 12: a replay seeded from one carries a
                # tail-only index, never re-persisted as complete
                complete = "commitTimestamps" in snap
                if complete or not envelope_only:
                    state = {
                        "adds": {
                            a["path"]: a for a in ([] if envelope_only else snap["adds"])
                        },
                        "schema": snap["schema"],
                        "partitionColumns": snap.get("partitionColumns", []),
                        "properties": snap.get("properties", {}),
                        "constraints": snap.get("constraints", {}),
                        "generated": snap.get("generatedColumns", {}),
                        "identity": snap.get("identityColumns", {}),
                        "readerFeatures": set(snap.get("readerFeatures", [])),
                        "writerFeatures": set(snap.get("writerFeatures", [])),
                        "columnMapping": snap.get("columnMapping"),
                        "txns": {app: set(ids) for app, ids in snap["txns"].items()},
                        "commitTs": {
                            int(k): float(t)
                            for k, t in snap.get("commitTimestamps", {}).items()
                        },
                        "commitTsComplete": complete,
                    }
                    return state, snap["version"] + 1
            except (OSError, ValueError, KeyError):
                pass  # unreadable checkpoint: full replay
        return {
            "adds": {},
            "schema": None,
            "partitionColumns": [],
            "properties": {},
            "constraints": {},
            "generated": {},
            "identity": {},
            "readerFeatures": set(),
            "writerFeatures": set(),
            "columnMapping": None,
            "txns": {},
            "commitTs": {},
            "commitTsComplete": True,
        }, 0

    @staticmethod
    def _apply_commit(state: dict, v: int, actions: list[dict]) -> None:
        """Fold commit ``v``'s actions into ``state`` in FILE ORDER —
        the one fold every log walk advances: a commit spelling
        "replace X" as [remove X, add X'] leaves X' live."""
        adds = state["adds"]
        for action in actions:
            if "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                adds.pop(action["remove"]["path"], None)
            elif "meta" in action:
                # meta keys are independent: a feature/property
                # upgrade commit carries no schema and must not
                # clobber the committed one
                m = action["meta"]
                for key in ("schema", "partitionColumns", "columnMapping"):
                    # whole-value replace (RESTORE commits a None
                    # columnMapping to roll an upgrade back)
                    if key in m:
                        state[key] = m[key]
                if "properties" in m:
                    state["properties"].update(m["properties"])
                # per-name merges; a None value drops the name (DROP
                # CONSTRAINT, a dropped column, a retired generation
                # or identity). Identity hwm advances ride these metas.
                for key, into in (
                    ("constraints", "constraints"),
                    ("generatedColumns", "generated"),
                    ("identityColumns", "identity"),
                ):
                    for name, val in m.get(key, {}).items():
                        if val is None:
                            state[into].pop(name, None)
                        else:
                            state[into][name] = val
                state["readerFeatures"].update(m.get("readerFeatures", ()))
                state["writerFeatures"].update(m.get("writerFeatures", ()))
            elif "txn" in action:
                state["txns"].setdefault(action["txn"]["appId"], set()).add(
                    action["txn"]["batchId"]
                )
            elif "commitInfo" in action:
                state["commitTs"][v] = float(action["commitInfo"].get("timestamp", 0))

    def _check_reader_features(self, state: dict) -> None:
        """Refuse a state whose table needs a reader feature this
        reader does not implement."""
        unknown = state["readerFeatures"] - SUPPORTED_READER_FEATURES
        if unknown:
            raise TableFeatureError(
                f"table {self.path} requires reader features {sorted(unknown)} "
                "this reader does not implement — upgrade the reader; "
                f"supported: {sorted(SUPPORTED_READER_FEATURES)}"
            )

    def _replay_state(self, as_of: int | None = None) -> dict:
        """Fully replayed log state at ``as_of`` (default: latest):
        ``{"adds": {path: add_action}, "schema": ddl|None,
        "txns": {appId: {batchId, ...}}, ...}`` — the
        :meth:`_seed_state` of the newest checkpoint ≤ target, then
        :meth:`_apply_commit` over each tail commit, read once by
        :meth:`_read_commit` (the O(tail) contract tests/test_txlog.py
        pins via ``log_reads``). Raises on a missing commit and on a
        reader feature this reader does not implement."""
        top = self.version()
        if top < 0:
            raise FileNotFoundError(f"no transaction log at {self.path}")
        hi = top if as_of is None else as_of
        state, start = self._seed_state(hi)
        for v in range(start, hi + 1):
            self._apply_commit(state, v, self._read_commit(v))
        self._check_reader_features(state)
        return state

    def _replay(self, as_of: int | None = None) -> tuple[list[str], str | None]:
        """(live relative file paths in add order, last schema DDL)."""
        state = self._replay_state(as_of)
        return list(state["adds"]), state["schema"]

    # ---------------- write path ----------------

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        mapping: dict | None = None,
    ) -> list[dict]:
        """Write ``df``'s partitions as parquet into a fresh staging
        subdir and return their add actions (footer stats only). With
        ``partition_by`` the write is hive-layout (``partitionBy``)
        and each add action records its ``partitionValues`` — exact
        per-file values the readers reattach as literal columns and
        the planners prune on (the Delta add-action shape; partition
        columns are NOT stored in the data files).

        ``mapping`` is the caller's replayed ``columnMapping``:
        ``df`` arrives in LOGICAL names and everything written —
        parquet columns, hive dirs, hence partitionValues and stats
        keys — is PHYSICAL, so a later RENAME never touches data."""
        stat_cols = self.stat_cols
        if mapping:
            phys = _cm_map(mapping)
            df = _to_physical_df(df, mapping)
            if partition_by:
                partition_by = [phys.get(c, c) for c in partition_by]
            if stat_cols:
                stat_cols = [phys.get(c, c) for c in stat_cols]
        stage = os.path.join(self.path, f"data-{uuid.uuid4().hex[:12]}")
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        pattern = (
            os.path.join(stage, *(["*"] * len(partition_by)), "*.parquet")
            if partition_by
            else os.path.join(stage, "*.parquet")
        )
        files = sorted(glob.glob(pattern))
        if not files:
            return []
        # footer reads are driver-side metadata I/O; a big commit adds
        # many part files, so read them concurrently (order preserved
        # by executor.map) instead of serially
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            footer = list(ex.map(lambda f: _file_stats(f, stat_cols), files))
        adds = []
        for f, (rows, stats, nulls) in zip(files, footer):
            if rows == 0:
                # don't register empty part files — a streaming sink
                # would otherwise grow the live set (and every future
                # snapshot scan) by dead files each batch
                os.remove(f)
                continue
            rel = os.path.relpath(f, self.path)
            add = {"add": {"path": rel, "rows": rows, "stats": stats}}
            if nulls:
                add["add"]["nulls"] = nulls
            if partition_by:
                add["add"]["partitionValues"] = _pv_from_path(rel)
            adds.append(add)
        return adds

    def _stage_cdc(self, feed: DataFrame, mapping: dict | None = None) -> list[dict]:
        """Write a change feed (table columns + ``_change_type``) as
        parquet sidecars under ``_change_data/`` and return their
        ``cdc`` actions. cdc files are NOT part of the snapshot —
        replay ignores them; they exist so change consumers never
        re-derive row-level diffs from data files. Sidecars store
        PHYSICAL column names (``mapping``), same as data files, so
        :meth:`changes` can serve feeds spanning a RENAME under one
        (current-logical) schema."""
        feed = _to_physical_df(feed, mapping)
        stage = os.path.join(
            self.path, "_change_data", f"cdc-{uuid.uuid4().hex[:12]}"
        )
        feed.write.mode("errorifexists").parquet(stage)
        actions = []
        for f in sorted(glob.glob(os.path.join(stage, "*.parquet"))):
            rows, _, _ = _file_stats(f, [])
            if rows == 0:
                os.remove(f)
                continue
            actions.append(
                {"cdc": {"path": os.path.relpath(f, self.path), "rows": rows}}
            )
        return actions

    @staticmethod
    def _align_columns(df: DataFrame, like: DataFrame) -> DataFrame:
        """Project ``df`` onto ``like``'s schema, null-filling columns
        it lacks — the shape-normalization both sides of a change
        diff need across schema evolution."""
        return df.select(
            *[
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in like.schema.fields
            ]
        )

    def _cdc_diff_actions(
        self,
        old: DataFrame | None,
        new: DataFrame,
        mapping: dict | None = None,
    ) -> list[dict]:
        """Stage the row-level change set of a copy-on-write rewrite:
        inserts = new ∖ old, deletes = old ∖ new (multiset EXCEPT ALL,
        so rows a rewrite merely relocated cancel — identical to the
        content-diff semantics of :meth:`changes`, computed once at
        commit time over only the touched scope instead of at every
        read)."""
        if old is None:
            feed = new.withColumn("_change_type", F.lit("insert"))
        else:
            old_a = self._align_columns(old, new)
            feed = (
                new.exceptAll(old_a)
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    old_a.exceptAll(new).withColumn("_change_type", F.lit("delete"))
                )
            )
        return self._stage_cdc(feed, mapping=mapping)

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
    ) -> int:
        """Version 0: data files + schema meta in one commit. With
        ``partition_by`` the table is hive-partitioned: data files
        live under ``col=value`` directories WITHOUT the partition
        columns (values ride the add actions), the meta action
        records ``partitionColumns``, and every later rewrite
        preserves the layout.

        ``generated`` ({column: SQL expression}) declares GENERATED
        columns (Delta's ``GENERATED ALWAYS AS``): the expression is
        evaluated over the other columns of the same row and
        MATERIALIZED on every write path — append, streaming append,
        MERGE, UPDATE (which recomputes after assignments), the DSv2
        sink — so readers pay nothing and predicates on the column
        prune normally. Declare them here, partition by them
        (``partition_by=["event_date"]`` with ``event_date``
        generated from a timestamp is THE lakehouse ingest layout:
        writers never supply the column, readers prune on it), and
        they are enforced forever: a writer that supplies the column
        is equality-verified against the expression, a writer that
        cannot compute it (a feature-unaware one) is refused via the
        ``generatedColumns`` WRITER feature. Expressions may not
        reference other generated columns, must analyze against the
        frame, and must be deterministic (a nondeterministic
        generator would make verify-on-supply and UPDATE's recompute
        internally inconsistent).

        ``identity`` ({column: {"start": int, "step": int}}) declares
        GENERATED ALWAYS AS IDENTITY bigint columns (Delta's identity
        columns): the engine assigns unique ids on every append path
        (append, streaming append_batch, schema evolution, MERGE's
        new keys — matched keys keep theirs), writers may never
        supply them (UPDATE refuses assignments, the session-less
        DSv2 sink refuses the table), and the log's per-column
        high-water mark — advanced in the same commit as the data —
        is the reservation record concurrent writers serialize on.
        Values are unique and step-monotonic per task but GAPPED
        (the Delta contract: uniqueness, not contiguity). Gated by
        the ``identityColumns`` writer feature."""
        if self.version() >= 0:
            raise FileExistsError(f"table already exists at {self.path}")
        gen = dict(generated or {})
        if gen:
            for gname, gexpr in gen.items():
                refs = {
                    a.split(".")[0].lower()
                    for a in _expr_attr_names(self.spark, gexpr)
                }
                self_refs = sorted(
                    g for g in gen if g.lower() in refs
                )
                if self_refs:
                    raise ValueError(
                        f"generated column {gname!r} = ({gexpr}) references "
                        f"generated column(s) {self_refs} — generation "
                        "expressions may only use regular columns"
                    )
                if not self._expr_deterministic(df, gexpr):
                    raise ValueError(
                        f"generated column {gname!r} = ({gexpr}) uses a "
                        "nondeterministic expression — generation must be "
                        "reproducible (verify-on-supply and UPDATE's "
                        "recompute re-evaluate it)"
                    )
            df = self._apply_generated(
                df, {"generated": gen, "schema": df.schema.json()}
            )
        ident = self._normalize_identity_specs(identity, df, gen, partition_by)
        if ident:
            df = self._assign_identity(df, ident)
        pcols = list(partition_by or [])
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in the frame: {missing}")
        os.makedirs(self.path, exist_ok=True)
        actions = self._stage(df, pcols)
        meta: dict = {"schema": df.schema.json()}
        wfeatures = []
        if gen:
            meta["generatedColumns"] = gen
            wfeatures.append("generatedColumns")
        if ident:
            meta["identityColumns"] = self._identity_with_hwm(
                ident, actions, mapping=None
            )
            wfeatures.append("identityColumns")
        if wfeatures:
            meta["writerFeatures"] = wfeatures
        if pcols:
            meta["partitionColumns"] = pcols
        # table properties persist IN THE LOG (advisor r10: per-
        # instance flags meant another writer — even this repo's own
        # CLI — silently committed rewrites without cdc sidecars);
        # constructor kwargs are creation-time configuration only
        meta["properties"] = {
            "changeDataFeed": self.change_data,
            "deletionVectors": self.deletion_vectors,
        }
        # required reader features (the Delta minReaderVersion /
        # readerFeatures contract): a reader that does not understand
        # them must refuse instead of misreading
        features = set()
        if pcols:
            features.add("hivePartitioning")
        if self.deletion_vectors:
            features.add("deletionVectors")
        if features:
            meta["readerFeatures"] = sorted(features)
        actions.append({"meta": meta})
        return self._commit(actions, -1, operation="CREATE")

    def convert_in_place(self) -> int:
        """CONVERT TO DELTA shape: adopt an EXISTING plain-parquet
        directory (flat or hive-partitioned) under transaction-log
        governance without rewriting a byte. Version 0 is pure log
        metadata: one add action per discovered file (footer stats
        via the same concurrent driver-side reads as ``_stage``,
        partitionValues parsed from ``col=value`` path segments),
        plus the schema/partitionColumns/properties meta — after
        which every TxTable verb (snapshot, time travel, MERGE,
        DELETE, UPDATE, OPTIMIZE, vacuum, the DSv2 source) works on
        the adopted files. The migration primitive a 100 TB estate
        needs: adoption costs O(files) metadata, not O(table) I/O.

        Files are RENAMED (a same-filesystem metadata operation —
        data bytes are never read or copied) into one
        ``data-convert*/`` staging directory, hive segments
        preserved: the engine's table-relative file key is defined as
        the last ``data-*/`` path suffix (see ``_DV_KEY_RE`` — that
        contract keeps keys unique across hive dirs and relocation-
        proof), so adopted files must live in the same layout every
        other writer produces."""
        if self.version() >= 0:
            raise FileExistsError(f"table already exists at {self.path}")
        everything = sorted(
            f
            for f in glob.glob(
                os.path.join(self.path, "**", "*.parquet"), recursive=True
            )
            if not os.path.relpath(f, self.path).startswith(("_", "."))
        )
        bare = [
            f
            for f in everything
            if not os.path.relpath(f, self.path).startswith("data-")
        ]
        # files a previous, crashed/raced convert already staged: a
        # re-run RESUMES them instead of raising "nothing to convert"
        # (review finding — renames must never strand the directory)
        staged = [
            f
            for f in everything
            if os.path.relpath(f, self.path).startswith("data-convert")
        ]
        if not bare and not staged:
            raise FileNotFoundError(f"no parquet files to convert at {self.path}")
        # hive partition columns derive from the path layout and must
        # be consistent across every file (the data-convert*/ staging
        # segment carries no '=', so pv parsing sees through it)
        pv_of = {
            f: _pv_from_path(os.path.relpath(f, self.path))
            for f in bare + staged
        }
        key_sets = {tuple(pv) for pv in pv_of.values()}
        if len(key_sets) > 1:
            raise ValueError(
                f"inconsistent hive partition layouts under {self.path}: "
                f"{sorted(key_sets)}"
            )
        pcols = list(next(iter(key_sets)))
        # schema validation BEFORE any rename: incompatible
        # generations or corrupt footers fail with the directory
        # untouched. Each read roots at a pure-hive layout so Spark
        # types the partition columns.
        schema_json: str | None = None
        stage_roots = sorted(
            {
                os.path.join(
                    self.path,
                    os.path.relpath(f, self.path).split(os.sep)[0],
                )
                for f in staged
            }
        )
        # basePath pins partition discovery to each pure-hive root, so
        # a mixed (resumed) directory never trips Spark's conflicting-
        # directory-structure check
        reads = ([(self.path, bare)] if bare else []) + [
            (root, [root]) for root in stage_roots
        ]
        for base, paths in reads:
            part = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", base)
                .parquet(*paths)
            )
            schema_json = self.snapshot_schema_union(schema_json, part)
        # rename bare files into the staging layout (keys derive from
        # the last data-*/ suffix); hive segments keep their place so
        # pv parsing and partition pruning see the same paths
        stage = f"data-convert{uuid.uuid4().hex[:12]}"
        files = list(staged)
        for f in bare:
            rel = os.path.relpath(f, self.path)
            dst = os.path.join(self.path, stage, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(f, dst)
            files.append(dst)
            pv_of[dst] = pv_of.pop(f)
        # empty hive dirs left by the renames are cosmetic; sweep them
        for seg in {os.path.dirname(f) for f in bare}:
            try:
                if seg != self.path:
                    os.removedirs(seg)
            except OSError:
                pass  # non-empty or root: leave it
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            footer = list(ex.map(lambda f: _file_stats(f, self.stat_cols), files))
        actions: list[dict] = []
        for f, (rows, stats, nulls) in zip(files, footer):
            if rows == 0:
                continue  # empty part file: not worth a log entry
            add = {
                "path": os.path.relpath(f, self.path),
                "rows": rows,
                "stats": stats,
            }
            if nulls:
                add["nulls"] = nulls
            if pcols:
                add["partitionValues"] = pv_of[f]
            actions.append({"add": add})
        meta: dict = {"schema": schema_json}
        if pcols:
            meta["partitionColumns"] = pcols
        meta["properties"] = {
            "changeDataFeed": self.change_data,
            "deletionVectors": self.deletion_vectors,
        }
        features = set()
        if pcols:
            features.add("hivePartitioning")
        if self.deletion_vectors:
            features.add("deletionVectors")
        if features:
            meta["readerFeatures"] = sorted(features)
        actions.append({"meta": meta})
        return self._commit(actions, -1, operation="CONVERT")

    def clone(
        self,
        dest_path: str,
        version: int | None = None,
        timestamp: float | str | None = None,
        deep: bool = False,
    ) -> "TxTable":
        """SHALLOW CLONE (Delta's ``CREATE TABLE … SHALLOW CLONE``):
        a new, fully independent table at ``dest_path`` whose commit
        0 REFERENCES the source's data files without copying a byte —
        O(files) driver-side log metadata whatever the table's size,
        which is what makes dev/test copies of a 100 TB production
        table instant. Time travel the clone point via ``version`` or
        ``timestamp``.

        ``deep=True`` is Delta's DEEP CLONE: data files (and dv
        sidecars) COPY into the clone's own directory under the same
        relative keys — the byte copy runs ON THE EXECUTORS (one
        Arrow batch of paths per task, O(files) driver metadata, the
        bytes never visit the driver), so a 100 TB clone parallelizes
        across the cluster like any scan. The deep clone shares no
        fate with the source: vacuum/DML on either side cannot break
        the other, and no ``absolutePaths`` reader feature is needed.
        Deletion-vector and bloom-index sidecars copy the same way.

        The clone is a first-class table: every verb works, and any
        rewrite (DELETE/UPDATE/MERGE/OPTIMIZE) is copy-on-write INTO
        THE CLONE's own directory — the source never changes, and
        ``compact()`` on the clone is how it materializes itself
        fully local.

        Mechanics: cloned add actions keep the source's RELATIVE key
        (every data file lives under a table-root ``data-*`` stage
        dir, so the scan-side join key ``_DV_KEY_RE`` extracts is
        identical either way) and carry the file's absolute location
        in ``absPath``; deletion-vector sidecars clone the same way.
        The clone's log requires the ``absolutePaths`` reader
        feature, so a feature-unaware reader refuses loudly instead
        of resolving keys under the wrong root. Cloning a clone
        re-points at the ORIGINAL files (``absPath`` propagates) —
        reference chains never deepen.

        The shared-fate hazard is Delta's own documented one:
        ``vacuum``/data-deleting ops ON THE SOURCE can reclaim files
        the clone still references; the clone's reads then fail
        loudly (FileNotFound), never silently. Constraints,
        properties (CDF/dv), partitioning, and column mapping carry
        over; writer txn idempotency state (``txns``) deliberately
        does not — the clone is a new table, and a streaming sink
        that previously wrote the source must re-deliver into it."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version OR timestamp, not both")
        if timestamp is not None:
            version = self.version_at(timestamp)
        state = self._replay_state(as_of=version)
        dest = TxTable(
            self.spark,
            dest_path,
            stat_cols=self.stat_cols,
            checkpoint_interval=self.checkpoint_interval,
        )
        if dest.version() >= 0:
            raise FileExistsError(f"table already exists at {dest_path}")
        src_root = os.path.abspath(self.path)
        resolved = {
            rel: _data_file(src_root, rel, a) for rel, a in state["adds"].items()
        }
        # key-consistency gate: the clone keeps the source's relative
        # keys, which only round-trips when the scan-side extraction
        # reproduces them (true for every file a TxTable stages or
        # converts — all under table-root data-*/ dirs)
        bad = [rel for rel, f in resolved.items() if _rel_key(f) != rel]
        if bad:
            raise ValueError(
                f"cannot shallow-clone {self.path}: {len(bad)} file key(s) "
                f"(e.g. {bad[0]!r}) do not round-trip the scan-side "
                "data-*/ key extraction; run compact() on the source "
                "first to rewrite them into standard staging layout"
            )
        actions: list[dict] = []
        copies: list[tuple[str, str]] = []  # (src abs, dest abs) for deep
        dest_root = os.path.abspath(dest_path)
        for rel, a in state["adds"].items():
            add = {k: v for k, v in a.items() if k != "dataChange"}
            if deep:
                # the copy lands under the clone root — local keys only
                add.pop("absPath", None)
                copies.append((resolved[rel], os.path.join(dest_root, rel)))
                if a.get("dv"):
                    dv = dict(a["dv"])
                    dv.pop("absPath", None)
                    copies.append(
                        (
                            _data_file(src_root, dv["path"], a["dv"]),
                            os.path.join(dest_root, dv["path"]),
                        )
                    )
                    add["dv"] = dv
                if a.get("bloom"):
                    # bloom sidecars resolve table-relative only (no
                    # absPath support) — copy when the source really
                    # has one; a shallow-clone source does not (its
                    # entries were dropped below), and an absent
                    # bloom is always sound ("cannot skip")
                    bl = dict(a["bloom"])
                    side_src = os.path.join(src_root, bl["path"])
                    if os.path.exists(side_src):
                        copies.append(
                            (side_src, os.path.join(dest_root, bl["path"]))
                        )
                        add["bloom"] = bl
                    else:
                        add.pop("bloom", None)
            else:
                add["absPath"] = resolved[rel]
                if a.get("dv"):
                    dv = dict(a["dv"])
                    dv["absPath"] = _data_file(src_root, dv["path"], a["dv"])
                    add["dv"] = dv
                # a shallow clone cannot serve the source's bloom
                # sidecars (they live under the SOURCE root; bloom
                # paths have no absPath form) — drop the reference
                # instead of carrying a dead one that silently
                # disables pruning error-paths; re-index the clone
                add.pop("bloom", None)
            actions.append({"add": add})
        features = set(state["readerFeatures"])
        if deep:
            features.discard("absolutePaths")  # fully local by construction
            self._copy_files_distributed(copies)
        elif actions:
            features.add("absolutePaths")
        meta: dict = {
            "schema": state["schema"],
            "properties": dict(state["properties"]),
        }
        if state["partitionColumns"]:
            meta["partitionColumns"] = state["partitionColumns"]
        if state.get("constraints"):
            meta["constraints"] = dict(state["constraints"])
        if state.get("generated"):
            meta["generatedColumns"] = dict(state["generated"])
        if state.get("identity"):
            # hwm carries over: the clone's next append must not
            # re-issue ids the cloned rows already hold
            meta["identityColumns"] = dict(state["identity"])
        if state.get("columnMapping") is not None:
            meta["columnMapping"] = state["columnMapping"]
        if features:
            meta["readerFeatures"] = sorted(features)
        if state.get("writerFeatures"):
            meta["writerFeatures"] = sorted(state["writerFeatures"])
        actions.append({"meta": meta})
        os.makedirs(dest_path, exist_ok=True)
        dest._commit(
            actions,
            -1,
            operation="CLONE",
            info={
                "sourcePath": src_root,
                "sourceVersion": version if version is not None else self.version(),
                "deep": bool(deep),
            },
        )
        return dest

    def _copy_files_distributed(self, copies: list[tuple[str, str]]) -> None:
        """Byte-copy ``(src, dest)`` pairs on the executors — the
        deep-clone data path. The driver ships O(files) path strings
        and gets O(files) byte counts back; file contents never visit
        it. Each copy lands via temp-file + rename, so a killed task
        retried by Spark cannot leave a torn destination visible.
        (On a real cluster the same shape delegates to the DFS client
        on each executor; locally it is a parallel filesystem copy.)"""
        if not copies:
            return
        import pandas as pd  # noqa: F401  (executors need it anyway)

        def copy_part(batches):
            import os as _os
            import shutil as _shutil
            import uuid as _uuid

            import pandas as _pd

            for pdf in batches:
                done = []
                for s, d in zip(pdf["src"], pdf["dst"]):
                    _os.makedirs(_os.path.dirname(d), exist_ok=True)
                    tmp = f"{d}.{_uuid.uuid4().hex[:8]}.tmp"
                    _shutil.copyfile(s, tmp)
                    _os.replace(tmp, d)
                    done.append(_os.path.getsize(d))
                yield _pd.DataFrame({"bytes": done})

        n = len(copies)
        (
            self.spark.createDataFrame(copies, "src string, dst string")
            .repartition(min(n, 64))
            .mapInPandas(copy_part, "bytes bigint")
            .collect()  # O(files) scalar byte counts, not data rows
        )

    # ---------------- identity columns ----------------

    def _normalize_identity_specs(
        self,
        identity: dict | None,
        df: DataFrame,
        gen: dict,
        partition_by: list[str] | None,
    ) -> dict:
        """Validate create-time identity declarations into
        ``{col: {"start", "step", "highWaterMark": None}}``."""
        ident: dict[str, dict] = {}
        for col, spec in (identity or {}).items():
            spec = dict(spec or {})
            start = int(spec.get("start", 1))
            step = int(spec.get("step", 1))
            if step == 0:
                raise ValueError(f"identity column {col!r}: step must be non-zero")
            if col in df.columns:
                raise ValueError(
                    f"{col!r} is GENERATED ALWAYS AS IDENTITY — writers may "
                    "not supply it; drop the column from the frame"
                )
            if col in gen:
                raise ValueError(
                    f"{col!r} cannot be both a generated and an identity column"
                )
            if col in (partition_by or []):
                raise ValueError(
                    f"identity column {col!r} cannot be a partition column"
                )
            ident[col] = {"start": start, "step": step, "highWaterMark": None}
        return ident

    def _assign_identity(self, df: DataFrame, ident: dict) -> DataFrame:
        """Materialize fresh identity values on a frame that omits
        them (Delta's GENERATED ALWAYS AS IDENTITY assignment),
        entirely JVM-side: ``monotonically_increasing_id`` decomposes
        into (partition index, row-in-partition), which re-pack under
        :data:`IDENTITY_PARTITION_STRIDE` as one sequence number —
        unique per row without any shuffle, window, or extra pass.
        Values are unique, ascending per task, and GAPPED (the Delta
        contract: identity guarantees uniqueness, not contiguity —
        each task's range rounds up to the stride). A task writing
        more rows than the stride would collide; ``assert_true``
        fails the job instead, inside the assigned expression so
        column pruning can never elide the guard."""
        for col, spec in ident.items():
            if col in df.columns:
                raise ValueError(
                    f"{col!r} is GENERATED ALWAYS AS IDENTITY — writers may "
                    "not supply it; drop the column from the frame"
                )
            df = df.withColumn(col, self._identity_value_expr(spec))
        return df

    @staticmethod
    def _identity_value_expr(spec: dict):
        """The fresh-id Column for one identity spec (see
        :meth:`_assign_identity` for the packing contract)."""
        step = int(spec["step"])
        hwm = spec.get("highWaterMark")
        base = int(hwm) if hwm is not None else int(spec["start"]) - step
        mono = F.monotonically_increasing_id()
        row = mono.bitwiseAND(F.lit((1 << 33) - 1))
        pid = F.shiftright(mono, 33)
        guard = F.assert_true(
            row < F.lit(IDENTITY_PARTITION_STRIDE),
            F.lit(
                "identity assignment overflowed: one task wrote more "
                f"than {IDENTITY_PARTITION_STRIDE} rows — repartition "
                "the input into smaller tasks"
            ),
        )
        seq = pid * F.lit(IDENTITY_PARTITION_STRIDE) + row + F.lit(1)
        return F.when(guard.isNull(), (F.lit(base) + seq * F.lit(step)).cast("long"))

    def _identity_with_hwm(
        self, ident: dict, actions: list[dict], mapping: dict | None
    ) -> dict:
        """Each identity column's spec with the high-water mark
        advanced over the staged add actions' footer stats — the
        (version-serialized) reservation record the NEXT writer
        assigns above. Stats usually ride the staging pass already;
        columns outside the staged stat set get one targeted
        driver-side footer read per file (O(files) metadata, like
        every other log pass)."""
        phys = _cm_map(mapping)
        adds = [a["add"] for a in actions if "add" in a]
        out: dict[str, dict] = {}
        for col, spec in ident.items():
            p = phys.get(col, col)
            vals: list[int] = []
            pending: list[str] = []
            for add in adds:
                st = (add.get("stats") or {}).get(p)
                if st is not None and st[0] is not None:
                    vals.extend((int(st[0]), int(st[1])))
                else:
                    pending.append(_data_file(self.path, add["path"], add))
            if pending:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(16, len(pending))) as ex:
                    for _, st, _ in ex.map(lambda f: _file_stats(f, [p]), pending):
                        s = st.get(p)
                        if s is None or s[0] is None:
                            raise ValueError(
                                f"cannot advance identity high-water mark for "
                                f"{col!r}: staged file carries no footer stats"
                            )
                        vals.extend((int(s[0]), int(s[1])))
            step = int(spec["step"])
            prev = spec.get("highWaterMark")
            new_hwm = prev
            if vals:
                ext = max(vals) if step > 0 else min(vals)
                if prev is None:
                    new_hwm = ext
                else:
                    new_hwm = max(int(prev), ext) if step > 0 else min(int(prev), ext)
            out[col] = {
                "start": int(spec["start"]),
                "step": step,
                "highWaterMark": new_hwm,
            }
        return out

    def _pin_identity_frame(self, df: DataFrame, state: dict) -> DataFrame:
        """Materialize a frame that just drew fresh identity values
        when anything will scan it TWICE. The assignment expression
        is nondeterministic (monotonically_increasing_id): the one
        staging write is a single draw, but a CDF content diff, a
        CHECK-constraint scan, or a generated-column verify scan
        re-executes the projection and can see a DIFFERENT draw than
        the staged data — cdc rows carrying ids that do not exist in
        the table. localCheckpoint pins one draw for every consumer;
        the plain single-scan path (no cdf/constraints/generated)
        skips the cost."""
        if not state.get("identity"):
            return df
        if (
            self._prop_on(state, "changeDataFeed", self.change_data)
            or state.get("constraints")
            or state.get("generated")
        ):
            return df.localCheckpoint(eager=True)
        return df

    def _merge_attach_identity(
        self,
        resolved: DataFrame,
        current: DataFrame,
        keys: list[str],
        ident: dict,
    ) -> DataFrame:
        """Identity values for a MERGE's replacement rows: a matched
        key keeps its existing id (fetched from the touched files'
        rows — when several existing rows share the key, the
        step-direction-earliest id survives), a new key draws a fresh
        one above the hwm. A custom resolver's output may already
        carry ids (it can return rows of ``matched``); those win."""
        id_cols = [c for c in ident]
        fetched = current.groupBy(*keys).agg(
            *[
                (F.min(c) if int(ident[c]["step"]) > 0 else F.max(c)).alias(
                    f"__hz_ident_{c}"
                )
                for c in id_cols
            ]
        )
        out = resolved.join(fetched, keys, "left")
        for c in id_cols:
            fresh = self._identity_value_expr(ident[c])
            existing = (
                [F.col(c)] if c in resolved.columns else []
            )
            out = out.withColumn(
                c, F.coalesce(*existing, F.col(f"__hz_ident_{c}"), fresh)
            )
        return out.drop(*[f"__hz_ident_{c}" for c in id_cols])

    _IDENTITY_ATTEMPTS = 8

    def _append_identity(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None,
        operation: str,
        first: tuple[int, dict] | None = None,
    ) -> int | None:
        """Append onto an identity table. Unlike a blind append this
        READS the log (the high-water mark), so a lost version race
        cannot rebase the same staged files — the interloper may have
        reserved the same id range. Each attempt re-replays at a
        PINNED version, assigns ids above that version's hwm, stages,
        and commits with the advanced hwm riding the same commit
        (reservation and data are atomic); a conflict restages from
        the fresh hwm (orphans go to vacuum). Identity writers
        therefore serialize on the log head — Delta's identity
        contract makes the same trade."""
        last_exc: Exception | None = None
        for _ in range(self._IDENTITY_ATTEMPTS):
            if first is not None:
                # the caller's (pinned) replay — no second walk
                base_v, state = first
                first = None
            else:
                base_v = self.version()
                # pin the replay at base_v: a commit landing between
                # version() and replay would otherwise feed a NEWER
                # hwm than the version we commit against — id
                # collision, not conflict. Pinned, any interleaver
                # (a twin included) forces O_EXCL failure.
                state = self._replay_state(as_of=base_v)
                if txn is not None and txn[1] in state["txns"].get(txn[0], set()):
                    return None  # replayed batch: the twin's commit won
                self._check_writer_features(state)
            out = self._pin_identity_frame(
                self._assign_identity(df, state["identity"]), state
            )
            out = self._apply_generated(out, state)
            self._enforce_constraints(out, state)
            actions: list[dict] = list(
                self._stage(
                    out,
                    state["partitionColumns"],
                    mapping=state.get("columnMapping"),
                )
            )
            actions.append(
                {
                    "meta": {
                        "identityColumns": self._identity_with_hwm(
                            state["identity"], actions, state.get("columnMapping")
                        )
                    }
                }
            )
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "batchId": txn[1]}})
            try:
                return self._commit(actions, base_v, operation=operation)
            except CommitConflictError as e:
                last_exc = e  # restage above the fresh hwm
        raise last_exc

    def identity_columns(self) -> dict:
        """{column: {"start", "step", "highWaterMark"}} of the
        table's GENERATED ALWAYS AS IDENTITY columns."""
        return dict(self._replay_state().get("identity", {}))

    def _require_schema_subset(self, df: DataFrame, state: dict) -> DataFrame:
        """Delta-style schema enforcement for appends: a batch may
        OMIT table columns (the CHECK set's null-extension rule
        decides whether null-filling past an invariant is legal), but
        it may not CARRY columns the committed schema lacks. Staging
        such a batch would write data files with an undeclared column
        — invisible to log-schema readers (the DSv2 source) while
        mergeSchema readers surface it: reader-dependent results, the
        exact divergence the schema meta action exists to prevent.
        :meth:`evolve_schema` is the explicit widening verb (it logs
        the union schema in the same commit).

        Matching is case-INsensitive, like Spark's default resolution
        (caseSensitive=false), Delta's enforcement, and the front
        door's INSERT alignment — a batch column 'K' against
        committed 'k' is the SAME column, not an undeclared one
        (advisor r14). Returns the batch with any case-variant
        columns RENAMED to the committed casing, so staged parquet
        files carry the canonical names and a case-sensitive parquet
        field lookup can never null them out."""
        from pyspark.sql.types import StructType

        if not state.get("schema"):
            return df
        canonical = {
            f.name.lower(): f.name
            for f in StructType.fromJson(json.loads(state["schema"])).fields
        }
        lowered = [c.lower() for c in df.columns]
        dupes = sorted({c for c in lowered if lowered.count(c) > 1})
        if dupes:
            # two batch columns that differ only in case resolve to
            # ONE table column — ambiguous under case-insensitive
            # matching; refuse (Delta does the same)
            raise ValueError(
                f"append batch carries case-duplicate columns {dupes} — "
                "ambiguous under case-insensitive resolution"
            )
        extra = [c for c in df.columns if c.lower() not in canonical]
        if extra:
            raise ValueError(
                f"append batch carries columns not in the table schema: "
                f"{extra} — use evolve_schema() to widen the table"
            )
        renames = {
            c: canonical[c.lower()]
            for c in df.columns
            if c != canonical[c.lower()]
        }
        return df.withColumnsRenamed(renames) if renames else df

    def append(self, df: DataFrame) -> int:
        """Blind append — add actions only, no reads rewritten.

        Append-vs-append is the one cell of the optimistic-concurrency
        conflict matrix that never LOGICALLY conflicts (the Delta
        protocol's rule: a blind append reads nothing, so nothing it
        read can have changed) — so a lost version race is resolved
        here by REBASING: stage once, then re-commit against the fresh
        head until the O_EXCL create wins. An append does read the
        table's CHECK constraints and generated columns, so a racing
        commit that changed either raises :class:`CommitConflictError`
        (Delta's rule: a metadata change conflicts with every
        concurrent write); operations that *read* the snapshot (merge,
        compact) surface it too, because their staged rewrite may be
        stale.

        The rebase is :meth:`_rebase_commit`: bounded (64 attempts,
        jittered backoff growing to ~50 ms) rather than spin-forever;
        past the cap the conflict surfaces and the caller owns the
        policy."""
        base_v = self.version()
        state = self._replay_state(as_of=base_v)
        self._check_writer_features(state)
        df = self._require_schema_subset(df, state)
        if state.get("identity"):
            # an identity append reads the high-water mark — not
            # blind; it owns its own (restaging) conflict loop,
            # seeded with this (pinned) replay so no walk repeats
            return self._append_identity(
                df, None, "APPEND", first=(base_v, state)
            )
        df = self._apply_generated(df, state)
        self._enforce_constraints(df, state)
        adds = self._stage(
            df, state["partitionColumns"], mapping=state.get("columnMapping")
        )
        return self._rebase_commit(
            adds,
            operation="APPEND",
            base=base_v,
            revalidate=self._enforced_meta_unchanged(state),
        )

    def _enforced_meta_unchanged(self, state: dict):
        """Rebase check for a write that enforced ``state``'s CHECK
        constraints and generated columns: a head where either moved
        conflicts, since the staged rows were never checked against
        it; otherwise the adds rebase unchanged."""

        def revalidate(actions: list[dict], head: dict) -> list[dict]:
            if any(head.get(k) != state.get(k) for k in ("constraints", "generated")):
                raise CommitConflictError(
                    "a concurrent commit changed the constraints or generated "
                    f"columns of {self.path} this write enforced"
                )
            return actions

        return revalidate

    def _validated_files_unchanged(self, state: dict, operation: str):
        """Rebase check for a constraint verb that validated exactly
        the files live at ``state``: any head whose live files differ
        (a new append included) or whose meta moved conflicts, since
        its rows were never checked against the new constraint."""

        def revalidate(actions: list[dict], head: dict) -> list[dict]:
            if (
                not self._read_set_intact(state, head)
                or head["adds"].keys() != state["adds"].keys()
            ):
                raise CommitConflictError(
                    f"a concurrent commit changed the files this {operation} "
                    "validated"
                )
            return actions

        return revalidate

    _REBASE_ATTEMPTS = 64

    def _rebase_commit(
        self,
        actions: list[dict],
        operation: str | None = None,
        *,
        base: int | None = None,
        txn: tuple[str, int] | None = None,
        revalidate: Callable[[list[dict], dict], list[dict]] | None = None,
    ) -> int | None:
        """The one commit-and-rebase loop: commit ``actions`` against
        ``base`` (default: the current head). On a lost version race,
        replay the head; a ``txn`` twin in it → None (the batch
        landed); ``base == -1`` → raise (a CREATE never rebases onto
        another writer's table); else ``revalidate(actions, head)``
        returns the actions to re-commit on the head or raises
        :class:`CommitConflictError` (no callback: read-nothing
        actions rebase unchanged); jittered backoff, retry. Bounded
        at ``_REBASE_ATTEMPTS`` commits — an unbounded hot loop lets
        one caller starve under sustained contention; the last
        conflict surfaces. Callers capture ``base`` BEFORE the replay
        their actions and twin check came from, so anything landing
        after it forces an O_EXCL conflict here."""
        if base is None:
            base = self.version()
        for attempt in range(self._REBASE_ATTEMPTS):
            try:
                return self._commit(actions, base, operation=operation)
            except CommitConflictError:
                # capture the head version FIRST and validate exactly
                # that snapshot: a commit landing after the check must
                # fail the NEXT _commit and be re-validated here, never
                # slip between check and commit (TOCTOU — a delete
                # racing in that window would have its rows
                # resurrected by a stale rewrite)
                head_v = self.version()
                head = None
                if txn is not None or revalidate is not None:
                    head = self._replay_state(as_of=head_v)
                if txn is not None and txn[1] in head["txns"].get(txn[0], set()):
                    return None  # a twin replay of this batch won
                if base < 0 or attempt == self._REBASE_ATTEMPTS - 1:
                    raise
                if revalidate is not None:
                    actions = revalidate(actions, head)
                base = head_v
                time.sleep(random.uniform(0, min(0.001 * (attempt + 1), 0.05)))

    def committed_txns(self, app_id: str) -> set[int]:
        """Batch ids already committed by ``app_id`` (txn actions)."""
        return set(self._replay_state()["txns"].get(app_id, set()))

    def _prop_on(self, state: dict, prop: str, default: bool) -> bool:
        """Resolve a table property from the replayed log — the LOG
        is the source of truth (every writer sees the same value); the
        constructor flag is only the fallback for legacy tables whose
        meta predates persisted properties."""
        return bool(state.get("properties", {}).get(prop, default))

    def set_properties(self, **props: bool) -> int:
        """Commit a table-property update (``changeDataFeed=...``,
        ``deletionVectors=...``) — the ALTER TABLE SET TBLPROPERTIES
        shape. Enabling deletionVectors also records the required
        reader feature in the same commit, so a feature-unaware
        reader refuses instead of resurrecting masked rows."""
        known = {"changeDataFeed", "deletionVectors"}
        unknown = set(props) - known
        if unknown:
            raise ValueError(f"unknown table properties: {sorted(unknown)}")
        state = self._replay_state()
        self._check_writer_features(state)
        meta: dict = {"properties": {k: bool(v) for k, v in props.items()}}
        if props.get("deletionVectors") and "deletionVectors" not in state["readerFeatures"]:
            meta["readerFeatures"] = sorted(
                state["readerFeatures"] | {"deletionVectors"}
            )
        return self._rebase_commit([{"meta": meta}], operation="SET-PROPERTIES")

    def constraints(self) -> dict:
        """{name: SQL expression} of the table's CHECK constraints."""
        return dict(self._replay_state().get("constraints", {}))

    def generated_columns(self) -> dict:
        """{column: generation SQL expression} of the table's
        GENERATED columns (declared at :meth:`create`)."""
        return dict(self._replay_state().get("generated", {}))

    def add_constraint(
        self, name: str, expr: str, sink_enforceable: bool = True
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): existing data
        is validated FIRST (one distributed scan — a constraint the
        table already violates raises and commits nothing, the Delta
        contract), then the constraint persists in the log meta and
        every subsequent write (create/append/append_batch/MERGE/
        UPDATE) enforces it. SQL three-valued semantics: a row
        violates only when the expression is FALSE — NULL/unknown
        passes, like standard CHECK.

        By default the expression must also stay inside the
        sink-compatible subset (:func:`sink_compatible_reason`) so
        the session-less DSv2 sink can enforce it with pinned-
        identical semantics; syntax outside the subset is refused
        HERE with a named error instead of at first sink write. Pass
        ``sink_enforceable=False`` to accept full Spark SQL — the
        DSv2 sink then refuses writes to this table at writer
        construction (fail closed, never evaluate-differently)."""
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import StructType

        base = self.version()
        state = self._replay_state(as_of=base)
        self._check_writer_features(state)
        if name in state.get("constraints", {}):
            raise ValueError(f"constraint {name!r} already exists")
        F.expr(expr)  # parse now: a bad expression must not commit
        # analyzer-check against the table schema (even when the table
        # is empty): an expression that can't resolve here would be
        # permanently skipped by _enforce_constraints' widening-batch
        # rule — refuse it at add time with a named error instead
        schema = StructType.fromJson(json.loads(state["schema"]))
        try:
            self.spark.createDataFrame([], schema).filter(F.expr(expr))
        except AnalysisException as exc:
            raise ValueError(
                f"cannot add constraint {name!r}: CHECK ({expr}) does not "
                f"resolve against the table schema — {exc}"
            ) from None
        if sink_enforceable:
            reason = sink_compatible_reason(
                expr, columns={f.name for f in schema.fields}
            )
            if reason:
                raise ValueError(
                    f"cannot add constraint {name!r}: {reason}; the DSv2 "
                    "sink could not enforce CHECK "
                    f"({expr}) with Spark-identical semantics — rewrite the "
                    "expression, or pass sink_enforceable=False to accept "
                    "it (sink writes to this table will then refuse)"
                )
        files = self._files_of(state["adds"])
        if files:
            current = self._read_files(
                files,
                state["adds"],
                state["schema"],
                mapping=state.get("columnMapping"),
            )
            bad = current.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(1)
            if bad.count():
                raise ValueError(
                    f"cannot add constraint {name!r}: existing rows violate "
                    f"CHECK ({expr})"
                )
        return self._rebase_commit(
            [{"meta": {"constraints": {name: expr}}}],
            operation="ADD-CONSTRAINT",
            base=base,
            revalidate=self._validated_files_unchanged(state, "ADD-CONSTRAINT"),
        )

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT (None value in the meta action
        removes it on replay)."""
        state = self._replay_state()
        self._check_writer_features(state)
        if name not in state.get("constraints", {}):
            raise ValueError(f"no such constraint: {name!r}")
        return self._rebase_commit(
            [{"meta": {"constraints": {name: None}}}],
            operation="DROP-CONSTRAINT",
        )

    def set_not_null(self, col: str) -> int:
        """ALTER TABLE ... ALTER COLUMN <col> SET NOT NULL — a NOT
        NULL invariant, stored as the CHECK constraint
        ``nn_<col>: <col> IS NOT NULL`` so every existing enforcement
        path (append/merge/update/streaming/DSv2 sink, which all
        run the CHECK set) carries it, including the round-13
        null-extension rule that makes widening batches WITHOUT the
        column refuse instead of null-filling past the invariant.

        History validation is METADATA-FIRST (the round-13 null
        counts): live files whose logged ``nulls[col]`` is present
        are judged from the log — zero scan tasks; only files without
        a count (pre-round-13 adds, stat-less columns) fall back to
        one distributed IS NULL probe. On a fully-counted 100k-file
        table this verb is pure driver-side log arithmetic."""
        from pyspark.sql.types import StructType

        base = self.version()
        state = self._replay_state(as_of=base)
        self._check_writer_features(state)
        schema = StructType.fromJson(json.loads(state["schema"]))
        if col not in {f.name for f in schema.fields}:
            raise ValueError(f"no such column: {col!r}")
        name = f"nn_{col}"
        if name in state.get("constraints", {}):
            raise ValueError(f"constraint {name!r} already exists")
        phys = _cm_map(state.get("columnMapping")).get(col, col)
        unknown: list[str] = []
        counted_nulls = 0
        for rel, add in state["adds"].items():
            nc = (add.get("nulls") or {}).get(phys)
            if nc is None:
                pv = (add.get("partitionValues") or {})
                if phys in pv:
                    # exact hive value: None = all-NULL, else null-free
                    nc = add.get("rows", 0) if pv[phys] is None else 0
            if nc is None:
                unknown.append(rel)
            else:
                counted_nulls += nc
        if counted_nulls:
            raise ValueError(
                f"cannot SET NOT NULL on {col!r}: existing rows are NULL "
                f"({counted_nulls} per the logged null counts)"
            )
        if unknown:
            current = self._read_files(
                [
                    _data_file(self.path, r, state["adds"][r])
                    for r in unknown
                ],
                state["adds"],
                state["schema"],
                mapping=state.get("columnMapping"),
            )
            if current.filter(F.col(col).isNull()).limit(1).count():
                raise ValueError(
                    f"cannot SET NOT NULL on {col!r}: existing rows are NULL"
                )
        return self._rebase_commit(
            [{"meta": {"constraints": {name: f"{col} IS NOT NULL"}}}],
            operation="SET-NOT-NULL",
            base=base,
            revalidate=self._validated_files_unchanged(state, "SET-NOT-NULL"),
        )

    def drop_not_null(self, col: str) -> int:
        """ALTER TABLE ... ALTER COLUMN <col> DROP NOT NULL."""
        name = f"nn_{col}"
        state = self._replay_state()
        self._check_writer_features(state)
        if name not in state.get("constraints", {}):
            raise ValueError(f"column {col!r} has no NOT NULL constraint")
        return self._rebase_commit(
            [{"meta": {"constraints": {name: None}}}],
            operation="DROP-NOT-NULL",
        )

    def _check_writer_features(self, state: dict) -> None:
        """Raise if the log names a writer feature this writer does
        not implement — called by every verb that COMMITS (data or
        schema) so an unaware writer refuses instead of breaking the
        feature's invariant (reads stay legal either way)."""
        unknown = set(state.get("writerFeatures", ())) - SUPPORTED_WRITER_FEATURES
        if unknown:
            raise TableFeatureError(
                f"table {self.path} requires writer features {sorted(unknown)} "
                "this writer does not implement — upgrade the writer; "
                f"supported: {sorted(SUPPORTED_WRITER_FEATURES)}"
            )

    def _expr_deterministic(self, df: DataFrame, expr: str) -> bool:
        """Best-effort determinism probe of a SQL expression against
        ``df`` via the analyzed plan's ``deterministic`` flag
        (rand()/uuid()/shuffle() report False). Fail-open on any
        introspection surprise — analysis errors surface separately
        as named errors in :meth:`_apply_generated`."""
        try:
            jdf = df.select(F.expr(expr).alias("__gen_probe"))._jdf
            exprs = jdf.queryExecution().analyzed().expressions()
            return all(
                exprs.apply(i).deterministic() for i in range(exprs.size())
            )
        except Exception:  # noqa: BLE001 - py4j shape drift: advisory check
            return True

    def _apply_generated(
        self, df: DataFrame, state: dict, verify: bool = True
    ) -> DataFrame:
        """Materialize the table's generated columns on an incoming
        frame (Delta's generated-columns write contract): a column
        the writer OMITS is computed from its generation expression —
        the free path, the projection folds into the staging write —
        while a column the writer SUPPLIES is verified cell-by-cell
        against the expression (null-safe equality; one filter scan
        per supplied generated column, like a CHECK) and a mismatch
        refuses the write. Presence follows the analyzer's resolution
        rule (case-insensitive under the default
        ``spark.sql.caseSensitive=false``).

        A narrowing batch that omits a generation SOURCE column
        computes over NULL inputs — the same value a reader's
        null-fill would imply — via committed-schema augmentation
        helpers that are dropped before staging."""
        gen = state.get("generated") or {}
        if not gen:
            return df
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(state["schema"]))
        types = {f.name: f.dataType for f in schema.fields}
        cs = (
            str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower()
            == "true"
        )

        def find(name: str, cols) -> str | None:
            if name in cols:
                return name
            if not cs:
                low = name.lower()
                for c in cols:
                    if c.lower() == low:
                        return c
            return None

        for name, expr in gen.items():
            target = types.get(name)
            # committed source columns the batch omits null-fill for
            # the computation, exactly as they would on read
            aug = df
            for f in schema.fields:
                if f.name != name and find(f.name, df.columns) is None:
                    aug = aug.withColumn(f.name, F.lit(None).cast(f.dataType))
            try:
                val = F.expr(expr)
                if target is not None:
                    val = val.cast(target)
                have = find(name, df.columns)
                if have is not None:
                    if verify:
                        bad = aug.filter(
                            ~F.col(have).eqNullSafe(val)
                        ).limit(1)
                        if bad.count():
                            raise ValueError(
                                f"generated column {name!r} = ({expr}): the "
                                "written values do not match the generation "
                                "expression — omit the column to have it "
                                "computed, or fix the writer"
                            )
                else:
                    df = aug.select(*df.columns, val.alias(name))
            except AnalysisException as exc:
                raise ValueError(
                    f"generated column {name!r} = ({expr}) could not be "
                    f"evaluated against the incoming batch: {exc}"
                ) from exc
        return df

    def _enforce_constraints(self, df: DataFrame, state: dict) -> None:
        """Raise if any incoming row violates a CHECK constraint —
        called by every verb that introduces new row content, BEFORE
        staging. One filter scan per constraint over only the new
        frame (the Delta write-path invariant check).

        Whether the constraint applies to THIS frame is decided by
        Spark's own analyzer (try the filter, catch the resolution
        failure), not by string-matching parsed attribute names: the
        analyzer resolves case-insensitively under the default
        ``spark.sql.caseSensitive=false`` and handles qualified /
        nested references, so a constraint spelled ``CHECK (V > 0)``
        over a ``v`` column is enforced, never silently skipped. A
        genuine resolution failure means a widening batch without the
        constrained column — which used to be skipped outright on the
        "NULL passes CHECK" rule. That rule is UNSOUND for constraints
        NULL does not pass (``CHECK (c IS NOT NULL)`` evaluates FALSE
        on the null-filled column a reader will serve!), so since
        round 13 the batch is NULL-EXTENDED to the table schema first:
        enforcement filters exactly the values a read would produce —
        plain CHECKs still pass widening batches (NULL in, NULL out,
        not FALSE), while NOT-NULL-shaped ones refuse them. The
        analyzer-failure skip below survives only as a legacy guard
        (add_constraint analyzer-checks every expression at add time,
        so with the extension in place it should never fire)."""
        from pyspark.errors import AnalysisException

        cons = state.get("constraints") or {}
        if not cons:
            return
        schema_json = state.get("schema")
        if schema_json:
            from pyspark.sql.types import StructType

            have = {c.lower() for c in df.columns}
            for fld in StructType.fromJson(json.loads(schema_json)).fields:
                if fld.name.lower() not in have:
                    df = df.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
        for name, expr in cons.items():
            try:
                bad = df.filter(F.expr(expr).eqNullSafe(F.lit(False))).limit(1)
            except AnalysisException as exc:
                cls = ""
                try:
                    cls = exc.getErrorClass() or ""
                except Exception:  # pragma: no cover - very old exc shape
                    pass
                if "UNRESOLVED_COLUMN" in cls or "UNRESOLVED_COLUMN" in str(exc):
                    # widening batch without the constrained column:
                    # the column null-fills, NULL passes CHECK — the
                    # ONLY analysis failure that may skip enforcement
                    continue
                # anything else (e.g. an ambiguous reference from a
                # case-duplicate column in the batch) must surface,
                # never silently unenforce the invariant
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) could not be "
                    f"evaluated against the incoming batch: {exc}"
                ) from exc
            if bad.count():
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated by the "
                    "incoming batch"
                )

    def append_batch(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Idempotent append for streaming ``foreachBatch`` sinks —
        the exactly-once protocol every lakehouse sink uses over an
        at-least-once engine: the commit carries a ``txn`` action
        ``(appId, batchId)``; a replayed batch (failure/restart
        reprocessing, speculative re-run) finds its marker in the log
        and becomes a no-op instead of duplicating rows. Data is
        staged BEFORE the txn check narrows the race to the commit
        itself, where the version O_EXCL arbitrates: a conflict loser
        re-reads the log, sees its own marker if the winner was its
        twin, and drops out. Returns the committed version, or None
        for a skipped duplicate."""
        base_v = self.version()
        state = self._replay_state(as_of=base_v)
        if batch_id in state["txns"].get(app_id, set()):
            return None
        self._check_writer_features(state)
        df = self._require_schema_subset(df, state)
        if state.get("identity"):
            return self._append_identity(
                df, (app_id, batch_id), "STREAMING-APPEND",
                first=(base_v, state),
            )
        df = self._apply_generated(df, state)
        self._enforce_constraints(df, state)
        actions = self._stage(df, mapping=state.get("columnMapping"))
        actions.append({"txn": {"appId": app_id, "batchId": batch_id}})
        # a twin winning the race makes this a None no-op; the staged
        # files are vacuum-able orphans
        return self._rebase_commit(
            actions,
            "STREAMING-APPEND",
            base=base_v,
            txn=(app_id, batch_id),
            revalidate=self._enforced_meta_unchanged(state),
        )

    def foreach_batch_writer(self, app_id: str):
        """``writeStream.foreachBatch(t.foreach_batch_writer("job"))``
        — binds append_batch as the sink function."""

        def write(batch_df: DataFrame, batch_id: int) -> None:
            self.append_batch(batch_df, app_id, batch_id)

        return write

    def evolve_schema(self, df: DataFrame) -> int:
        """Append a batch whose schema is a SUPERSET (or subset) of
        the table's: the commit records the UNION schema in a meta
        action; readers null-fill missing columns (mergeSchema).
        Under column mapping, brand-new columns get FRESH physical
        names (``col-<id>``) so a previously dropped column's residue
        in old files can never resurrect under a reused logical
        name."""
        base = self.version()
        state = self._replay_state()
        self._check_writer_features(state)
        if state.get("identity"):
            # ids assign above the replayed hwm; a commit that lost
            # the version race surfaces as a conflict (never a rebase
            # of stale ids — the interloper may hold the same range)
            df = self._pin_identity_frame(
                self._assign_identity(df, state["identity"]), state
            )
        df = self._apply_generated(df, state)
        # round 13: evolve_schema is a write verb like any other — it
        # runs the CHECK set (with the null-extension rule, so a batch
        # WITHOUT a NOT-NULL column refuses instead of null-filling
        # past the invariant; plain CHECKs still pass on NULL)
        self._enforce_constraints(df, state)
        mapping = state.get("columnMapping")
        merged = self.snapshot_schema_union(state["schema"], df)
        meta: dict = {"schema": merged}
        if mapping:
            mapping = self._extend_mapping(mapping, merged)
            meta["columnMapping"] = mapping
        actions = self._stage(df, state["partitionColumns"], mapping=mapping)
        if state.get("identity"):
            actions.append(
                {
                    "meta": {
                        "identityColumns": self._identity_with_hwm(
                            state["identity"], actions, mapping
                        )
                    }
                }
            )
        actions.append({"meta": meta})
        return self._commit(actions, base, operation="EVOLVE-SCHEMA")

    @staticmethod
    def _extend_mapping(mapping: dict, schema_json: str) -> dict:
        """``mapping`` extended to cover every field of
        ``schema_json`` — brand-new logical columns get fresh
        ``col-<id>`` physical names (never a reused one, so a dropped
        column's residue cannot resurrect; ids skip past user columns
        literally named ``col-<n>``)."""
        from pyspark.sql.types import StructType

        phys = _cm_map(mapping)
        max_id = int(mapping.get("maxId", 0))
        taken = set(phys.values())
        for fld in StructType.fromJson(json.loads(schema_json)).fields:
            if fld.name not in phys:
                max_id += 1
                while f"col-{max_id}" in taken:
                    max_id += 1
                phys[fld.name] = f"col-{max_id}"
                taken.add(f"col-{max_id}")
        return {"mode": "name", "physical": phys, "maxId": max_id}

    def _mapping_for_ddl(self, state: dict) -> dict:
        """The table's columnMapping, upgrading on first use: absent
        mapping → identity map over the committed schema (every
        existing column's physical name is its current name — exactly
        the Delta upgrade rule, so data already written stays
        readable without rewrites)."""
        from pyspark.sql.types import StructType

        mapping = state.get("columnMapping")
        if mapping:
            return {
                "mode": "name",
                "physical": _cm_map(mapping),
                "maxId": int(mapping.get("maxId", 0)),
            }
        names = [
            f.name for f in StructType.fromJson(json.loads(state["schema"])).fields
        ]
        return {"mode": "name", "physical": {n: n for n in names}, "maxId": 0}

    def _refuse_constrained_column(self, state: dict, col: str, verb: str) -> None:
        """Refuse a rename/drop of a column any CHECK constraint
        references. Names compare the way Spark's analyzer resolves
        them — case-insensitively under the default
        ``spark.sql.caseSensitive=false``, and a qualified/nested
        reference counts via its root name part — so a constraint
        spelled ``CHECK (V > 0)`` still pins a ``v`` column (an exact
        string compare would let the rename through and permanently
        orphan the constraint)."""
        case_sensitive = (
            str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower()
            == "true"
        )
        key = col if case_sensitive else col.lower()
        for cname, cexpr in (state.get("constraints") or {}).items():
            roots = {a.split(".")[0] for a in _expr_attr_names(self.spark, cexpr)}
            if not case_sensitive:
                roots = {r.lower() for r in roots}
            if key in roots:
                raise ValueError(
                    f"cannot {verb} column {col!r}: CHECK constraint "
                    f"{cname!r} references it — drop the constraint first"
                )

    def _refuse_generated_source(self, state: dict, col: str, verb: str) -> None:
        """Refuse a rename/drop of a column any GENERATION expression
        references (the expression is a stored string — moving its
        source would orphan it); same analyzer-style name resolution
        as :meth:`_refuse_constrained_column`. The generated column
        ITSELF may be renamed (the entry rekeys) or dropped (the
        entry retires) — only its sources are pinned."""
        case_sensitive = (
            str(self.spark.conf.get("spark.sql.caseSensitive", "false")).lower()
            == "true"
        )
        key = col if case_sensitive else col.lower()
        for gname, gexpr in (state.get("generated") or {}).items():
            roots = {a.split(".")[0] for a in _expr_attr_names(self.spark, gexpr)}
            if not case_sensitive:
                roots = {r.lower() for r in roots}
            if key in roots:
                raise ValueError(
                    f"cannot {verb} column {col!r}: generated column "
                    f"{gname!r} = ({gexpr}) references it — drop the "
                    "generated column first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — one metadata-only commit, no
        data file touched (the Delta columnMapping name-mode rename:
        the logical schema changes, the column keeps its physical
        name forever). First use upgrades the table: the mapping meta
        lands and ``columnMapping`` joins the required reader
        features, so a mapping-unaware reader fails closed instead of
        serving stale names. Renaming a partition column is legal —
        hive dirs and partitionValues keys are physical and stay
        put; only the ``partitionColumns`` meta moves."""
        from pyspark.sql.types import StructField, StructType

        base = self.version()
        state = self._replay_state()
        schema = StructType.fromJson(json.loads(state["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._check_writer_features(state)
        self._refuse_constrained_column(state, old, "rename")
        self._refuse_generated_source(state, old, "rename")
        mapping = self._mapping_for_ddl(state)
        phys = mapping["physical"]
        phys[new] = phys.pop(old)
        fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old
            else f
            for f in schema.fields
        ]
        meta = {
            "schema": StructType(fields).json(),
            "columnMapping": mapping,
            "readerFeatures": sorted(
                set(state["readerFeatures"]) | {"columnMapping"}
            ),
        }
        if old in state["partitionColumns"]:
            meta["partitionColumns"] = [
                new if c == old else c for c in state["partitionColumns"]
            ]
        if old in (state.get("generated") or {}):
            # a generated column renames like any other (the
            # expression string doesn't name the column itself) —
            # the generation entry just rekeys
            meta["generatedColumns"] = {
                old: None,
                new: state["generated"][old],
            }
        if old in (state.get("identity") or {}):
            # identity spec (incl. the high-water mark) rekeys with
            # the logical name; the physical column never moves
            meta["identityColumns"] = {
                old: None,
                new: state["identity"][old],
            }
        return self._commit([{"meta": meta}], base, operation="RENAME-COLUMN")

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only, O(1): the column
        leaves the logical schema and the mapping; its bytes linger
        in existing files but no read path can surface them (readers
        prune physicals the mapping no longer names). Dropping a
        partition column is refused — partition pruning and hive
        layout would silently diverge."""
        from pyspark.sql.types import StructType

        base = self.version()
        state = self._replay_state()
        schema = StructType.fromJson(json.loads(state["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no such column: {name!r}")
        if name in state["partitionColumns"]:
            raise ValueError(f"cannot drop partition column {name!r}")
        if len(names) == 1:
            raise ValueError("cannot drop the table's last column")
        self._check_writer_features(state)
        self._refuse_constrained_column(state, name, "drop")
        self._refuse_generated_source(state, name, "drop")
        mapping = self._mapping_for_ddl(state)
        mapping["physical"].pop(name, None)
        meta = {
            "schema": StructType(
                [f for f in schema.fields if f.name != name]
            ).json(),
            "columnMapping": mapping,
            "readerFeatures": sorted(
                set(state["readerFeatures"]) | {"columnMapping"}
            ),
        }
        if name in (state.get("generated") or {}):
            # dropping a generated column retires its generation
            meta["generatedColumns"] = {name: None}
        if name in (state.get("identity") or {}):
            # dropping an identity column retires its spec (and hwm)
            meta["identityColumns"] = {name: None}
        return self._commit([{"meta": meta}], base, operation="DROP-COLUMN")

    @staticmethod
    def snapshot_schema_union(old_json: str | None, df: DataFrame) -> str:
        import json as _json

        from pyspark.sql.types import StructType

        new = df.schema
        if not old_json:
            return new.json()
        old = StructType.fromJson(_json.loads(old_json))
        fields = {f.name: f for f in old.fields}
        for f in new.fields:
            fields.setdefault(f.name, f)
        return StructType(list(fields.values())).json()

    # ---------------- read path ----------------

    def files(self, as_of: int | None = None) -> list[str]:
        adds = self._replay_state(as_of)["adds"]
        return self._files_of(adds)

    def _files_of(self, adds: dict[str, dict]) -> list[str]:
        """Resolved on-disk paths of ``adds`` — table-relative keys
        joined under this table's root, shallow-clone references
        (``absPath``) taken verbatim."""
        return [_data_file(self.path, rel, a) for rel, a in adds.items()]

    def partition_columns(self, as_of: int | None = None) -> list[str]:
        """The table's hive-partition columns ([] = unpartitioned),
        from the committed meta — every rewrite preserves them."""
        if self.version() < 0:
            return []
        return self._replay_state(as_of)["partitionColumns"]

    def version_at(self, timestamp: float | str) -> int:
        """Latest committed version whose ``commitInfo`` wall-clock
        is <= ``timestamp`` (epoch seconds or an ISO datetime) — the
        Delta batch ``timestampAsOf`` resolution, vs the streaming
        ``startingTimestamp`` rule which picks the FIRST version at
        or after. Commits without commitInfo (bare internal commits)
        are skipped. Raises when every timestamped commit is later.
        Pure driver-side log metadata — O(tail) via
        :meth:`commit_timestamps`."""
        ts = _parse_ts(timestamp)
        cts = self.commit_timestamps()
        best = max((v for v, t in cts.items() if t <= ts), default=None)
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp} in {self.path}"
            )
        return best

    def commit_timestamps(self) -> dict[int, float]:
        """(version -> commitInfo wall-clock) for every timestamped
        commit — the replay's fold, seeded from the newest
        checkpoint's envelope (its COMPLETE index, no add rows), over
        only the post-checkpoint tail: O(tail), not O(versions) JSON
        opens. A checkpoint without the index seeds nothing, so the
        walk starts at version 0 — never a partial answer. A missing
        commit inside the walk raises. Shared by batch
        ``timestampAsOf`` (:meth:`version_at`) and the streaming
        ``startingTimestamp`` resolution (txlog_source), so the two
        surfaces read the same index."""
        top = self.version()
        state, start = self._seed_state(top, envelope_only=True)
        for v in range(start, top + 1):
            self._apply_commit(state, v, self._read_commit(v))
        return state["commitTs"]

    def detail(self) -> dict:
        """DESCRIBE DETAIL payload (Delta's table-metadata one-row
        surface): format, location, version, live-file count and
        byte size, logged row count, partition columns, properties,
        constraints, and writer features. Pure driver-side log
        metadata plus one ``os.path.getsize`` per live file —
        O(files), zero scan tasks (row counts come from the logged
        add actions, never a read)."""
        state = self._replay_state()
        files = [
            _data_file(self.path, r, state["adds"][r]) for r in state["adds"]
        ]
        size = 0
        for f in files:
            try:
                size += os.path.getsize(f)
            except OSError:
                pass  # FSCK territory — detail() reports, never raises
        # the replay's own index, unless its checkpoint seeded a
        # tail-only one
        cts = state["commitTs"] if state["commitTsComplete"] else self.commit_timestamps()
        return {
            "format": "hz_txlog",
            "location": self.path,
            "version": self.version(),
            "numFiles": len(files),
            "sizeInBytes": size,
            # LOGICAL row count: logged add rows minus each file's
            # deletion-vector cardinality, so numRows agrees with
            # SELECT COUNT(*) on dv-deleted tables (advisor r14)
            "numRows": sum(
                int(a.get("rows", 0))
                - int((a.get("dv") or {}).get("deleted", 0))
                for a in state["adds"].values()
            ),
            # clone localization progress: files still referenced at
            # their source-absolute location (a fresh shallow clone
            # has numFiles of them; compact() drives this to 0)
            "numAbsPathFiles": sum(
                1 for a in state["adds"].values() if a.get("absPath")
            ),
            "partitionColumns": list(state["partitionColumns"] or []),
            "properties": dict(state.get("properties") or {}),
            "constraints": dict(state.get("constraints") or {}),
            "writerFeatures": sorted(state.get("writerFeatures", ())),
            "lastModified": max(cts.values()) if cts else None,
        }

    def history(self, limit: int | None = None) -> DataFrame:
        """DESCRIBE HISTORY: one row per commit, NEWEST FIRST —
        (version, timestamp, operation, info), the Delta audit
        surface. ``limit`` bounds the walk to the newest N commits
        (O(limit) driver-side JSON opens, the usual "what changed
        recently" question costs O(10) regardless of table age);
        ``None`` walks the whole retained log. Vacuumed log heads
        skip silently; commits without commitInfo (bare internal
        commits) report a null operation. Returned as a DataFrame so
        the audit joins/filters like any other table."""
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            MapType,
            StringType,
            StructField,
            StructType,
        )

        rows = []
        v = self.version()
        while v >= 0 and (limit is None or len(rows) < limit):
            try:
                actions = self._read_commit(v)
            except (OSError, ValueError):
                v -= 1
                continue  # vacuumed log head
            stamp = next(
                (a["commitInfo"] for a in actions if "commitInfo" in a), {}
            )
            info = {
                k: str(val)
                for k, val in stamp.items()
                if k not in ("operation", "timestamp")
            }
            rows.append(
                (
                    v,
                    float(stamp["timestamp"]) if "timestamp" in stamp else None,
                    stamp.get("operation"),
                    info,
                )
            )
            v -= 1
        schema = StructType(
            [
                StructField("version", LongType(), False),
                StructField("timestamp", DoubleType(), True),
                StructField("operation", StringType(), True),
                StructField("info", MapType(StringType(), StringType()), True),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def snapshot(
        self,
        as_of: int | None = None,
        as_of_timestamp: float | str | None = None,
    ) -> DataFrame:
        """DataFrame over exactly the log's live files (time travel
        via ``as_of`` — a version — or ``as_of_timestamp``, resolved
        through :meth:`version_at`). mergeSchema covers evolved
        generations — every file's columns surface, missing ones
        null-fill; deletion-vector positions are masked out."""
        if as_of is not None and as_of_timestamp is not None:
            raise ValueError("pass as_of OR as_of_timestamp, not both")
        if as_of_timestamp is not None:
            as_of = self.version_at(as_of_timestamp)
        state = self._replay_state(as_of)
        files = self._files_of(state["adds"])
        if not files:
            # empty table: zero-row frame with the committed schema
            from pyspark.sql.types import StructType

            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(state["schema"]))
            )
        return self._read_files(
            files,
            state["adds"],
            state["schema"],
            mapping=state.get("columnMapping"),
        )

    def _read_files(
        self,
        files: list[str],
        adds: dict[str, dict] | None = None,
        schema_json: str | None = None,
        keep_rel: str | None = None,
        mapping: dict | None = None,
    ) -> DataFrame:
        """Read data files, reattaching hive partition values and
        masking any deletion-vector positions the log attaches — THE
        read primitive every verb (snapshot, MERGE rewrite, DELETE
        rewrite, OPTIMIZE) goes through, so partition layout and
        merge-on-read deletes are invisible to all of them.

        Partitioned files don't store their partition columns; the
        values ride the add actions and come back as typed columns
        (:meth:`_attach_pv`). Files without a dv take the plain
        vectorized scan unchanged. dv'd files scan once with
        ``_metadata`` row positions and anti-join the vector rows on
        (part-file name, position) — part-file names embed a per-job
        UUID, so the name is a stable relocation-proof key. The
        vector side is broadcast (deleted positions are small by
        construction; a vector that grew big is what ``compact()``
        materializes away).

        ``schema_json`` is the CALLER's replayed schema (time travel
        must reattach partition values with the historical types and
        column order, not the head's — and threading it avoids a
        redundant full replay per read). ``mapping`` is the caller's
        replayed ``columnMapping``: files store PHYSICAL names, the
        returned frame is LOGICAL — renamed in one projection, with
        physical columns the mapping no longer names (DROP COLUMN
        residue in old files) pruned so dropped data never
        resurrects."""
        if adds is None:
            state = self._replay_state()
            adds = state["adds"]
            schema_json = schema_json or state["schema"]
            mapping = state.get("columnMapping")

        # the LOG is the schema authority (the Delta read model):
        # passing it to the scan skips the footer-inference job every
        # bare spark.read.parquet dispatches — at 100 TB that job is a
        # distributed footer sweep over the live file set, paid per
        # verb. partitionValues-keyed columns are never stored in data
        # files (``_stage`` writes them as hive dirs), so they are
        # excluded; files missing later-evolved columns null-fill,
        # dropped-column residue is never read — both exactly the
        # mergeSchema-read semantics this replaces (and the DSv2
        # source's existing log-schema contract).
        read_schema = (
            _physical_read_schema(schema_json, mapping, adds)
            if schema_json
            else None
        )

        dv_of = {
            _data_file(self.path, rel, a): a["dv"]
            for rel, a in adds.items()
            if a.get("dv")
        }

        def scan(fs: list[str], rel_col: str | None) -> DataFrame:
            return _scan_to_logical(
                self._read_files_core(
                    fs, dv_of, rel_col=rel_col, read_schema=read_schema
                ),
                mapping,
                keep_extra=(rel_col,) if rel_col else (),
            )

        return self._attach_pv(files, adds, schema_json, mapping, scan, keep_rel)

    def _attach_pv(
        self,
        files: list[str],
        adds: dict[str, dict],
        schema_json: str | None,
        mapping: dict | None,
        scan,
        keep_rel: str | None = None,
    ) -> DataFrame:
        """``scan(fs, rel_col)`` over ``files`` with their hive
        partition values attached as typed columns — the one
        partition-value attach of the read planners. ``scan`` returns
        the LOGICAL frame of ``fs``, carrying the decoded
        table-relative path as ``rel_col`` when that is not None;
        ``keep_rel`` names the path column the caller keeps.

        Two plan shapes, chosen by partition cardinality
        (``_PV_UNION_MAX``): at low cardinality, one scan branch per
        distinct value tuple with LITERAL columns — Catalyst
        constant-folds partition predicates per branch (partition
        pruning for free) and the plan stays exchange-free; above the
        threshold a 10k-partition table would make a 10k-way union
        plan (VERDICT r10 #5), so the read collapses to ONE scan plus
        a broadcast join against O(files) rows of log metadata keyed
        on the table-relative path — plan size O(1), the join side
        kilobytes. Columns come back in the committed schema's
        order."""
        # partitionValues keys are physical (hive dirs) — re-key to
        # logical so pv columns attach under the names the caller's
        # schema speaks
        pv_of = {
            _data_file(self.path, rel, a): _rekey_logical(
                a["partitionValues"], mapping
            )
            for rel, a in adds.items()
            if a.get("partitionValues")
        }
        if not any(f in pv_of for f in files):
            return scan(files, keep_rel)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(
            json.loads(schema_json or self._replay_state()["schema"])
        )
        types = {fld.name: fld.dataType for fld in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(tuple(sorted(pv_of.get(f, {}).items())), []).append(f)
        if len(groups) > _PV_UNION_MAX:
            pcols = sorted({c for pv in pv_of.values() for c in pv})
            rel = keep_rel or "__hz_rel"
            out = scan(files, rel).join(
                F.broadcast(self._pv_frame(files, pv_of, pcols, types, rel)),
                rel,
                "left",
            )
            if keep_rel is None:
                out = out.drop(rel)
        else:
            parts: list[DataFrame] = []
            for key, fs in groups.items():
                df = scan(fs, keep_rel)
                for col, val in key:
                    dt = types.get(col)
                    lit = F.lit(pv_cast(val, dt)) if dt is not None else F.lit(val)
                    if dt is not None:
                        lit = lit.cast(dt)
                    df = df.withColumn(col, lit)
                parts.append(df)
            out = parts[0]
            for df in parts[1:]:
                out = out.unionByName(df, allowMissingColumns=True)
        # deterministic order: the committed schema's column order
        ordered = [fld.name for fld in schema.fields if fld.name in out.columns]
        extra = [c for c in out.columns if c not in ordered]
        return out.select(*ordered, *extra)

    def _pv_frame(
        self,
        files: list[str],
        pv_of: dict,
        pcols: list[str],
        types: dict,
        key_col: str = "__hz_rel",
    ) -> DataFrame:
        """Frame (table-relative path → typed partition values), one
        row per file — pure log metadata, kilobytes at any table
        size. Callers broadcast it for scan-side joins or filter it
        directly for driver-side scoping."""
        from pyspark.sql.types import StringType, StructField, StructType

        rows = [
            tuple(
                [_rel_key(f)]
                + [
                    pv_cast((pv_of.get(f) or {}).get(c), types[c])
                    for c in pcols
                ]
            )
            for f in files
        ]
        mapping_schema = StructType(
            [StructField(key_col, StringType())]
            + [StructField(c, types[c]) for c in pcols]
        )
        return self.spark.createDataFrame(rows, mapping_schema)

    def _reader(self, read_schema=None):
        """A parquet reader with the caller's LOG-derived physical
        schema when available (zero schema-inference jobs), falling
        back to a mergeSchema footer sweep only when no committed
        schema exists to trust (the convert path)."""
        if read_schema is not None:
            return self.spark.read.schema(read_schema)
        return self.spark.read.option("mergeSchema", "true")

    def _read_files_core(
        self,
        files: list[str],
        dv_of: dict[str, dict],
        rel_col: str | None = None,
        read_schema=None,
    ) -> DataFrame:
        """``rel_col`` keeps the DECODED table-relative path as a
        column on every branch (from ``_metadata.file_path``, which
        is percent-encoded) — the join key of the high-cardinality
        partition-value attach."""
        plain = [f for f in files if f not in dv_of]
        dvd = [f for f in files if f in dv_of]
        parts: list[DataFrame] = []
        if plain:
            df = self._reader(read_schema).parquet(*plain)
            if rel_col:
                df = df.withColumn(rel_col, _decoded_rel_col())
            parts.append(df)
        if dvd:
            scan = (
                self._reader(read_schema)
                .parquet(*dvd)
                .withColumn("__hz_fname", _dv_key_col())
                .withColumn("__hz_pos", F.col("_metadata.row_index"))
            )
            if rel_col:
                scan = scan.withColumn(rel_col, _decode_uri_col(F.col("__hz_fname")))
            dv = self.spark.read.schema(_DV_SCHEMA).parquet(
                *[_data_file(self.path, dv_of[f]["path"], dv_of[f]) for f in dvd]
            ).select(
                F.col("fname").alias("__dv_fname"), F.col("pos").alias("__dv_pos")
            )
            # the log knows the vector size exactly — broadcast while
            # it fits comfortably, fall back to a shuffled anti-join
            # for a pathological vector (the state compact() exists
            # to materialize away) instead of blowing the broadcast
            # memory limit on the driver/executors
            total_deleted = sum(int(dv_of[f].get("deleted", 0)) for f in dvd)
            if total_deleted <= 10_000_000:
                dv = F.broadcast(dv)
            parts.append(
                scan.join(
                    dv,
                    (F.col("__hz_fname") == F.col("__dv_fname"))
                    & (F.col("__hz_pos") == F.col("__dv_pos")),
                    "left_anti",
                ).drop("__hz_fname", "__hz_pos")
            )
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def pruned_files(
        self,
        col: str,
        keys_min,
        keys_max,
        as_of: int | None = None,
        state: dict | None = None,
    ) -> tuple[list[str], list[str]]:
        """(files whose [min,max] stats for ``col`` intersect
        [keys_min, keys_max], files that provably cannot) — the
        data-skipping primitive MERGE uses, by the ``_range_fn`` rule:
        a hive partition value is an exact [v, v] bound (partition
        pruning for free), and a file without stats for ``col`` — or
        whose logged stats aren't comparable with the probe bounds
        (e.g. string stats vs numeric keys after a type change) — is
        conservatively IN: skipping is only ever an optimization,
        never a correctness gate. ``state`` lets a caller already
        holding the replayed snapshot skip the re-replay."""
        if state is None:
            state = self._replay_state(as_of)
        # log stats/pv are keyed physical; ``col`` is logical
        may_hold = _range_fn(
            _cm_map(state.get("columnMapping")).get(col, col), keys_min, keys_max
        )
        hit, miss = [], []
        for p, add in state["adds"].items():
            overlaps = may_hold(
                add.get("stats") or {}, add.get("partitionValues") or {}
            )
            (hit if overlaps else miss).append(_data_file(self.path, p, add))
        return hit, miss

    def index_bloom(
        self,
        cols: str | list[str],
        bits: int = 8192,
        hashes: int = 5,
        where: str | None = None,
    ) -> int:
        """Build per-file BLOOM FILTER indexes (Delta's bloom-filter
        data-skipping shape) for ``cols`` — integral or string
        columns. Min/max footer stats prune RANGES well but point
        lookups badly once values interleave across files (every file
        of a 100k-file table overlaps ``user_id = X`` after enough
        appends); a 1 KiB bloom sidecar per file answers "provably
        absent" for equality/IN probes, so a GDPR point-DELETE
        schedules scan tasks only for files that plausibly contain
        the key.

        A MAINTENANCE verb, not a write-path hook: one distributed
        scan over the live files not yet indexed for ``cols``
        (``where`` scopes by partition predicate like
        :meth:`compact`), one ``_bloom/`` JSON sidecar written per
        file FROM THE EXECUTORS (the driver sees O(files) metadata
        rows, never positions), and one commit that re-emits the add
        actions with the pointer (``dataChange=False`` — content
        unchanged; the feed skips it). Files appended later are
        simply unindexed until the next tick — an absent bloom always
        means "cannot skip", never a wrong skip. Re-indexing a file
        REPLACES its sidecar: call with the full column list you
        want. Conflicts follow the OPTIMIZE rule (rebase over blind
        appends; anything touching an input file surfaces).

        Skipping soundness: the build hashes the physical column
        cast to long/string; probes (:meth:`_bloom_prune`) hash the
        literal through the same JVM expression and only fire on
        type-matching conjunct-level equality atoms. Entirely-null /
        column-absent files are indexed as an EMPTY bloom — equality
        to a non-null literal is provably false there, so they skip.

        Returns the committed version (the current one when nothing
        in scope needed indexing)."""
        cols = [cols] if isinstance(cols, str) else list(cols)
        if not cols:
            raise ValueError("index_bloom needs at least one column")
        if not 1 <= hashes <= _BLOOM_MAX_K:
            raise ValueError(f"hashes must be in [1, {_BLOOM_MAX_K}]")
        if bits < 64 or bits % 8:
            raise ValueError("bits must be a multiple of 8, >= 64")
        base = self.version()
        if base < 0:
            return base
        state = self._replay_state()
        self._check_writer_features(state)
        from pyspark.sql.types import StructField, StructType

        types = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(state["schema"])).fields
        }
        kinds: dict[str, str] = {}
        for c in cols:
            if c not in types:
                raise ValueError(f"no such column: {c!r}")
            if c in state["partitionColumns"]:
                raise ValueError(
                    f"{c!r} is a partition column — partitionValues "
                    "already prune it exactly"
                )
            t = types[c]
            if t in ("int", "bigint", "smallint", "tinyint"):
                kinds[c] = "long"
            elif t == "string":
                kinds[c] = "string"
            else:
                raise ValueError(
                    f"bloom index supports integral and string columns; "
                    f"{c!r} is {t}"
                )
        mapping = state.get("columnMapping")
        phys = _cm_map(mapping)
        pcols_of = {c: phys.get(c, c) for c in cols}
        want = set(pcols_of.values())
        scope = [
            rel
            for rel in self._partition_scope(state, where)
            if want - set((state["adds"][rel].get("bloom") or {}).get("indexed", []))
        ]
        if not scope:
            return base
        files = [_data_file(self.path, rel, state["adds"][rel]) for rel in scope]
        # log-schema read restricted to the indexed physical columns:
        # no footer-inference job, guaranteed column pruning. A file
        # not carrying an evolved column reads it as NULL, which the
        # isNotNull gate below drops — byte-identical sidecars to the
        # old mergeSchema + present-column check.
        idx_schema = StructType(
            [
                StructField(f.name, f.dataType, True)
                for f in _physical_read_schema(
                    state["schema"], mapping, state["adds"]
                ).fields
                if f.name in want
            ]
        )
        reader = self.spark.read.schema(idx_schema).parquet(*files)
        present = set(reader.columns)
        base_df = reader.withColumn("__hz_rel", _decoded_rel_col())
        parts = []
        for c in cols:
            p = pcols_of[c]
            if p not in present:
                continue  # no scoped file carries it: empty blooms below
            expr = F.col(p).cast("long" if kinds[c] == "long" else "string")
            parts.append(
                base_df.where(F.col(p).isNotNull()).select(
                    "__hz_rel",
                    F.lit(p).alias("c"),
                    F.explode(
                        F.array(
                            *[
                                F.pmod(F.xxhash64(expr, F.lit(i)), F.lit(bits))
                                for i in range(hashes)
                            ]
                        )
                    ).alias("p"),
                )
            )
        os.makedirs(os.path.join(self.path, "_bloom"), exist_ok=True)
        table_path = self.path
        indexed = sorted(want)
        n_bits = bits
        n_hashes = hashes

        def write_bloom(pdf):
            import base64 as _b64
            import json as _json
            import os as _os
            import uuid as _uuid

            import pandas as _pd

            cols_b = {}
            for c, grp in pdf.groupby("c"):
                buf = bytearray(n_bits // 8)
                for pos in grp["p"].unique():
                    pos = int(pos)
                    buf[pos >> 3] |= 1 << (pos & 7)
                cols_b[str(c)] = _b64.b64encode(bytes(buf)).decode("ascii")
            rel = _os.path.join("_bloom", f"bloom-{_uuid.uuid4().hex}.json")
            with open(_os.path.join(table_path, rel), "w") as fh:
                _json.dump(
                    {
                        "m": n_bits,
                        "k": n_hashes,
                        "indexed": indexed,
                        "cols": cols_b,
                    },
                    fh,
                )
            return _pd.DataFrame(
                {"rel": [pdf["__hz_rel"].iloc[0]], "sidecar": [rel]}
            )

        if parts:
            pos_df = parts[0]
            for b in parts[1:]:
                pos_df = pos_df.unionByName(b)
            meta = (
                pos_df.groupBy("__hz_rel")
                .applyInPandas(write_bloom, "rel string, sidecar string")
                .collect()
            )
        else:
            meta = []
        sidecar_of = {r.rel: r.sidecar for r in meta}
        # files whose every indexed column is null/absent produce no
        # position rows — give them an explicit EMPTY sidecar (all
        # bits clear), which is exactly the "provably absent" answer
        for rel in scope:
            if rel not in sidecar_of:
                side = os.path.join("_bloom", f"bloom-{uuid.uuid4().hex}.json")
                with open(os.path.join(self.path, side), "w") as fh:
                    json.dump(
                        {"m": bits, "k": hashes, "indexed": indexed, "cols": {}},
                        fh,
                    )
                sidecar_of[rel] = side
        actions = []
        for rel in scope:
            add = dict(state["adds"][rel])
            add["bloom"] = {"path": sidecar_of[rel], "indexed": indexed}
            add["dataChange"] = False  # index build: content unchanged
            actions.append({"add": add})
        return self._commit_rewrite(actions, base, scope, state, "BLOOM-INDEX")

    def _bloom_prune(self, files: list[str], state: dict, pred_sql: str) -> list[str]:
        """Drop candidate files whose bloom sidecars PROVE a
        conjunct-level equality atom of ``pred_sql`` cannot match
        (see :meth:`index_bloom`). Sidecar reads are driver-side
        O(candidates) small JSONs, paid only for files that survived
        stats pruning and carry an index; any surprise keeps the
        file (skipping is an optimization, never a gate)."""
        if not any(
            state["adds"].get(_rel_key(f), {}).get("bloom") for f in files
        ):
            return files
        node = (
            self.spark._jsparkSession.sessionState()
            .sqlParser()
            .parseExpression(pred_sql)
        )
        atoms = _bloom_atoms(node)
        if not atoms:
            return files
        from pyspark.sql.types import StructType

        types = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(state["schema"])).fields
        }
        phys = _cm_map(state.get("columnMapping"))
        probes: list[tuple] = []
        compiled: list[tuple[str, list[int]]] = []  # (physical col, probe idxs)
        for name, vals in atoms:
            t = types.get(name)
            kind = (
                "long"
                if t in ("int", "bigint", "smallint", "tinyint")
                else ("string" if t == "string" else None)
            )
            if kind is None:
                continue
            # a literal whose family differs from the column's would
            # compare under implicit casts the index didn't hash —
            # drop the whole atom (an IN with one mistyped value
            # could otherwise skip wrongly)
            if not all(
                isinstance(v, int) if kind == "long" else isinstance(v, str)
                for v in vals
            ):
                continue
            idxs = []
            for v in vals:
                idxs.append(len(probes))
                probes.append((v, kind))
            compiled.append((phys.get(name, name), idxs))
        if not compiled:
            return files
        hashes = _bloom_probe_hashes(self.spark, probes)
        import base64

        kept = []
        for f in files:
            bl = state["adds"].get(_rel_key(f), {}).get("bloom")
            if not bl:
                kept.append(f)
                continue
            try:
                side = json.load(open(os.path.join(self.path, bl["path"])))
                m, k = int(side["m"]), int(side["k"])
                indexed = set(side.get("indexed", []))
                skip = False
                for pname, idxs in compiled:
                    if pname not in indexed:
                        continue
                    b64 = side["cols"].get(pname)
                    if b64 is None:
                        skip = True  # indexed but all-null: no value present
                        break
                    blob = base64.b64decode(b64)
                    if not any(
                        _bloom_contains(blob, m, hashes[i][:k]) for i in idxs
                    ):
                        skip = True
                        break
            except Exception:
                skip = False  # unreadable sidecar: cannot skip
            if not skip:
                kept.append(f)
        return kept

    # ---------------- transactions ----------------

    def merge_upsert(
        self,
        updates: DataFrame,
        key: str | list[str],
        txn: tuple[str, int] | None = None,
        resolve: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        retries: int = 0,
    ) -> int | None:
        """Copy-on-write MERGE: rows of ``updates`` replace same-key
        rows, new keys append. Only files whose key-range stats
        intersect the update keys are rewritten; untouched files keep
        their add entries — the Delta/Iceberg MERGE shape. At cluster
        scale the rewrite join shuffles only (touched files ∪
        updates) on the key.

        ``key`` may be a composite (list); file pruning uses the
        FIRST key column's footer stats (cluster the table on it —
        ``compact(layout_key=...)``), matching follows the full key.

        Default semantics are SCD1 "updates win", and — like
        Delta/Iceberg MERGE — an update batch with multiple rows per
        key raises rather than writing ambiguous duplicates. Pass
        ``resolve`` to define custom match semantics: it receives
        (current rows whose key matches an update key, the update
        batch) and must return exactly the rows that replace them —
        e.g. last-writer-wins by timestamp for a CDC feed
        (streaming/cdc.py). With a resolver the duplicate-key check
        is skipped: the resolver owns the per-key contract.

        ``txn=(app_id, batch_id)`` stamps the commit with the
        exactly-once marker (see :meth:`append_batch`): a replayed
        merge of the same batch is a no-op (returns None), which is
        what makes MERGE-inside-foreachBatch safe on an
        at-least-once engine.

        A batch that widens the table schema records the union
        schema in a meta action, so an empty-after-vacuum snapshot
        still reports the evolved schema.

        ``retries`` (default 0) is the multi-writer story: a merge
        that loses the version race is STALE — its rewrite was
        computed against a superseded snapshot — so unlike a blind
        :meth:`append` it cannot simply rebase the same actions.
        With ``retries=N`` a conflict loser re-runs the whole
        transaction (fresh snapshot → fresh prune → fresh rewrite →
        commit) up to N more times, which is exactly Delta's internal
        conflict-resolution loop; the failed attempt's staged files
        become vacuum-able orphans. With the default 0 the conflict
        surfaces as :class:`CommitConflictError` and the caller owns
        the retry policy."""
        keys = [key] if isinstance(key, str) else list(key)
        prune_col = keys[0]
        # generated columns materialize on the update batch up front
        # (before bounds/dup checks — the merge key may itself be a
        # generated column the writer omits); this replay is metadata-
        # only and does not supersede the per-attempt one below
        gbase = self.version()
        gstate = self._replay_state(as_of=gbase)
        if txn is not None and txn[1] in gstate["txns"].get(txn[0], set()):
            return None
        self._check_writer_features(gstate)
        if gstate.get("identity"):
            bad = sorted(set(gstate["identity"]) & set(updates.columns))
            if bad:
                raise ValueError(
                    f"{bad} are GENERATED ALWAYS AS IDENTITY — merge "
                    "batches may not supply them"
                )
            bad_keys = sorted(set(gstate["identity"]) & set(keys))
            if bad_keys:
                raise ValueError(
                    f"identity columns cannot be merge keys: {bad_keys} "
                    "(writers cannot know generated ids)"
                )
        updates = self._apply_generated(updates, gstate)
        # count rides the same single-pass aggregate: emptiness must be
        # decided by COUNT, not by null bounds — min/max ignore NULLs,
        # so a non-empty batch whose prune key is all-NULL has lo None
        # and would be silently DISCARDED while still stamping its txn
        # marker (permanent data loss; advisor r12 high). Null bounds
        # on a non-empty batch now mean "no pruning possible": NULL
        # keys can never equality-match an existing row (SQL MERGE
        # semantics), so the batch takes the touched=[] insert path.
        agg_cols = [
            F.min(prune_col).alias("lo"),
            F.max(prune_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ]
        if resolve is None:
            # the duplicate-key probe rides the SAME single-pass
            # aggregate (one job, one scan of the batch — it used to
            # be its own groupBy+count job): rows with a NULL in any
            # key column are independent INSERTS (equality can never
            # match them) and are excluded from both counts, exactly
            # the old na.drop(subset=keys) semantics; duplicates
            # exist iff the all-keys-non-null row count exceeds the
            # distinct key-tuple count.
            nn_key = F.when(
                functools.reduce(
                    lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]
                ),
                F.struct(*[F.col(k) for k in keys]),
            )
            agg_cols += [
                F.count(nn_key).alias("nn_rows"),
                F.count_distinct(nn_key).alias("nn_keys"),
            ]
        bounds = updates.agg(*agg_cols).collect()[0]
        if bounds.n == 0:
            # Empty update batch: no data work, but a txn-stamped call
            # still records its marker (marker-only commit) so callers
            # using committed_txns as a progress/watermark record see
            # every batch — matching append_batch, which always stamps.
            if txn is None:
                return self.version()
            # marker-only commit rebases like a blind append
            return self._rebase_commit(
                [{"txn": {"appId": txn[0], "batchId": txn[1]}}],
                "MERGE",
                base=gbase,
                txn=txn,
            )
        if resolve is None and bounds.nn_rows != bounds.nn_keys:
            # computed in the bounds aggregate above — only
            # non-NULL-keyed duplicates are a caller error
            raise ValueError(
                f"merge_upsert: update batch has multiple rows per key {keys}; "
                "deduplicate first or pass a resolve function"
            )
        for attempt in range(retries + 1):
            base = self.version()
            # ONE replay per attempt feeds pruning, the rewrite read,
            # partition layout, schema union, and the property
            # resolution (the log, not the constructor flag, decides
            # whether this commit stages cdc sidecars — advisor r10)
            state = self._replay_state()
            if txn is not None and txn[1] in state["txns"].get(txn[0], set()):
                return None  # a twin of this batch committed first
            if bounds.lo is None:
                # non-empty batch, all-NULL prune key: NULL can never
                # equality-match an existing row, so no file needs a
                # rewrite — the whole batch inserts (probing
                # pruned_files with None bounds would conservatively
                # touch EVERY file and rewrite the table for nothing)
                touched = []
            else:
                touched, _ = self.pruned_files(
                    prune_col, bounds.lo, bounds.hi, state=state
                )
            actions: list[dict] = []
            mapping = state.get("columnMapping")
            old_schema = state["schema"]
            merged_schema = self.snapshot_schema_union(old_schema, updates)
            if mapping and merged_schema != old_schema:
                # a widening batch needs fresh physical ids BEFORE the
                # stage writes the new columns
                mapping = self._extend_mapping(mapping, merged_schema)
            if touched:
                current = self._read_files(
                    touched,
                    state["adds"],
                    state["schema"],
                    mapping=state.get("columnMapping"),
                )
                match_keys = updates.select(*keys).distinct()
                keep = current.join(match_keys, keys, "left_anti")
                if resolve is None:
                    resolved = updates
                else:
                    matched = current.join(match_keys, keys, "left_semi")
                    resolved = resolve(matched, updates)
                    # a custom resolver may synthesize values: its
                    # output honors generation like any written frame
                    # (the verify scan runs once, with the CHECK one)
                    resolved = self._apply_generated(
                        resolved, state, verify=attempt == 0
                    )
                if state.get("identity"):
                    # matched keys keep their ids, new keys draw
                    # above this attempt's hwm — before CHECK, which
                    # may reference the identity column. A custom
                    # resolver emitting several rows per matched key
                    # would coalesce them all onto the SAME fetched
                    # id — refuse rather than silently break
                    # uniqueness (the engine cannot attribute the
                    # preserved id among duplicates).
                    if resolve is not None:
                        dup_resolved = (
                            resolved.groupBy(*keys)
                            .count()
                            .filter(F.col("count") > 1)
                            .limit(1)
                            .count()
                        )
                        if dup_resolved:
                            raise ValueError(
                                "merge_upsert: a resolver on an identity "
                                f"table returned multiple rows per key {keys} "
                                "— identity preservation needs at most one "
                                "row per matched key"
                            )
                    resolved = self._pin_identity_frame(
                        self._merge_attach_identity(
                            resolved, current, keys, state["identity"]
                        ),
                        state,
                    )
                if attempt == 0:
                    # kept rows passed CHECK when written (and
                    # add_constraint validated history); only the new
                    # content needs the scan — once, not per retry
                    self._enforce_constraints(resolved, state)
                rewritten = keep.unionByName(resolved, allowMissingColumns=True)
            else:
                current = None
                rewritten = (
                    self._pin_identity_frame(
                        self._assign_identity(updates, state["identity"]), state
                    )
                    if state.get("identity")
                    else updates
                )
                if attempt == 0:
                    self._enforce_constraints(rewritten, state)
            actions.extend(
                self._stage(rewritten, state["partitionColumns"], mapping=mapping)
            )
            if state.get("identity"):
                actions.append(
                    {
                        "meta": {
                            "identityColumns": self._identity_with_hwm(
                                state["identity"], actions, mapping
                            )
                        }
                    }
                )
            if self._prop_on(state, "changeDataFeed", self.change_data):
                actions.extend(
                    self._cdc_diff_actions(current, rewritten, mapping=mapping)
                )
            for f in touched:
                actions.append({"remove": {"path": _rel_key(f)}})
            if merged_schema != old_schema:
                meta = {"schema": merged_schema}
                if mapping is not state.get("columnMapping"):
                    meta["columnMapping"] = mapping
                actions.append({"meta": meta})
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "batchId": txn[1]}})
            # Stats-validated rebase (round 11): if every interleaved
            # commit was a pure blind append whose files' logged
            # ``prune_col`` ranges are DISJOINT from the update
            # batch's key bounds, the staged rewrite is still exactly
            # right — the new files provably contain no matching
            # keys, and nothing the merge read moved. Re-commit the
            # same actions on the head instead of re-running (or
            # failing) the whole transaction. Overlapping or
            # stats-less new files, or any touched read file, still
            # mean a genuine re-merge.
            try:
                return self._rebase_commit(
                    actions,
                    "MERGE",
                    base=base,
                    txn=txn,
                    revalidate=lambda acts, head: self._only_disjoint_appends(
                        acts, head, state, prune_col, bounds.lo, bounds.hi
                    ),
                )
            except CommitConflictError:
                if attempt == retries:
                    raise  # genuine conflict: caller must re-merge on a fresh snapshot

    def _read_set_intact(
        self, state: dict, head: dict, identity_sensitive: bool = False
    ) -> bool:
        """True iff every file live at ``state`` is live and
        byte-identical at ``head`` and no table meta moved — i.e. the
        only interleaved commits were pure blind appends, the one
        conflict-matrix cell a staged rewrite survives."""
        if (
            head["schema"] != state["schema"]
            or head["partitionColumns"] != state["partitionColumns"]
            or head.get("properties") != state.get("properties")
            or head.get("constraints") != state.get("constraints")
            or head["readerFeatures"] != state["readerFeatures"]
            or head.get("columnMapping") != state.get("columnMapping")
            # identity_sensitive (the MERGE path, which DRAWS fresh
            # ids): an interleaved commit that advanced an identity
            # hwm may hold ids the staged rewrite also assigned — a
            # stale rebase would collide, so it is a genuine
            # conflict. DELETE/UPDATE assign no ids; for them a moved
            # hwm is harmless and must NOT kill the rebase (every
            # concurrent append on an identity table moves it).
            or (
                identity_sensitive
                and head.get("identity") != state.get("identity")
            )
        ):
            return False
        return all(
            rel in head["adds"]
            and _norm_action(head["adds"][rel]) == _norm_action(state["adds"][rel])
            for rel in state["adds"]
        )

    def _only_disjoint_appends(
        self, actions: list[dict], head: dict, state: dict, prune_col: str, lo, hi
    ) -> list[dict]:
        """MERGE's rebase check: keep ``actions`` iff the read set
        stayed intact at ``head`` and no interleaved new file may hold
        a ``prune_col`` value in ``[lo, hi]`` (the ``pruned_files``
        rule: stats or an exact partition value prove it; a file
        without either is conservatively overlapping); otherwise the
        conflict is genuine and the merge must re-run."""
        # MERGE draws fresh ids on identity tables — a moved hwm
        # means a possible collision, so the rebase must not land
        if not self._read_set_intact(
            state, head, identity_sensitive=bool(state.get("identity"))
        ):
            raise CommitConflictError("a concurrent commit touched the merge's reads")
        # stats keys are physical; read_set_intact guarantees the
        # head mapping matches the staged state's
        may_hold = _range_fn(
            _cm_map(state.get("columnMapping")).get(prune_col, prune_col), lo, hi
        )
        for rel, add in head["adds"].items():
            if rel not in state["adds"] and may_hold(
                add.get("stats") or {}, add.get("partitionValues") or {}
            ):
                raise CommitConflictError(f"a concurrent append may hold keys in [{lo}, {hi}]")
        return actions

    def delete_where(
        self,
        predicate,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """``DELETE WHERE``: drop every row matching ``predicate`` (a
        Spark Column or SQL string), touching ONLY the files that
        actually contain matching rows — the Delta DELETE shape (and
        the GDPR-erasure primitive).

        Two modes, chosen by the table's ``deletion_vectors`` flag:

        - **copy-on-write** (default): touched files are re-read and
          rewritten without the matching rows; untouched files keep
          their log entries. remove+add in one commit.
        - **merge-on-read** (``deletion_vectors=True``): NO data is
          rewritten — each touched file gets a position sidecar under
          ``_dv/`` (re-emitted add action carries it), readers mask
          the positions, and ``compact()`` materializes. A selective
          delete on huge files costs O(deleted rows), not O(file).

        Both phases are distributed: (1) ONE dv-masked, pv-attached
        scan finds the touched files — Catalyst pushes data-column
        predicates into the parquet scans, partition predicates
        resolve against the reattached values, and only LIVE rows
        count (a file whose every matching row is already
        vector-masked is not touched, so a no-op delete commits
        nothing — advisor r10 low); the driver receives only file
        keys, O(files). On a merge-on-read table that scan also
        writes the vectors. (2) the rewrite runs as Spark jobs over
        only the touched scope. ``txn`` gives streaming callers the
        same exactly-once marker as MERGE. Returns the committed
        version, None for a replayed txn, or the current version when
        nothing matches.

        **Conflict resolution** (round 11): a version race lost to
        pure blind appends auto-resolves — the staged actions are
        read-set-validated against the new head (every file read must
        be live and byte-identical, meta unmoved) and the transaction
        is EXTENDED with a detection scan over just the interleaved
        new files, so their matching rows are deleted too. That is
        full serializability at O(new files) cost; Delta's default
        WriteSerializable lets concurrently-appended matching rows
        survive a racing DELETE. Any interleaved commit that touched
        a file this delete read (merge/compact/another delete/a new
        vector) or moved schema/properties/features still surfaces
        :class:`CommitConflictError` — that rewrite is genuinely
        stale, and the caller owns the retry policy."""
        return self._dml("DELETE", predicate, txn, self._delete_actions)

    def _dml(
        self,
        operation: str,
        predicate,
        txn: tuple[str, int] | None,
        build_actions,
        check=None,
    ) -> int | None:
        """The one DELETE/UPDATE pipeline: replay, txn-twin check,
        ``check(state)`` (UPDATE's assignment checks, which must
        refuse before any sidecar is written), detect-and-stage, and
        the commit. ``build_actions(touched, state, pred, dv_on,
        cdf_on)`` returns the verb's own actions for the touched
        files; on a merge-on-read table the vector actions come from
        detection itself.

        A version race against commits that touched ANY file we read
        (delete, merge, compact, a new vector) or moved the table
        meta makes the staged actions stale — surface it, the caller
        re-runs on a fresh snapshot. But a race lost to pure BLIND
        APPENDS is resolvable here: the staged actions still describe
        exactly the files they were computed from (read-set
        validation, the same rule OPTIMIZE uses), and the transaction
        is EXTENDED by the same detect-and-stage step over just the
        interleaved new files, so the DML lands "after" the appends
        and applies to their matching rows too: full serializability
        at O(new files) cost, one notch stronger than Delta's
        WriteSerializable default, which lets concurrently-appended
        matching rows escape."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred_sql = predicate if isinstance(predicate, str) else None
        base = self.version()
        state = self._replay_state()
        if txn is not None and txn[1] in state["txns"].get(txn[0], set()):
            return None
        self._check_writer_features(state)
        if check is not None:
            check(state)
        # the LOG decides the delete mode and cdc staging — another
        # writer (the CLI, a bare TxTable(path)) must honor the
        # table's persisted properties, not its own constructor flags
        dv_on = self._prop_on(state, "deletionVectors", self.deletion_vectors)
        cdf_on = self._prop_on(state, "changeDataFeed", self.change_data)

        def detect(files: list[str], st: dict) -> tuple[list[str], list[dict]]:
            # (touched files, staged vector actions): stats/bloom
            # skipping, then ONE distributed scan — on a dv table it
            # detects and writes the vectors, on a copy-on-write table
            # it only detects
            cand = self._prune_candidates(files, st, pred_sql)
            if not cand:
                return [], []
            if dv_on:
                return self._stage_dv_detect(
                    cand, st["adds"], pred, st["schema"], st.get("columnMapping")
                )
            return self._detect_matches(cand, st, pred), []

        def stage(files: list[str], st: dict) -> list[dict]:
            touched, actions = detect(files, st)
            if not touched:
                return []
            if dv_on and "deletionVectors" not in st["readerFeatures"]:
                # first vector on a legacy/flag-enabled table:
                # record the required reader feature in the SAME
                # commit, so no feature-unaware reader can ever
                # see a vectored snapshot it would misread
                actions.append(
                    {"meta": {"readerFeatures": sorted(
                        st["readerFeatures"] | {"deletionVectors"}
                    )}}
                )
            return actions + build_actions(touched, st, pred, dv_on, cdf_on)

        files = self._files_of(state["adds"])
        if not files:
            return base
        actions = stage(files, state)
        if not actions and txn is None:
            return base  # nothing matched, nothing to record
        if txn is not None:
            actions.append({"txn": {"appId": txn[0], "batchId": txn[1]}})

        def revalidate(actions: list[dict], head: dict) -> list[dict]:
            nonlocal state
            if not self._read_set_intact(state, head):
                raise CommitConflictError(
                    f"a concurrent commit touched files this {operation} read"
                )
            new_files = [
                _data_file(self.path, r, a)
                for r, a in head["adds"].items()
                if r not in state["adds"]
            ]
            ext = stage(new_files, head) if new_files else []
            if ext:
                if any("meta" in a for a in actions):
                    # the readerFeatures meta is already staged once
                    # in this commit
                    ext = [a for a in ext if "meta" not in a]
                marker = [a for a in actions if "txn" in a]
                actions = [a for a in actions if "txn" not in a] + ext + marker
            state = head
            return actions

        return self._rebase_commit(
            actions, operation, base=base, txn=txn, revalidate=revalidate
        )

    def _prune_candidates(
        self, files: list[str], state: dict, pred_sql: str | None
    ) -> list[str]:
        """Driver-side file skipping shared by the DML detection
        paths: log min/max/null stats (``_compile_can_match`` — the
        Delta data-skipping step: a selective delete on a 100k-file
        table schedules zero scan tasks for provably-unmatchable
        files), then per-file bloom sidecars for equality/IN atoms.
        Pure log metadata — no Spark jobs."""
        if pred_sql is not None and self.spark is not None:
            can_match = None
            try:
                # compile the py4j tree ONCE; per-file checks below
                # are pure Python (no JVM round-trips in the loop)
                can_match = _compile_can_match(
                    self.spark._jsparkSession.sessionState()
                    .sqlParser()
                    .parseExpression(pred_sql)
                )
            except Exception:
                pass  # unparseable/walk surprise: scan everything
            if can_match is not None:
                mapping = state.get("columnMapping")
                kept = []
                for f in files:
                    a = state["adds"].get(_rel_key(f), {})
                    try:
                        # stats/pv keys are physical — re-key to the
                        # logical names the predicate speaks
                        ok = can_match(
                            _rekey_logical(a.get("stats"), mapping),
                            _rekey_logical(a.get("partitionValues"), mapping),
                            _rekey_logical(a.get("nulls"), mapping),
                            a.get("rows"),
                        )
                    except Exception:
                        ok = True  # skipping is only an optimization
                    if ok:
                        kept.append(f)
                files = kept
            try:
                # bloom pass over the stats survivors (round 12):
                # equality/IN atoms test per-file sidecars, so a
                # point DELETE/UPDATE schedules scan tasks only for
                # files that plausibly contain the key
                files = self._bloom_prune(files, state, pred_sql)
            except Exception:
                pass  # skipping is only an optimization
        return files

    def _detect_matches(self, files: list[str], state: dict, pred) -> list[str]:
        """Copy-on-write detection: which of ``files`` (the stats/bloom
        survivors of :meth:`_prune_candidates`) hold LIVE rows matching
        ``pred`` — one distributed dv-masked, pv-attached read;
        Catalyst pushes data-column predicates into the parquet scans,
        and the driver receives only file keys, O(files)."""
        return [
            _data_file(self.path, r["__hz_rel"], state["adds"].get(r["__hz_rel"]))
            for r in self._read_files(
                files,
                state["adds"],
                state["schema"],
                keep_rel="__hz_rel",
                mapping=state.get("columnMapping"),
            )
            .filter(pred)
            .select("__hz_rel")
            .distinct()
            .collect()
        ]

    def _delete_actions(
        self,
        touched: list[str],
        state: dict,
        pred,
        dv_on: bool,
        cdf_on: bool,
    ) -> list[dict]:
        """DELETE's own actions for the ``pred``-matching rows of the
        ``touched`` files, computed against ``state``: the
        copy-on-write rewrite (remove + add) and the cdc delete rows.
        On a merge-on-read table detection already staged the
        vectors, so only the cdc rows are left."""
        actions: list[dict] = []
        mapping = state.get("columnMapping")
        # dv-aware read: only LIVE rows participate — in the
        # rewrite and in the change feed
        current = self._read_files(
            touched, state["adds"], state["schema"], mapping=mapping
        )
        if not dv_on:
            # DELETE keeps every row where the predicate is NOT
            # TRUE. Under three-valued logic ~pred is NULL when
            # pred is NULL, so filter(~pred) would silently DROP
            # NULL-key rows that merely share a file with matching
            # rows — eqNullSafe maps NULL → keep, matching Delta's
            # DELETE semantics.
            actions.extend(
                self._stage(
                    current.filter(~pred.eqNullSafe(F.lit(True))),
                    state["partitionColumns"],
                    mapping=mapping,
                )
            )
            for f in touched:
                actions.append(
                    {"remove": {"path": _rel_key(f)}}
                )
        if cdf_on:
            actions.extend(
                self._stage_cdc(
                    current.filter(pred.eqNullSafe(F.lit(True))).withColumn(
                        "_change_type", F.lit("delete")
                    ),
                    mapping=mapping,
                )
            )
        return actions

    def update_where(
        self,
        predicate,
        assignments: dict,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """``UPDATE ... SET ... WHERE``: rewrite every row matching
        ``predicate`` with ``assignments`` ({column: SQL expression
        or Column} — expressions see the OLD row, the UPDATE SET
        contract), touching only files that contain matching rows.
        The third Delta DML verb beside MERGE and DELETE.

        Runs DELETE's pipeline (:meth:`_dml`): the stats pre-prune
        for SQL-string predicates (driver-side file skipping), the
        dv-masked detection scan, both write modes — copy-on-write
        (touched files rewritten with matched rows transformed) and
        merge-on-read under ``deletionVectors`` (old positions get a
        vector, transformed rows append as NEW files: O(updated
        rows) written, nothing rewritten) — plus the blind-append
        conflict extension (interleaved files' matching rows update
        too) and the ``txn`` exactly-once marker. On a
        ``changeDataFeed`` table the commit stages Delta's
        ``update_preimage``/``update_postimage`` cdc rows.
        Assignments cast to the column's committed type, so the
        schema cannot drift; unknown columns raise. NULL predicate
        rows are untouched (the same eqNullSafe three-valued rule as
        DELETE). Returns like :meth:`delete_where`."""

        def check(state: dict) -> None:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(state["schema"]))
            unknown = set(assignments) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
            gen_assigned = sorted(
                set(assignments) & set(state.get("generated") or {})
            )
            if gen_assigned:
                raise ValueError(
                    f"update_where: cannot SET generated column(s) {gen_assigned} "
                    "— they recompute from their generation expressions after "
                    "the other assignments apply"
                )
            ident_assigned = sorted(
                set(assignments) & set(state.get("identity") or {})
            )
            if ident_assigned:
                raise ValueError(
                    f"update_where: cannot SET identity column(s) "
                    f"{ident_assigned} — GENERATED ALWAYS AS IDENTITY values "
                    "are engine-assigned and immutable (the Delta rule)"
                )

        return self._dml(
            "UPDATE",
            predicate,
            txn,
            functools.partial(self._update_actions, assignments=assignments),
            check,
        )

    def _update_actions(
        self,
        touched: list[str],
        state: dict,
        pred,
        dv_on: bool,
        cdf_on: bool,
        assignments: dict,
    ) -> list[dict]:
        """UPDATE's own actions applying ``assignments`` to the
        ``pred``-matching rows of the ``touched`` files against
        ``state`` — :meth:`_delete_actions`' sibling: the
        copy-on-write rewrite, or on a merge-on-read table the
        transformed rows as new files beside the vectors detection
        staged, plus the pre/postimage cdc rows."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(state["schema"]))
        mapping = state.get("columnMapping")
        current = self._read_files(
            touched, state["adds"], state["schema"], mapping=mapping
        )
        is_match = pred.eqNullSafe(F.lit(True))
        matched = current.filter(is_match)
        # every assignment sees the PRE-update row; casting to the
        # committed type pins the schema. A pre-evolution touched
        # file may lack later columns — null-fill them (the same
        # alignment every mergeSchema read performs).
        def out_col(f):
            if f.name in assignments:
                a = assignments[f.name]
                return (
                    (F.expr(a) if isinstance(a, str) else a)
                    .cast(f.dataType)
                    .alias(f.name)
                )
            if f.name in matched.columns:
                return F.col(f.name)
            return F.lit(None).cast(f.dataType).alias(f.name)

        updated = matched.select(*[out_col(f) for f in schema.fields])
        # generated columns recompute over the POST-assignment row
        # (deterministic expressions: untouched sources reproduce the
        # stored value; changed sources — including a partition-moving
        # generated partition column — derive the new one)
        types = {f.name: f.dataType for f in schema.fields}
        for gname, gexpr in (state.get("generated") or {}).items():
            val = F.expr(gexpr)
            if gname in types:
                val = val.cast(types[gname])
            updated = updated.withColumn(gname, val)
        self._enforce_constraints(updated, state)
        actions: list[dict] = []
        if dv_on:
            # merge-on-read: the old positions are masked, the
            # transformed rows append as fresh files — O(updated rows)
            actions.extend(
                self._stage(updated, state["partitionColumns"], mapping=mapping)
            )
        else:
            rewritten = current.filter(~is_match).unionByName(
                updated, allowMissingColumns=True
            )
            actions.extend(
                self._stage(rewritten, state["partitionColumns"], mapping=mapping)
            )
            for f in touched:
                actions.append(
                    {"remove": {"path": _rel_key(f)}}
                )
        if cdf_on:
            actions.extend(
                self._stage_cdc(
                    matched.withColumn(
                        "_change_type", F.lit("update_preimage")
                    ).unionByName(
                        updated.withColumn(
                            "_change_type", F.lit("update_postimage")
                        ),
                        allowMissingColumns=True,
                    ),
                    mapping=mapping,
                )
            )
        return actions

    def _dv_match_positions(
        self,
        files: list[str],
        adds: dict,
        pred,
        schema_json: str | None,
        mapping: dict | None,
    ) -> DataFrame:
        """(fname, pos) of every RAW row of ``files`` matching
        ``pred`` — partition values reattached by :meth:`_attach_pv`,
        positions from the scan's ``_metadata.row_index``
        (file-global parquet row order — stable). Raw = deletion
        vectors NOT masked; callers account for already-masked
        positions themselves."""
        read_schema = (
            _physical_read_schema(schema_json, mapping, adds)
            if schema_json
            else None
        )

        def scan(fs: list[str], rel_col: str | None) -> DataFrame:
            df = (
                self._reader(read_schema)
                .parquet(*fs)
                .withColumn("fname", _dv_key_col())
                .withColumn("pos", F.col("_metadata.row_index"))
            )
            if rel_col:
                df = df.withColumn(rel_col, _decode_uri_col(F.col("fname")))
            # files store physical names; ``pred`` speaks logical
            return _scan_to_logical(df, mapping, keep_extra=("fname", "pos"))

        return (
            self._attach_pv(files, adds, schema_json, mapping, scan)
            .filter(pred.eqNullSafe(F.lit(True)))
            .select("fname", "pos")
        )

    def _old_dv_rows(self, files: list[str], adds: dict) -> DataFrame | None:
        """Already-masked (fname, pos) rows of ``files``' existing
        sidecars — None when no file carries a vector."""
        old_dvs = [
            _data_file(
                self.path,
                adds[_rel_key(f)]["dv"]["path"],
                adds[_rel_key(f)]["dv"],
            )
            for f in files
            if adds[_rel_key(f)].get("dv")
        ]
        if not old_dvs:
            return None
        return (
            self.spark.read.schema(_DV_SCHEMA)
            .parquet(*old_dvs)
            .select("fname", "pos")
        )

    def _stage_dv_detect(
        self,
        candidates: list[str],
        adds: dict,
        pred,
        schema_json: str | None = None,
        mapping: dict | None = None,
    ) -> tuple[list[str], list[dict]]:
        """Merge-on-read detection FUSED into vector staging (round
        16, guide §2.3): ONE distributed scan over the stats/bloom
        candidate files — of the first pass or of the rebase
        extension alike — replaces a dv-masked detection read plus a
        re-scan of its touched survivors. Per file — row-locally
        inside its vector-writer group (one ``applyInPandas`` group
        per file), no extra joins — a file is TOUCHED iff it has a
        matching position not already masked by its old vector; only
        touched files get a sidecar (old ∪ new positions; the old
        sidecar becomes vacuum-able) and only they appear in the
        returned actions, so a no-op DELETE stages nothing and
        commits nothing. The driver receives O(touched files) rows,
        never positions. Returns (touched data-file paths,
        re-emitted add actions carrying the vectors)."""
        hits = self._dv_match_positions(
            candidates, adds, pred, schema_json, mapping
        ).withColumn("is_new", F.lit(True))
        old = self._old_dv_rows(candidates, adds)
        if old is not None:
            hits = hits.unionByName(old.withColumn("is_new", F.lit(False)))
        os.makedirs(os.path.join(self.path, "_dv"), exist_ok=True)
        table_path = self.path

        def write_vector(pdf):
            import os as _os
            import uuid as _uuid

            import pandas as _pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            new = set(pdf.loc[pdf["is_new"], "pos"])
            old_pos = set(pdf.loc[~pdf["is_new"], "pos"])
            if not (new - old_pos):
                # every matching row is already masked (or none
                # matched and only old-vector rows grouped here):
                # the file is NOT touched — no sidecar, no action
                return _pd.DataFrame({"fname": [], "dv": [], "n": []})
            merged = sorted(new | old_pos)
            rel = _os.path.join("_dv", f"dv-{_uuid.uuid4().hex}.parquet")
            fname = pdf["fname"].iloc[0]
            _pq.write_table(
                _pa.table(
                    {
                        "fname": _pa.array([str(fname)] * len(merged)),
                        "pos": _pa.array(
                            [int(p) for p in merged], type=_pa.int64()
                        ),
                    }
                ),
                _os.path.join(table_path, rel),
            )
            return _pd.DataFrame(
                {"fname": [fname], "dv": [rel], "n": [len(merged)]}
            )

        meta = (
            hits.groupBy("fname")
            .applyInPandas(write_vector, "fname string, dv string, n long")
            .collect()
        )
        from urllib.parse import unquote

        touched, actions = [], []
        for r in meta:
            # the key is the percent-encoded rel path; unquote maps it
            # back to the on-disk relative path the add action uses
            rel = unquote(r.fname)
            touched.append(_data_file(self.path, rel, adds.get(rel)))
            add = dict(adds[rel])
            # a vector write IS a data change even when the prior add
            # was a dataChange:false compaction product — feeds and
            # streams must see this commit, not skip it as maintenance
            add.pop("dataChange", None)
            add["dv"] = {"path": r.dv, "deleted": int(r.n)}
            actions.append({"add": add})
        return touched, actions

    def _partition_scope(self, state: dict, where: str | None) -> list[str]:
        """Live relative paths whose logged ``partitionValues``
        satisfy the SQL predicate ``where`` (partition columns only —
        the Delta ``OPTIMIZE ... WHERE`` contract). Evaluated as one
        tiny Spark job over O(files) rows of log metadata, never data.
        ``where=None`` means every live file."""
        rels = list(state["adds"])
        if where is None:
            return rels
        pcols = state["partitionColumns"]
        if not pcols:
            raise ValueError(
                "compact(where=...) scopes by partition predicate, but "
                f"{self.path} is not partitioned"
            )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(state["schema"]))
        types = {f.name: f.dataType for f in schema.fields}
        files = [_data_file(self.path, rel, state["adds"].get(rel)) for rel in rels]
        pv_of = {
            _data_file(self.path, rel, state["adds"].get(rel)): _rekey_logical(
                state["adds"][rel].get("partitionValues"),
                state.get("columnMapping"),
            )
            for rel in rels
        }
        frame = self._pv_frame(files, pv_of, pcols, types)
        return [r["__hz_rel"] for r in frame.filter(F.expr(where)).collect()]

    def compact(
        self,
        target_files: int = 1,
        layout_key: str | None = None,
        zorder: list[str] | None = None,
        where: str | None = None,
        max_file_rows: int | None = None,
    ) -> int:
        """OPTIMIZE: rewrite fragmented data files — remove+add in
        ONE commit, so readers flip atomically from the old layout to
        the compacted one. Content-lossless by construction (pure
        read-rewrite). Rewritten files never carry deletion vectors:
        OPTIMIZE is also what materializes vectors away.

        **Selection is the scale story** (Delta's OPTIMIZE contract —
        a maintenance pass must cost O(fragmentation), not O(table)):

        - ``where`` scopes the pass to live files whose logged
          partitionValues satisfy a SQL predicate over the partition
          columns — a 100 TB table compacts yesterday's partition
          without touching the other 10 000.
        - ``max_file_rows`` turns on bin-packing: ONLY files smaller
          than HALF the target (the Delta minFileSize hysteresis —
          merged outputs are either ≥ half-target or a lone file, so
          maintenance loops terminate instead of re-packing jittery
          near-target files forever) or carrying a deletion vector
          (those must rewrite to materialize) are selected; every
          right-sized file keeps its add action untouched. Output is
          ``ceil(selected rows / max_file_rows)`` files. A small
          append onto a compacted table rewrites O(appended) bytes.
        - neither ⇒ the full in-scope set rewrites into
          ``target_files`` files (the small-table / full-layout
          case), skipped entirely when the scope is already at or
          under the target AND vector-free (a lone file with a grown
          vector still rewrites — the vector is the fragmentation).

        With ``layout_key`` the rewrite range-clusters on that column
        (``repartitionByRange`` + in-partition sort — the OPTIMIZE
        ZORDER shape for one dimension): each output file covers a
        disjoint key range, so the footer min/max stats stay
        selective and ``pruned_files``/MERGE skip files after
        compaction instead of degrading to scan-everything.

        ``zorder=[a, b, ...]`` is the multi-dimensional form
        (OPTIMIZE ZORDER BY, any number of integer columns ≥ 2): the
        rewrite clusters on a TRANSIENT k-ary Morton interleave
        (operators/zorder.py ``morton_key_n``) and drops the key
        from the output — every file gets a hyper-quadtree-cell
        footprint, so stats prune on ANY of the dimensions without
        storing a layout column in the table. Plain
        ``coalesce`` otherwise (no shuffle). Layout rewrites
        legitimately touch every in-scope file (re-sorting IS the
        point), so ``max_file_rows`` does not combine with them."""
        if zorder is not None and layout_key is not None:
            raise ValueError("pass layout_key or zorder, not both")
        if zorder is not None and len(zorder) < 2:
            raise ValueError("zorder takes at least two integer columns")
        if max_file_rows is not None and (layout_key or zorder):
            raise ValueError(
                "max_file_rows bin-packing does not combine with layout "
                "rewrites — a re-sort must touch every in-scope file"
            )
        base = self.version()
        if base < 0:
            return base
        state = self._replay_state()
        self._check_writer_features(state)
        scope = self._partition_scope(state, where)

        def live_rows(rel: str) -> int:
            a = state["adds"][rel]
            return max(
                0,
                int(a.get("rows", 0)) - int((a.get("dv") or {}).get("deleted", 0)),
            )

        # selection reasons about HIVE GROUPS, not the flat file list:
        # directories can't merge, so the achievable file count — and
        # therefore whether a pass is useful at all — is per partition
        # value. A pass that cannot reduce any group's count (nor kill
        # a vector) must commit NOTHING, or a maintenance loop
        # rewrites the same fixpoint forever (round-11 review
        # finding: two 600-row files under max_file_rows=1000, or one
        # small file per partition, used to re-commit every tick).
        groups: dict[tuple, list[str]] = {}
        for rel in scope:
            pv = state["adds"][rel].get("partitionValues") or {}
            groups.setdefault(tuple(sorted(pv.items())), []).append(rel)
        if max_file_rows is not None:
            min_rows = max(1, max_file_rows // 2)  # packable threshold

            def packable(rel: str) -> bool:
                return int(state["adds"][rel].get("rows", 0)) < min_rows

            # bin-packing: a group participates when packing can
            # shrink it below its current file count, or a vector
            # must materialize away
            def group_useful(rels: list[str]) -> bool:
                if any(state["adds"][r].get("dv") for r in rels):
                    return True
                small = [r for r in rels if packable(r)]
                achievable = max(
                    1, -(-sum(live_rows(r) for r in small) // max_file_rows)
                )
                return len(small) > achievable

            groups = {k: v for k, v in groups.items() if group_useful(v)}
            # within a useful group rewrite only the packable/dv'd
            # files — right-sized vector-free files never move
            groups = {
                k: [
                    r for r in v
                    if packable(r) or state["adds"][r].get("dv")
                ]
                for k, v in groups.items()
            }
            scope = [r for v in groups.values() for r in v]
        else:
            has_dv = any(state["adds"][rel].get("dv") for rel in scope)
            if (
                layout_key is None
                and zorder is None
                and not has_dv
                and all(len(v) <= target_files for v in groups.values())
            ):
                scope = []
        if not scope:
            # nothing fragmented in scope: a no-op pass commits
            # nothing (reachable from a maintenance tick after
            # empty-batch merges)
            return base
        files = [_data_file(self.path, rel, state["adds"].get(rel)) for rel in scope]
        # dv-aware read: OPTIMIZE materializes deletion vectors —
        # the rewritten files carry no dv and the old vectors die
        df = self._read_files(
            files,
            state["adds"],
            state["schema"],
            mapping=state.get("columnMapping"),
        )
        pcols = state["partitionColumns"]
        if max_file_rows is not None:
            total = sum(live_rows(rel) for rel in scope)
            n_out = max(1, -(-total // max_file_rows))
        else:
            n_out = target_files
        if zorder is not None:
            from ..operators.zorder import morton_key_n

            zcol = "__hz_zorder"
            out = (
                df.withColumn(zcol, morton_key_n([F.col(c) for c in zorder]))
                .repartitionByRange(n_out, zcol)
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        elif layout_key is not None:
            out = df.repartitionByRange(n_out, layout_key).sortWithinPartitions(
                layout_key
            )
        elif max_file_rows is not None and pcols:
            # range-partition on (partition columns, row spreader):
            # small groups land whole in one task (one packed file),
            # while a group bigger than max_file_rows splits across
            # proportionally many tasks — output files stay bounded
            # by the configured target instead of collapsing each
            # hive group into one arbitrarily large file (round-11
            # second-pass review finding). The spreader is a
            # deterministic hash, so retries stage identical layouts.
            out = df.repartitionByRange(
                max(1, n_out), *[F.col(c) for c in pcols], F.xxhash64(*df.columns)
            )
        else:
            out = df.coalesce(n_out)
        # a partitioned table keeps its layout: n_out is then per
        # partition value, not global (hive dirs can't merge)
        actions = self._stage(out, pcols, mapping=state.get("columnMapping"))
        for a in actions:
            # the open Delta protocol's dataChange=false: this commit
            # rearranges bytes, it does not change table content —
            # change-feed readers skip it instead of diffing the
            # whole rewritten table
            a["add"]["dataChange"] = False
        for f in files:
            actions.append(
                {"remove": {"path": _rel_key(f), "dataChange": False}}
            )
        return self._commit_rewrite(actions, base, scope, state, "OPTIMIZE")

    def _commit_rewrite(
        self,
        actions: list[dict],
        base: int,
        scope: list[str],
        state: dict,
        operation: str,
    ) -> int:
        """Commit a content-preserving rewrite (OPTIMIZE / REORG)
        with the Delta maintenance conflict rule: a version race
        against a BLIND APPEND never invalidates the rewrite — the
        new files are disjoint from the rewritten set — so rebase
        and re-commit the same actions instead of failing; on a busy
        ingest table a compactor would otherwise lose every race
        forever. A concurrent commit that TOUCHED any input file
        (delete, merge, another compaction, a new vector) makes the
        staged rewrite stale: surface the conflict, the caller
        re-runs on a fresh snapshot."""
        def revalidate(actions: list[dict], head: dict) -> list[dict]:
            if any(
                rel not in head["adds"]
                or _norm_action(head["adds"][rel]) != _norm_action(state["adds"][rel])
                for rel in scope
            ):
                raise CommitConflictError(
                    f"a concurrent commit touched files this {operation} rewrites"
                )
            return actions

        return self._rebase_commit(actions, operation, base=base, revalidate=revalidate)

    def reorg_purge(self, where: str | None = None) -> int:
        """REORG TABLE ... APPLY (PURGE): rewrite exactly the files
        that still carry soft-deleted state — a deletion vector, or
        parquet columns a mapping ``drop_column`` removed from the
        logical schema (metadata-only DROP leaves the bytes in place;
        readers prune them, but the data physically persists until a
        rewrite — the Delta REORG PURGE contract, and the verb a
        GDPR/right-to-be-forgotten pipeline runs after DROP COLUMN so
        ``vacuum`` can actually destroy the bytes).

        **Selection costs O(scope), never O(table data)**: deletion
        vectors are log metadata, and dropped-column residue is
        detected from parquet FOOTER schemas (driver-side metadata
        reads, concurrent, same I/O class as commit-time stats) — a
        footer naming any physical column the current mapping does
        not map is residue. Clean files keep their add actions
        untouched; a table with nothing to purge commits NOTHING
        (idempotent maintenance tick). ``where`` scopes the pass by
        partition predicate exactly like :meth:`compact`.

        The rewrite reads dv-masked logical rows and restages them
        under the CURRENT mapping, so outputs carry neither vectors
        nor dropped physicals. Commits with ``dataChange=False``
        (rearranged bytes, identical content) — change-feed readers
        skip it — and inherits OPTIMIZE's conflict rule: rebase over
        blind appends, surface anything that touched an input file."""
        base = self.version()
        if base < 0:
            return base
        state = self._replay_state()
        self._check_writer_features(state)
        scope = self._partition_scope(state, where)
        mapping = state.get("columnMapping")
        if mapping:
            expected = set(_cm_map(mapping).values())
        else:
            # no mapping ⇒ no column was ever dropped (DROP COLUMN
            # upgrades to mapping); physical names are the schema's
            from pyspark.sql.types import StructType

            expected = {
                f.name
                for f in StructType.fromJson(json.loads(state["schema"])).fields
            }

        dv_rels = [rel for rel in scope if state["adds"][rel].get("dv")]
        clean = [rel for rel in scope if not state["adds"][rel].get("dv")]

        def has_residue(rel: str) -> bool:
            import pyarrow.parquet as pq

            f = _data_file(self.path, rel, state["adds"].get(rel))
            # partition columns never live in the data files, so any
            # footer name outside the mapped physical set is residue
            return bool(set(pq.ParquetFile(f).schema_arrow.names) - expected)

        if clean:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(16, len(clean))) as ex:
                flags = list(ex.map(has_residue, clean))
            residue = [rel for rel, fl in zip(clean, flags) if fl]
        else:
            residue = []
        selected = dv_rels + residue
        if not selected:
            return base  # nothing soft-deleted in scope: no-op
        files = [_data_file(self.path, rel, state["adds"].get(rel)) for rel in selected]
        df = self._read_files(
            files, state["adds"], state["schema"], mapping=mapping
        )
        pcols = state["partitionColumns"]
        # preserve file granularity (REORG is not compaction): n_out
        # mirrors the input count, hive groups keep their dirs
        n_out = len(selected)
        if pcols:
            out = df.repartitionByRange(
                max(1, n_out), *[F.col(c) for c in pcols], F.xxhash64(*df.columns)
            )
        else:
            out = df.coalesce(n_out)
        actions = self._stage(out, pcols, mapping=mapping)
        for a in actions:
            a["add"]["dataChange"] = False
        for f in files:
            actions.append({"remove": {"path": _rel_key(f), "dataChange": False}})
        return self._commit_rewrite(actions, base, selected, state, "REORG-PURGE")

    def fsck_repair(self, dry_run: bool = False) -> list[str]:
        """FSCK REPAIR TABLE (Delta's verb): drop the add actions
        whose data files are physically MISSING — the recovery path
        after an out-of-band deletion (a cloud lifecycle rule, a
        manual rm, a shallow-clone source vacuumed past retention)
        has already broken the snapshot. Every read of a damaged
        table fails loudly today; repair re-commits the log minus the
        unservable references so the surviving rows read again, and
        returns the removed relative paths (``dry_run`` lists them
        without committing).

        A file whose DELETION VECTOR sidecar is missing counts as
        missing too: serving the file unmasked would resurrect
        deleted rows — dropping the reference loses the file's live
        rows (recoverable: the data file still exists for manual
        re-ingest), which is the fail-safe direction.

        Cost: O(files) driver-side existence checks (concurrent, like
        every other log metadata pass); the commit is O(missing)
        remove actions. Data loss is EXPLICIT and bounded: exactly
        the rows of the named files — which were already unreadable.
        A lost version race surfaces as CommitConflictError (a racing
        writer may have re-added or purged the same paths)."""
        from concurrent.futures import ThreadPoolExecutor

        base = self.version()
        state = self._replay_state()
        self._check_writer_features(state)
        items = list(state["adds"].items())

        def probe(item):
            rel, a = item
            if not os.path.exists(_data_file(self.path, rel, a)):
                return rel
            dv = a.get("dv")
            if dv and not os.path.exists(_data_file(self.path, dv["path"], dv)):
                return rel
            return None

        missing: list[str] = []
        if items:
            with ThreadPoolExecutor(max_workers=min(16, len(items))) as ex:
                missing = sorted(r for r in ex.map(probe, items) if r)
        if dry_run or not missing:
            return missing
        # dataChange=False: the feed CANNOT serve these rows (the
        # files are unreadable — that is why fsck runs), so a
        # data-changing remove would permanently break changes()
        # across the repair commit. Marking the removes as
        # maintenance keeps the feed consumable; the loss is
        # recorded in commitInfo instead of as row-level changes.
        self._commit(
            [
                {"remove": {"path": rel, "dataChange": False}}
                for rel in missing
            ],
            base,
            operation="FSCK",
            info={"removed": len(missing), "removedPaths": missing},
        )
        return missing

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION: roll the table back to the
        ``version`` snapshot AS A NEW COMMIT (Delta's RESTORE shape) —
        history is preserved, time travel still sees every version,
        and a racing writer conflicts instead of being silently
        undone. The commit is pure log surgery: re-add the target
        snapshot's files the current one dropped, remove the files it
        gained, and roll back the schema meta if it evolved — no data
        is rewritten, O(changed files) actions.

        Requires the target snapshot's files to still exist (RESTORE
        shares time travel's vacuum-retention contract). On a
        ``change_data=True`` table the commit also stages cdc
        sidecars (content diff of only the differing files), so
        change-feed consumers see the rollback as row-level
        delete+insert instead of failing on a rewrite commit.

        Returns the committed version; restoring to the current state
        is a no-op that returns the current version."""
        base = self.version()
        if version < 0 or version > base:
            raise ValueError(
                f"cannot restore {self.path} to version {version}: "
                f"table is at version {base}"
            )
        cur_state = self._replay_state()
        self._check_writer_features(cur_state)
        tgt_state = self._replay_state(as_of=version)
        cur, tgt = cur_state["adds"], tgt_state["adds"]

        # a path present in BOTH versions but with a different add
        # action (a deletion vector grown, shrunk, or gone) is a
        # content change too: re-emitting the target's action rolls
        # the vector back, no data movement needed
        re_added = [
            rel
            for rel in tgt
            if rel not in cur or _norm_action(cur[rel]) != _norm_action(tgt[rel])
        ]
        dropped = [rel for rel in cur if rel not in tgt]
        actions: list[dict] = []
        for rel in re_added:
            if not os.path.exists(_data_file(self.path, rel, tgt[rel])):
                raise FileNotFoundError(
                    f"restore to version {version} needs {rel}, which vacuum "
                    "has reclaimed — RESTORE shares time travel's retention "
                    "contract"
                )
            add = {k: v for k, v in tgt[rel].items() if k != "dataChange"}
            actions.append({"add": add})
        for rel in dropped:
            actions.append({"remove": {"path": rel}})
        meta_rollback: dict = {}
        if tgt_state["schema"] != cur_state["schema"]:
            meta_rollback["schema"] = tgt_state["schema"]
        if tgt_state.get("columnMapping") != cur_state.get("columnMapping"):
            # roll the logical names back with the schema (None value
            # restores a pre-upgrade table; the reader FEATURE stays —
            # features only ever grow, and an identity/absent mapping
            # is harmless to a mapping-aware reader)
            meta_rollback["columnMapping"] = tgt_state.get("columnMapping")
        if tgt_state.get("generated") != cur_state.get("generated"):
            # generation entries roll back WITH the schema they name —
            # a restore past a rename must re-key the entry, past a
            # drop must reinstate it (the column returns), and past a
            # create-time declaration... cannot exist (create is v0).
            meta_rollback["generatedColumns"] = {
                **{g: None for g in cur_state.get("generated", {})},
                **tgt_state.get("generated", {}),
            }
        if tgt_state.get("identity") != cur_state.get("identity"):
            # identity specs re-key/reinstate the same way, but the
            # high-water mark NEVER regresses: ids handed out after
            # the target version may live downstream (or in time
            # travel). The two ENDPOINT states are not enough to know
            # the most advanced mark (advisor r12): a column dropped
            # after the target retires its spec from the head state
            # ({name: None}) while its issued ids live on — so walk
            # the log BETWEEN target and head and collect every hwm
            # any identityColumns meta ever recorded for the spec's
            # (start, step) family. Family matching can only graft an
            # unrelated column's mark, which INFLATES the restored
            # hwm — safe (ids are never re-issued; some are skipped).
            family_marks: dict[tuple[int, int], list] = {}
            for v in range(version + 1, base + 1):
                try:
                    acts = self._read_commit(v)
                except (OSError, ValueError):
                    continue  # log trimmed past a checkpoint: best effort
                for a in acts:
                    m = a.get("meta") if isinstance(a, dict) else None
                    for ispec in (m or {}).get("identityColumns", {}).values():
                        if ispec is None or ispec.get("highWaterMark") is None:
                            continue
                        key = (
                            int(ispec.get("start", 1)),
                            int(ispec.get("step", 1)),
                        )
                        family_marks.setdefault(key, []).append(
                            ispec["highWaterMark"]
                        )
            rolled: dict = {i: None for i in cur_state.get("identity", {})}
            for iname, tspec in tgt_state.get("identity", {}).items():
                spec = dict(tspec)
                step = int(spec.get("step", 1))
                start = int(spec.get("start", 1))
                marks = [
                    m
                    for m in (
                        spec.get("highWaterMark"),
                        # the head state still matters when the log was
                        # trimmed: match by the same (start, step) pair
                        *(
                            c.get("highWaterMark")
                            for c in cur_state.get("identity", {}).values()
                            if int(c.get("step", 1)) == step
                            and int(c.get("start", 1)) == start
                        ),
                        *family_marks.get((start, step), ()),
                    )
                    if m is not None
                ]
                if marks:
                    spec["highWaterMark"] = max(marks) if step > 0 else min(marks)
                rolled[iname] = spec
            meta_rollback["identityColumns"] = rolled
        if meta_rollback:
            actions.append({"meta": meta_rollback})
        if not actions:
            return base
        if self._prop_on(cur_state, "changeDataFeed", self.change_data) and (
            re_added or dropped
        ):
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(tgt_state["schema"]))
            like = self.spark.createDataFrame([], schema)

            def side(rels: list[str], adds: dict, schema_json: str) -> DataFrame:
                if not rels:
                    return like
                # BOTH sides read under the TARGET mapping: physical
                # names are version-invariant, so the target's
                # logical names apply to current files too — which is
                # what makes the two sides diffable after a rename
                # rolled back (current-logical columns would null out
                # under _align_columns otherwise)
                df = self._read_files(
                    [_data_file(self.path, r, adds.get(r)) for r in rels],
                    adds,
                    schema_json,
                    mapping=tgt_state.get("columnMapping"),
                )
                return self._align_columns(df, like)

            # changed-in-place files (vector rollbacks) contribute to
            # BOTH sides: old rows under the current vectors, new rows
            # under the target's — the diff emits exactly the rows the
            # rollback resurrects or re-deletes
            changed = [rel for rel in re_added if rel in cur]
            # when the mappings differ the cur side's pv values re-key
            # to TARGET-logical names — type them from the target
            # schema, not the current one
            cur_schema_for_pv = (
                cur_state["schema"]
                if tgt_state.get("columnMapping") == cur_state.get("columnMapping")
                else tgt_state["schema"]
            )
            actions.extend(
                self._cdc_diff_actions(
                    side(dropped + changed, cur, cur_schema_for_pv),
                    side(re_added, tgt, tgt_state["schema"]),
                    mapping=tgt_state.get("columnMapping"),
                )
            )
        return self._commit(actions, base, operation="RESTORE")

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level change feed for commits in ``(from_version,
        to_version]`` — the lakehouse CDF shape: each returned row is
        a table row plus ``_change_type`` (``insert``/``delete``;
        :meth:`update_where` on a change_data table stages Delta's
        ``update_preimage``/``update_postimage``; an update recovered
        by content diff surfaces as delete(old) + insert(new)) and
        ``_commit_version``. The incremental-consumption primitive: a
        downstream job reads only what each commit changed, never the
        table.

        Commits that carry ``cdc`` sidecar actions (tables built with
        ``change_data=True``) serve their staged change set directly.
        Otherwise, without row-level tracking in the log, a commit's
        change set is recovered by content diff over ONLY that
        commit's files:
        inserts = rows(new state) EXCEPT ALL rows(pre state),
        deletes = the reverse — kept rows of a copy-on-write rewrite
        appear on both sides and cancel, so the result is independent
        of file layout. Cost per commit is O(touched files), never
        O(table); blind appends skip the diff entirely.

        A commit may also change a file IN PLACE — re-emit its add
        action with a different deletion vector (merge-on-read
        DELETE) or with the vector rolled back/dropped (RESTORE) —
        with no remove action at all. Classifying such a commit by
        ``removed == []`` would replay the entire file as inserts
        (the round-10 advisor finding); instead every added path that
        was ALREADY LIVE at v−1 with a different action joins the
        diff on BOTH sides: old rows under the v−1 vector state, new
        rows under the committed one. Rows the commit masked surface
        as deletes, rows it unmasked (a vector rollback) as inserts,
        and an action re-emitted unchanged contributes nothing.

        One log walk: one replay at ``from_version``, then one commit
        file per step, each classified (:func:`_classify_commit`)
        against the adds live before it and folded into the state
        (:meth:`_apply_commit`). The walk ends at the range head,
        whose schema and column mapping name every generation's
        columns, so the feeds are built after it.

        Commits whose actions carry ``dataChange: false``
        (compaction/layout maintenance) are skipped outright — they
        rearrange bytes, not content. Files must predate vacuum:
        the change feed shares time travel's retention contract."""
        from pyspark.sql.types import StructType

        hi = self.version() if to_version is None else to_version
        state = self._replay_state(as_of=from_version)
        steps = []
        for v in range(from_version + 1, hi + 1):
            actions = self._read_commit(v)
            steps.append((v, _classify_commit(actions, state["adds"])))
            self._apply_commit(state, v, actions)
        self._check_reader_features(state)
        schema = StructType.fromJson(json.loads(state["schema"]))
        cols = [f.name for f in schema.fields]
        mapping = state.get("columnMapping")

        def aligned(df: DataFrame, *extra: str) -> DataFrame:
            # align every generation to the range-head schema
            # (null-fill columns a pre-evolution file lacks) so the
            # content diff compares identical shapes
            return df.select(
                *[
                    F.col(c) if c in df.columns else F.lit(None).cast(schema[c].dataType).alias(c)
                    for c in cols
                ],
                *extra,
            )

        def read_side(adds: dict[str, dict | None]) -> DataFrame:
            # pv/dv-aware read (partition columns reattach; positions
            # already dead at this state never enter the diff). The
            # RANGE-HEAD mapping names every generation: physical
            # names never change, so the head's logical names apply
            # to pre-rename files too.
            files = [_data_file(self.path, p, a) for p, a in adds.items()]
            known = {p: a for p, a in adds.items() if a is not None}
            return aligned(self._read_files(files, known, state["schema"], mapping=mapping))

        feeds: list[DataFrame] = []
        for v, (added, removed, in_place, cdcs) in steps:

            def tag(df: DataFrame, kind: str) -> DataFrame:
                return df.withColumn("_change_type", F.lit(kind)).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )

            if cdcs:
                # the commit staged its own change set (change_data
                # table): serve it directly — no content diff, no
                # dependence on the superseded data files
                paths = [os.path.join(self.path, c["path"]) for c in cdcs]
                for p in paths:
                    if not os.path.exists(p):
                        raise FileNotFoundError(
                            f"change feed for version {v} needs sidecar {p}, "
                            "which vacuum has reclaimed — consume feeds inside "
                            "the retention window"
                        )
                # cdc sidecars store the full physical row (partition
                # values included — _stage_cdc never partitionBys) plus
                # _change_type; the log schema types them exactly, so
                # no footer-inference job
                cdf = _scan_to_logical(
                    self.spark.read.schema(
                        _physical_read_schema(state["schema"], mapping, {}).add(
                            "_change_type", "string"
                        )
                    ).parquet(*paths),
                    mapping,
                    keep_extra=("_change_type",),
                )
                feeds.append(
                    aligned(cdf, "_change_type").withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    )
                )
                continue
            # the old side: removed files plus in-place changes (added
            # paths live at v-1 with a DIFFERENT action) under their
            # v-1 actions
            old = {**removed, **in_place}
            # retention check covers the dv sidecars the diff reads,
            # not just data files: the in-place old side needs the
            # SUPERSEDED vector, which vacuum may have reclaimed
            needed = [
                _data_file(self.path, p, a) for p, a in (*added.items(), *removed.items())
            ] + [
                _data_file(self.path, a["dv"]["path"], a["dv"])
                for a in (*added.values(), *old.values())
                if (a or {}).get("dv")
            ]
            for p in needed:
                if not os.path.exists(p):
                    raise FileNotFoundError(
                        f"change feed for version {v} needs {p}, which vacuum "
                        "has reclaimed — the feed shares time travel's "
                        "retention contract; consume feeds inside the vacuum "
                        "retention window"
                    )
            if added and not old:  # blind append: no diff needed
                feeds.append(tag(read_side(added), "insert"))
            elif old and not added:  # pure delete commit
                feeds.append(tag(read_side(old), "delete"))
            elif added:
                a = read_side(added)
                r = read_side(old)
                feeds.append(tag(a.exceptAll(r), "insert"))
                feeds.append(tag(r.exceptAll(a), "delete"))
        if not feeds:
            return self.spark.createDataFrame(
                [], schema.add("_change_type", "string").add("_commit_version", "long")
            )
        out = feeds[0]
        for df in feeds[1:]:
            out = out.unionByName(df)
        return out

    def vacuum(
        self,
        retention_seconds: float = DEFAULT_VACUUM_RETENTION_S,
        dry_run: bool = False,
    ) -> int:
        """Delete data files no commit references anymore (removed or
        orphaned by crashed writers). Returns the number deleted.

        The Delta retention contract: a file whose mtime is younger
        than ``retention_seconds`` is NEVER deleted, even if the
        current snapshot doesn't reference it — it may be (a) a
        version a time-travel reader still needs, or (b) a file a
        concurrent writer has staged but not yet committed (staging
        precedes the log commit by design). Dropping the window to 0
        additionally requires that no writer is in flight and that no
        reader needs time travel past the removes."""
        live = set(self.files())
        horizon = time.time() - retention_seconds

        def _remove_if_aged(f: str) -> bool:
            # stat+remove raced against a concurrent vacuum (or manual
            # cleanup) must not abort the sweep: a vanished file is
            # simply already vacuumed
            try:
                if os.path.getmtime(f) <= horizon:
                    if not dry_run:
                        os.remove(f)
                    return True
            except FileNotFoundError:
                pass
            return False

        deleted = 0
        # recursive: hive-partitioned staging nests files under
        # data-*/col=val/... directories
        for f in glob.glob(
            os.path.join(self.path, "data-*", "**", "*.parquet"), recursive=True
        ):
            if f not in live:
                deleted += _remove_if_aged(f)
        # prune now-empty staging trees bottom-up
        dirs = sorted(
            glob.glob(os.path.join(self.path, "data-*", "**"), recursive=True),
            key=len,
            reverse=True,
        )
        for d in dirs + glob.glob(os.path.join(self.path, "data-*")):
            try:
                if not dry_run and os.path.isdir(d) and not os.listdir(d):
                    os.rmdir(d)
            except (FileNotFoundError, OSError):
                pass
        # deletion vectors: superseded ones (replaced by a union
        # vector, or materialized away by compaction) die with the
        # retention guard; vectors the CURRENT snapshot references are
        # never touched
        live_dv = {
            os.path.join(self.path, a["dv"]["path"])
            for a in self._replay_state()["adds"].values()
            if a.get("dv")
        } if self.version() >= 0 else set()
        for f in glob.glob(os.path.join(self.path, "_dv", "*.parquet")):
            if f not in live_dv:
                deleted += _remove_if_aged(f)
        # bloom sidecars: superseded by a re-index, or their data file
        # rewritten/removed — same retention guard; sidecars the
        # current snapshot's add actions point at are never touched
        live_bloom = {
            os.path.join(self.path, a["bloom"]["path"])
            for a in self._replay_state()["adds"].values()
            if a.get("bloom")
        } if self.version() >= 0 else set()
        for f in glob.glob(os.path.join(self.path, "_bloom", "*.json")):
            if f not in live_bloom:
                deleted += _remove_if_aged(f)
        # change-data sidecars share the retention contract: a feed
        # older than the window is unrecoverable anyway (its data
        # files may be gone), so aged cdc files are reclaimed too
        for f in glob.glob(os.path.join(self.path, "_change_data", "*", "*.parquet")):
            deleted += _remove_if_aged(f)
        for d in glob.glob(os.path.join(self.path, "_change_data", "*")):
            try:
                if not dry_run and not os.listdir(d):
                    shutil.rmtree(d)
            except FileNotFoundError:
                pass
        # superseded replay checkpoints: derived data, so deletion is
        # always correctness-safe (replay falls back to a longer log
        # tail); keep the newest unconditionally and any still inside
        # the retention window so a concurrent reader mid-replay never
        # loses the file it just chose
        ckpts = self._checkpoint_versions()
        for v in ckpts[:-1]:
            _remove_if_aged(_checkpoint_file(self.path, v))
            _remove_if_aged(_checkpoint_parquet(self.path, v))
        # tmp files leaked by a writer that crashed between checkpoint
        # write and os.replace match no cleanup path otherwise — sweep
        # the aged ones here
        for f in glob.glob(os.path.join(_log_dir(self.path), "*.tmp-*")):
            _remove_if_aged(f)
        return deleted
