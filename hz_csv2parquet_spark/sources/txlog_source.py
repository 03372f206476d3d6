"""``hz_txlog`` — a Spark Data Source (pyspark.sql.datasource, the
public Python Data Source V2 API, Spark 4.x) exposing transaction-log
tables (sources/txlog.py) through the standard ``format()`` surface:

- **Batch**: ``spark.read.format("hz_txlog").load(path)`` — the
  log-governed snapshot; ``.option("asOf", v)`` time-travels. Pushed
  filters drive log-stats file skipping (min/max, null counts and
  exact partition values, by the same rule as TxTable's DML verbs).
  Bloom-sidecar skipping belongs to the TxTable verbs: planning runs
  in a Python worker with no SparkSession, and bloom probes hash
  through one.
- **Change feed** (batch and streaming):
  ``.option("readChangeFeed", "true")`` emits CDF rows (table columns
  + ``_change_type`` + ``_commit_version``). Appends plan straight
  from add actions; MERGE/DELETE/RESTORE commits are served from the
  ``cdc`` sidecar files a ``change_data=True`` TxTable stages at
  commit time — so a rewritten table streams row-accurate updates
  instead of raising. Batch takes ``startingVersion`` (default 0) /
  ``endingVersion`` (default latest); streaming checkpoints versions
  exactly like the append-only stream.
- **Streaming**: ``spark.readStream.format("hz_txlog").load(path)``
  — tails the commit log with VERSIONS AS OFFSETS. Each micro-batch
  reads exactly the ``dataChange`` ADD files of the newly committed
  versions, so:

  * layout maintenance (compaction's ``dataChange: false`` commits)
    is INVISIBLE to the stream — the failure mode that makes naive
    file-watch streaming over a compacted table re-emit the whole
    table is structurally impossible;
  * the source is exactly-once across restarts: offsets are
    versions, checkpointed by the engine, and replaying a version
    range re-reads the same immutable files;
  * copy-on-write change commits (MERGE rewrites) RAISE by default
    — a version-offset stream cannot represent row updates as
    appends; ``.option("skipChangeCommits", "true")`` opts into
    skipping them, mirroring the public Delta streaming-source
    contract (append-only by default, skipChangeCommits to ignore
    rewrites; the row-accurate alternative is the batch change feed
    ``TxTable.changes``).

Every reader plans from the log only, in a Python worker on the
driver host (no data I/O: partitions = one per added file, carrying
path + rows from the add action). A snapshot read plans from one
replay at its version. The streams and the batch change feed walk
their version range once (``_log_walk``): one replay at the range
start, then each commit file read once (``TxTable._read_commit``),
classified against the adds live before it (``_classify_commit``)
and folded (``TxTable._apply_commit``), as ``TxTable.changes`` does.
Reads run executor-side via pyarrow as Arrow batches — the same
columnar hand-off the built-in parquet source does, so a 1000-file
commit fans out across the cluster instead of bottlenecking on the
driver. Rows-per-file from the log
lets Spark see batch sizes without opening footers.

Engine caveat: Spark 4.1 runs Python streaming sources under
``Trigger.AvailableNow`` by falling back to single-batch execution
(one batch from the checkpointed offset to ``latestOffset`` at
start) — drain loops should re-trigger until quiescent if they need
everything-to-now semantics (tests/test_txlog_source.py shows the
pattern).

Reference parity note: the reference toolkit has no streaming surface
(SURVEY §2.8); this is extension depth on the Spark-native side,
public-protocol shapes only.
"""

from __future__ import annotations

import dataclasses
import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .txlog import (
    _CMP_OPS,
    TxTable,
    _classify_commit,
    _cmp_fn,
    _data_file,
    _in_fn,
    _null_fn,
)


@dataclass
class _FilePartition(InputPartition):
    path: str
    columns: tuple  # ((name, ddl_type), ...) of the as-of schema
    row_groups: tuple | None = None  # parquet row-group indices; None = whole file
    #: ((name, value), ...) columns attached as constants executor-side
    #: (change-feed reads stamp _change_type/_commit_version this way —
    #: the values are per-partition facts the LOG knows, so they ride
    #: the partition instead of being materialized in data files)
    constants: tuple = ()
    #: absolute path of the file's deletion-vector sidecar (None =
    #: no deleted positions); the executor masks the vector's row
    #: positions out of the Arrow batches it yields
    dv: str | None = None
    #: ((logical, physical), ...) column-mapping pairs (non-identity
    #: only): the file stores the physical name, the schema speaks
    #: the logical one — the executor selects by physical and serves
    #: logical (renamed tables read with zero data movement)
    physical: tuple = ()


#: default split threshold: files whose logged row count exceeds this
#: are split into row-group-aligned partitions so one giant file does
#: not become one task (the native parquet source's split behavior)
DEFAULT_SPLIT_ROWS = 4_000_000


def _file_partitions(
    abs_path: str,
    rows: int,
    cols: tuple,
    split_rows: int,
    constants: tuple = (),
    dv: str | None = None,
    physical: tuple = (),
):
    """One partition per file, UNLESS the log says the file is big:
    then open its footer (driver-side metadata read, same cost the
    native source pays) and emit row-group-aligned chunks of ≲
    ``split_rows`` rows each — a 10 GB file fans out across the
    cluster instead of serializing through one Python task."""
    if rows <= split_rows:
        return [_FilePartition(abs_path, cols, None, constants, dv, physical)]
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    chunks: list[list[int]] = []
    acc, cur = 0, []
    for rg in range(md.num_row_groups):
        cur.append(rg)
        acc += md.row_group(rg).num_rows
        if acc >= split_rows:
            chunks.append(cur)
            acc, cur = 0, []
    if cur:
        chunks.append(cur)
    if len(chunks) <= 1:  # one huge row group: nothing to split on
        return [_FilePartition(abs_path, cols, None, constants, dv, physical)]
    return [
        _FilePartition(abs_path, cols, tuple(c), constants, dv, physical)
        for c in chunks
    ]


def _log_state(path: str, as_of: int | None = None) -> dict:
    """Replayed log state without a SparkSession — rides TxTable's
    checkpoint-accelerated replay (O(tail), not O(versions))."""
    return TxTable(None, path)._replay_state(as_of=as_of)


def _mapping_pairs(state: dict, schema: StructType) -> tuple:
    """((logical, physical), ...) for ``schema``'s columns whose
    physical parquet name differs — the columnMapping resolution a
    partition spec carries to executors. Physical names are
    VERSION-INVARIANT (the columnMapping contract), so pairs anchored
    once stay valid for every file generation a read or a long-lived
    stream will ever plan, renames and drops included."""
    mapping = state.get("columnMapping")
    if not mapping:
        return ()
    phys = dict(mapping.get("physical") or {})
    return tuple(
        (f.name, phys[f.name])
        for f in schema.fields
        if phys.get(f.name, f.name) != f.name
    )


def _stream_anchor(state: dict, schema: StructType) -> dict:
    """The query-start facts a version-offset stream's correctness
    rests on, for the columns it SERVES (query schema ∩ table
    schema): each column's physical name (identity when unmapped)
    and type, plus whether the table was mapped. The micro-batch
    planner checks every later meta commit against this anchor — see
    :meth:`_TxLogStreamReader._refuse_non_additive_meta`."""
    table_fields: dict = {}
    if state.get("schema"):
        table_fields = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(state["schema"])).fields
        }
    mapping = state.get("columnMapping")
    phys = dict((mapping or {}).get("physical") or {})
    cols = [f.name for f in schema.fields if f.name in table_fields]
    return {
        "phys": {c: phys.get(c, c) for c in cols},
        "types": {c: table_fields[c] for c in cols},
        "mapped": bool(mapping),
    }


def _schema_from_log(path: str, as_of: int | None = None) -> StructType:
    """Committed schema (last meta action ≤ as_of) without Spark."""
    schema_json = _log_state(path, as_of)["schema"]
    if schema_json is None:
        raise ValueError(f"no committed schema in transaction log at {path}")
    st = StructType.fromJson(json.loads(schema_json))
    # surface every column nullable, matching Spark's own parquet-read
    # semantics (and the null-fill contract across schema evolution)
    from pyspark.sql.types import StructField

    return StructType([StructField(f.name, f.dataType, True) for f in st.fields])


def _read_file_as_arrow(part: _FilePartition):
    """Executor-side: one parquet file → Arrow batches aligned to the
    as-of schema (null-fill columns an older generation lacks;
    partition constants — e.g. a change feed's _commit_version —
    materialize as repeated scalars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_json_string

    fields = [
        (name, to_arrow_type(_parse_datatype_json_string(dt_json)))
        for name, dt_json in part.columns
    ]
    target = pa.schema(fields)
    if part.row_groups is not None:
        pf = pq.ParquetFile(part.path)
        table = pf.read_row_groups(list(part.row_groups))
    else:
        pf = None
        table = pq.read_table(part.path)
    if part.dv is not None:
        # mask the deletion vector's positions. Vector positions are
        # file-global row indices; a row-group-split partition maps
        # its local rows to global indices via the footer's row-group
        # offsets (same footer the split read already opened).
        import numpy as np

        pos = pq.read_table(part.dv, columns=["pos"]).column("pos").to_numpy()
        if part.row_groups is not None:
            starts, acc = [], 0
            for rg in range(pf.metadata.num_row_groups):
                starts.append(acc)
                acc += pf.metadata.row_group(rg).num_rows
            global_idx = np.concatenate(
                [
                    np.arange(
                        starts[rg],
                        starts[rg] + pf.metadata.row_group(rg).num_rows,
                        dtype="int64",
                    )
                    for rg in part.row_groups
                ]
            )
        else:
            global_idx = np.arange(table.num_rows, dtype="int64")
        keep = ~np.isin(global_idx, pos)
        table = table.filter(pa.array(keep))
    const = dict(part.constants or ())
    phys = dict(part.physical or ())
    cols = []
    for name, typ in fields:
        # columnMapping: the file stores the physical name; the
        # alignment is a positive select by target schema, so a
        # dropped column's orphan bytes are never touched
        src = phys.get(name, name)
        if name in const:
            cols.append(pa.array([const[name]] * table.num_rows, type=typ))
        elif src in table.column_names:
            cols.append(table.column(src).cast(typ))
        else:
            cols.append(pa.nulls(table.num_rows, type=typ))
    aligned = pa.table(cols, schema=target)
    yield from aligned.to_batches(max_chunksize=65536)


def _schema_columns(schema: StructType) -> tuple:
    return tuple((f.name, f.dataType.json()) for f in schema.fields)


def _pv_constants(add: dict, cols: tuple, physical: tuple = ()) -> tuple:
    """Typed (name, value) constants for an add action's hive
    partition values — partition columns aren't in the data files, so
    they ride the partition spec and materialize executor-side.
    partitionValues keys are PHYSICAL (hive dirs); ``physical``
    re-keys them to the logical names the schema speaks."""
    pv = add.get("partitionValues")
    if not pv:
        return ()
    from pyspark.sql.types import _parse_datatype_json_string

    from .txlog import pv_cast

    rev = {p: l for l, p in (physical or ())}
    types = dict(cols)
    return tuple(
        (rev.get(c, c), pv_cast(v, _parse_datatype_json_string(types[rev.get(c, c)])))
        for c, v in pv.items()
        if rev.get(c, c) in types
    )


def _cdf_schema(path: str, as_of: int | None = None) -> StructType:
    """Change-feed schema: the table's columns + the CDF metadata
    pair (``_change_type`` string, ``_commit_version`` long) — the
    public Delta CDF column shape."""
    from pyspark.sql.types import LongType, StringType, StructField

    st = _schema_from_log(path, as_of)
    return StructType(
        list(st.fields)
        + [
            StructField("_change_type", StringType(), True),
            StructField("_commit_version", LongType(), True),
        ]
    )


#: per-surface wording of the per-version planner's refusals
#: (change_feed flag → text)
_MISSING_VERSION = {
    True: "vacuumed past the feed's start? begin from a retained version",
    False: "vacuumed past the stream's checkpoint? restart with a fresh checkpoint",
}
_REWRITE_REFUSAL = {
    True: "changes existing rows without change-data sidecars; a "
    "row-accurate change feed needs the writer to run with "
    "change_data=True (TxTable CDF property). Set skipChangeCommits=true "
    "to ignore rewrite commits.",
    False: "changes existing rows; a version-offset stream is append-only. "
    "Set skipChangeCommits=true to ignore such commits, use "
    "readChangeFeed=true on a change_data table, or consume "
    "TxTable.changes() in batch for row-accurate updates.",
}


def _log_walk(path: str, lo: int, hi: int, change_feed: bool) -> Iterator:
    """The planners' one log walk over versions ``(lo, hi]``: one
    replay at ``lo``, then each commit file read once, classified
    (:func:`_classify_commit`) against the adds live before it and
    folded into the state (:meth:`TxTable._apply_commit`). Yields
    ``(v, actions, classified, state)``, ``state`` folded through
    ``v`` — after the last step it is the range head's state."""
    if hi <= lo:
        return
    t = TxTable(None, path)
    state = t._replay_state(lo)
    for v in range(lo + 1, hi + 1):
        try:
            actions = t._read_commit(v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"log version {v} missing at {path} — {_MISSING_VERSION[change_feed]}"
            ) from None
        classified = _classify_commit(actions, state["adds"])
        t._apply_commit(state, v, actions)
        yield v, actions, classified, state


def _version_partitions(
    path: str,
    v: int,
    actions: list,
    classified: tuple,
    cols: tuple,
    split_rows: int,
    *,
    change_feed: bool,
    skip_change_commits: bool = False,
    physical: tuple = (),
) -> list[_FilePartition]:
    """Plan ONE committed version from its classified actions — the
    one planner of the append stream, the CDF stream and the batch
    CDF read, fed by :func:`_log_walk`:

    - ``change_feed`` commits carrying ``cdc`` sidecar actions → read
      the sidecars (``_change_type`` is in the file;
      ``_commit_version`` rides the partition as a constant);
    - blind appends → read the added files (a change feed stamps
      ``_change_type='insert'`` and ``_commit_version``); an add
      re-emitted unchanged is no append and plans nothing;
    - copy-on-write rewrites, any add carrying a deletion vector, and
      in-place re-adds (restore's vector rollback re-emits the add
      with NO remove action) are not appends, and without sidecars
      not row-accurately representable → raise, or skip under
      ``skipChangeCommits``;
    - ``dataChange: false`` layout commits are invisible.
    """
    added, removed, in_place, cdcs = classified
    if change_feed and cdcs:
        files = [(os.path.join(path, c["path"]), c, (("_commit_version", v),)) for c in cdcs]
    elif removed or in_place or any(
        a["add"].get("dv") and a["add"].get("dataChange", True)
        for a in actions
        if "add" in a
    ):
        if skip_change_commits:
            return []
        raise ValueError(f"version {v} of {path} {_REWRITE_REFUSAL[change_feed]}")
    else:
        const = (("_change_type", "insert"), ("_commit_version", v)) if change_feed else ()
        files = [
            (_data_file(path, p, a), a, const + _pv_constants(a, cols, physical))
            for p, a in added.items()
        ]
    return [
        part
        for f, action, constants in files
        for part in _file_partitions(
            f, int(action.get("rows", 0)), cols, split_rows, constants, physical=physical
        )
    ]


def _pushed_can_match(flt, phys: dict):
    """One pushed DSv2 filter as the per-file ``can_match(stats, pv,
    nulls, rows)`` closure TxTable's DML skipping builds
    (``_compile_can_match``), keyed by the PHYSICAL column name the
    log's stats and partition values use — so batch reads and DML
    skip files by one rule. ``None`` for filters the log cannot
    refute (nested columns, string predicates, most NOTs, ...)."""
    if type(flt).__name__ == "Not":
        # Spark pushes ``b = false`` and ``NOT b`` as
        # Not(EqualTo(b, true)): on a boolean that is the equality
        # with the other value (a NULL ``b`` satisfies neither)
        eq = flt.child
        if type(eq).__name__ != "EqualTo" or not isinstance(eq.value, bool):
            return None
        return _pushed_can_match(dataclasses.replace(eq, value=not eq.value), phys)
    attr = getattr(flt, "attribute", ())
    if len(attr) != 1:
        return None
    col = phys.get(attr[0], attr[0])
    kind = type(flt).__name__
    if kind in ("IsNull", "IsNotNull"):
        return _null_fn(col, kind == "IsNull")
    if kind in _CMP_OPS:
        return _cmp_fn(col, _CMP_OPS[kind], flt.value)
    if kind == "In":
        return _in_fn(col, flt.value)
    return None


class _TxLogBatchReader(DataSourceReader):
    """Snapshot (or ``asOf``) read planned from the log only, with
    filter pushdown into log-stats file skipping. Defining
    ``pushFilters`` requires ``spark.sql.python.filterPushdown.enabled``
    (Spark refuses the reader otherwise), which
    :func:`register_txlog_source` sets. The log is replayed once, in
    :meth:`partitions`; the replayed state is not kept on the reader,
    which Spark pickles into every task's read closure."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        as_of: int | None,
        split_rows: int = DEFAULT_SPLIT_ROWS,
    ):
        self.path = path
        self.schema = schema
        self.as_of = as_of
        self.split_rows = split_rows
        self._pushed = []  # pushed conjuncts, for file skipping

    def pushFilters(self, filters):
        """Keep every pushed filter for FILE SKIPPING against the
        log's min/max/null stats and exact partition values, and hand
        ALL of them back for Spark to evaluate row-level — skipping is
        a superset guarantee, so correctness never depends on it (the
        native parquet source's contract between footer-stats
        row-group skipping and post-scan filtering)."""
        self._pushed = list(filters)
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        # plan from the log only: live files at as_of minus the files
        # whose stats prove some pushed conjunct can match no row, one
        # partition per surviving file (Spark schedules them across
        # executors)
        state = _log_state(self.path, self.as_of)
        pairs = _mapping_pairs(state, self.schema)
        cols = _schema_columns(self.schema)
        phys = dict(pairs)
        checks = [c for c in (_pushed_can_match(f, phys) for f in self._pushed) if c]
        parts: list[_FilePartition] = []
        for p, add in state["adds"].items():
            stats = (add.get("stats") or {}, add.get("partitionValues") or {})
            if not all(c(*stats, add.get("nulls"), add.get("rows")) for c in checks):
                continue
            dv = add.get("dv")
            parts.extend(
                _file_partitions(
                    _data_file(self.path, p, add),
                    int(add.get("rows", 0)),
                    cols,
                    self.split_rows,
                    constants=_pv_constants(add, cols, pairs),
                    dv=_data_file(self.path, dv["path"], dv) if dv else None,
                    physical=pairs,
                )
            )
        return parts or [_FilePartition("", cols)]

    def read(self, partition: _FilePartition) -> Iterator:
        if not partition.path:  # empty table sentinel partition
            return iter(())
        return _read_file_as_arrow(partition)


class _TxLogChangesBatchReader(DataSourceReader):
    """Batch change-feed read: ``spark.read.format("hz_txlog")
    .option("readChangeFeed", "true").option("startingVersion", N)
    [.option("endingVersion", M)].load(path)`` — every change in
    versions [N, M] as CDF rows, planned from the log only (the
    public Delta batch-CDF surface)."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        start: int,
        end: int | None,
        split_rows: int,
    ):
        self.path = path
        self.schema = schema
        self.start = start
        top = TxTable(None, path).version()
        self.end = top if end is None else min(end, top)
        self.split_rows = split_rows

    def partitions(self) -> Sequence[InputPartition]:
        cols = _schema_columns(self.schema)
        # classify the whole range first: its reads take the
        # RANGE-HEAD mapping (the TxTable.changes contract) — physical
        # names are version-invariant, so the head's logical names
        # apply to every generation in the range
        steps = list(_log_walk(self.path, self.start - 1, self.end, change_feed=True))
        pairs = _mapping_pairs(steps[-1][3], self.schema) if steps else ()
        parts = [
            part
            for v, actions, classified, _ in steps
            for part in _version_partitions(
                self.path, v, actions, classified, cols, self.split_rows,
                change_feed=True, physical=pairs,
            )
        ]
        return parts or [_FilePartition("", cols)]

    def read(self, partition: _FilePartition) -> Iterator:
        if not partition.path:
            return iter(())
        return _read_file_as_arrow(partition)


def _ts_option(raw: str) -> float:
    """startingTimestamp accepts epoch seconds or an ISO datetime —
    one parse shared with batch timestampAsOf (txlog._parse_ts)."""
    from .txlog import _parse_ts

    return _parse_ts(raw)


def _version_at_or_after(path: str, ts: float) -> int:
    """First version whose commitInfo wall-clock is >= ``ts`` (the
    Delta startingTimestamp resolution); top+1 when every commit
    predates it — the caller starts at the log head. Pure driver-side
    log metadata, O(tail) via the checkpoint timestamp index
    (TxTable.commit_timestamps — the same index batch timestampAsOf
    reads, so the two surfaces can never drift)."""
    t = TxTable(None, path)
    cts = t.commit_timestamps()
    first = min((v for v, ts_ in cts.items() if ts_ >= ts), default=None)
    return first if first is not None else t.version() + 1


class _TxLogStreamReader(DataSourceStreamReader):
    """Versions-as-offsets tail of the commit log. Offset dict:
    ``{"version": N}`` = everything up to and including version N has
    been emitted. Planning is pure log I/O on the driver; data reads
    happen in executors via Arrow."""

    def __init__(self, path: str, schema: StructType, options: dict):
        self.path = path
        self._schema = schema
        # columnMapping pairs anchored ONCE at query start: physical
        # names are version-invariant, so the anchor stays valid for
        # every file any future micro-batch plans — a mid-stream
        # RENAME changes only logical names, and the stream keeps
        # serving its query-start schema (the Delta stream contract)
        try:
            qstate = _log_state(path)
            self._pairs = _mapping_pairs(qstate, schema)
            self._anchor = _stream_anchor(qstate, schema)
        except FileNotFoundError:
            self._pairs = ()  # table not created yet: no mapping either
            self._anchor = None
        opts = {k.lower(): v for k, v in options.items()}  # option names are case-insensitive
        self.skip_change_commits = (
            str(opts.get("skipchangecommits", "false")).lower() == "true"
        )
        # readChangeFeed: emit the CDF row shape (_change_type,
        # _commit_version) instead of the append-only table rows —
        # rewrite commits are served from their cdc sidecars
        self.read_change_feed = (
            str(opts.get("readchangefeed", "false")).lower() == "true"
        )
        # startingVersion: first batch starts AFTER this version
        # (default -1: emit the existing table as the first batch —
        # Delta's startingVersion=0 shape). startingTimestamp resolves
        # to the first version committed at or after the wall-clock.
        sv, st = opts.get("startingversion"), opts.get("startingtimestamp")
        if sv is not None and st is not None:
            raise ValueError("pass startingVersion OR startingTimestamp, not both")
        if st is not None:
            self.starting_version = _version_at_or_after(path, _ts_option(st)) - 1
        else:
            self.starting_version = int(sv) if sv is not None else -1
        self.split_rows = int(opts.get("splitrows", DEFAULT_SPLIT_ROWS))
        # Delta's maxFilesPerTrigger shape, at version grain: cap how
        # many commits one micro-batch may span, so a stream that
        # fell behind catches up in bounded batches instead of one
        # giant one. None = unbounded (default).
        mv = opts.get("maxversionspertrigger")
        self.max_versions = int(mv) if mv is not None else None
        # streamId: names a per-stream anchor file under _txlog/ that
        # commit() keeps at the last committed end version. The Python
        # stream-reader protocol never tells the reader the
        # checkpointed offset before the first latestOffset() of a
        # run, so WITHOUT an anchor the first post-restart batch is
        # uncapped — exactly the catch-up case maxVersionsPerTrigger
        # exists to bound. The anchor must be unique per stream
        # (checkpoint): a shared one could sit behind another stream's
        # offset and cap latestOffset below it.
        self.stream_id = opts.get("streamid")
        self._last_end: int | None = None
        if self.stream_id is not None:
            try:
                self._last_end = int(
                    json.load(open(self._anchor_file()))["version"]
                )
            except (OSError, ValueError, KeyError):
                pass  # no anchor yet (first run) — first batch uncapped

    def _anchor_file(self) -> str:
        return os.path.join(
            self.path, "_txlog", f".stream-anchor-{self.stream_id}.json"
        )

    def _refuse_non_additive_meta(self, v: int, actions: list, mapping: dict | None) -> None:
        """Fail the stream on a mid-stream NON-ADDITIVE schema /
        columnMapping change (Delta's stream contract): a DROP of a
        served column — including drop + re-add of the same logical
        name under a fresh physical id — or a served column's type
        change invalidates the query-start anchor, and later appends
        would silently serve NULL (or mistyped values) for that
        column from new files. ADDITIVE changes pass: new columns,
        and renames (a rename keeps the physical name, so the anchor
        stays valid and the stream keeps serving its query-start
        schema). skipChangeCommits does NOT bypass this — a meta
        change is not a data-change commit, and planning appends
        under a stale mapping is a correctness hole, not noise."""
        if not self._anchor:
            return
        for action in actions:
            m = action.get("meta") or {}
            if "columnMapping" in m:
                mp = m["columnMapping"]
                if mp is None:
                    if self._anchor["mapped"]:
                        raise ValueError(
                            f"version {v} of {self.path} rolls the column "
                            "mapping back; the stream's query-start anchor "
                            "is invalid — restart the stream"
                        )
                    continue
                values = set((mp.get("physical") or {}).values())
                gone = sorted(
                    c
                    for c, p in self._anchor["phys"].items()
                    if p not in values
                )
                if gone:
                    raise ValueError(
                        f"version {v} of {self.path} drops served column(s) "
                        f"{gone} (or re-adds them under fresh physical "
                        "ids); this non-additive schema change invalidates "
                        "the stream's query-start anchor — restart the "
                        "stream to pick up the new schema"
                    )
            if "schema" in m:
                # compare in PHYSICAL space whenever the table is
                # mapped at this commit — including the upgrade commit
                # itself (rename on a previously-unmapped table ships
                # schema + columnMapping together; its logical names
                # legally change while physicals stay identity)
                mapped_now = bool(m.get("columnMapping")) or self._anchor["mapped"]
                if not mapped_now:
                    new = {
                        f.name: f.dataType.simpleString()
                        for f in StructType.fromJson(
                            json.loads(m["schema"])
                        ).fields
                    }
                else:
                    # mapped table: logical names may legally rename,
                    # so compare by PHYSICAL name — via the commit's
                    # own mapping when it carries one, else
                    # ``mapping``, the walk's folded mapping at this
                    # version (physicals are version-invariant)
                    mp2 = m.get("columnMapping")
                    if mp2 is None:
                        mp2 = mapping
                    phys2 = dict((mp2 or {}).get("physical") or {})
                    new = {
                        phys2.get(f.name, f.name): f.dataType.simpleString()
                        for f in StructType.fromJson(
                            json.loads(m["schema"])
                        ).fields
                    }
                missing = sorted(
                    c
                    for c, p in self._anchor["phys"].items()
                    if p not in new
                )
                changed = sorted(
                    c
                    for c, p in self._anchor["phys"].items()
                    if p in new and new[p] != self._anchor["types"][c]
                )
                if missing or changed:
                    raise ValueError(
                        f"version {v} of {self.path} drops or retypes "
                        f"served column(s) {missing + changed}; this "
                        "non-additive schema change invalidates the "
                        "stream's query-start anchor — restart the stream"
                    )

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        top = TxTable(None, self.path).version()
        if self.max_versions is not None and self._last_end is not None:
            top = min(top, self._last_end + self.max_versions)
        return {"version": top}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._last_end = end["version"]  # rate-limit anchor for the next trigger
        cols = _schema_columns(self._schema)
        parts: list[_FilePartition] = []
        walk = _log_walk(self.path, start["version"], end["version"], self.read_change_feed)
        for v, actions, classified, state in walk:
            self._refuse_non_additive_meta(v, actions, state.get("columnMapping"))
            parts.extend(
                _version_partitions(
                    self.path, v, actions, classified, cols, self.split_rows,
                    change_feed=self.read_change_feed,
                    skip_change_commits=self.skip_change_commits,
                    physical=self._pairs,
                )
            )
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_as_arrow(partition)

    def commit(self, end: dict) -> None:
        # the engine-side checkpoint is the source of truth for
        # offsets; the anchor only re-seeds the rate limiter after a
        # restart (atomic tmp+rename, best-effort: a lost anchor costs
        # one uncapped batch, never correctness)
        if self.stream_id is None:
            return
        # the ".tmp-" suffix matches vacuum's leaked-tmp sweep glob
        tmp = self._anchor_file() + f".tmp-{os.getpid()}"
        try:
            with open(tmp, "w") as fh:
                json.dump({"version": end["version"]}, fh)
            os.replace(tmp, self._anchor_file())
        except OSError:
            pass


class TxLogDataSource(DataSource):
    """``spark.dataSource.register(TxLogDataSource)`` then
    ``spark.read.format("hz_txlog").load(table_path)``."""

    @classmethod
    def name(cls) -> str:
        return "hz_txlog"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("hz_txlog requires a table path: .load(<path>)")
        return p

    def _cdf(self) -> bool:
        return str(self.options.get("readchangefeed", "false")).lower() == "true"

    def _as_of(self) -> int | None:
        """Batch time-travel version from ``asOf`` (a version) or
        ``timestampAsOf`` (Delta's batch option — latest commit at or
        before the timestamp, resolved via TxTable.version_at)."""
        as_of = self.options.get("asof")
        ts = self.options.get("timestampasof")
        if as_of is not None and ts is not None:
            raise ValueError("pass asOf OR timestampAsOf, not both")
        if ts is not None:
            return TxTable(None, self._path()).version_at(ts)
        return int(as_of) if as_of is not None else None

    def schema(self):
        if self._cdf():
            ev = self.options.get("endingversion")
            return _cdf_schema(self._path(), int(ev) if ev is not None else None)
        return _schema_from_log(self._path(), self._as_of())

    def reader(self, schema: StructType) -> DataSourceReader:
        as_of = self._as_of()
        split = self.options.get("splitrows")
        if self._cdf():
            sv = self.options.get("startingversion")
            st = self.options.get("startingtimestamp")
            if sv is not None and st is not None:
                raise ValueError(
                    "pass startingVersion OR startingTimestamp, not both"
                )
            if st is not None:
                start = _version_at_or_after(self._path(), _ts_option(st))
            else:
                start = int(sv) if sv is not None else 0
            ev = self.options.get("endingversion")
            return _TxLogChangesBatchReader(
                self._path(),
                schema,
                start,
                int(ev) if ev is not None else None,
                int(split) if split is not None else DEFAULT_SPLIT_ROWS,
            )
        return _TxLogBatchReader(
            self._path(),
            schema,
            int(as_of) if as_of is not None else None,
            int(split) if split is not None else DEFAULT_SPLIT_ROWS,
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _TxLogStreamReader(self._path(), schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool):
        return _TxLogBatchWriter(self._path(), schema, dict(self.options), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _TxLogStreamWriter(self._path(), schema, dict(self.options))


def register_txlog_source(spark) -> None:
    """Idempotent registration of the ``hz_txlog`` format. Also
    enables Python data source filter pushdown, which the batch
    reader's log-stats file skipping needs (Spark refuses a reader
    implementing ``pushFilters`` without the conf) — a session that
    refuses the conf fails here, not at its first read."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxLogDataSource)


# ---------------- exactly-once streaming sink ----------------


@dataclass
class _WriteMessage(WriterCommitMessage):
    """Per-task result: the staged files (relative to the table root)
    plus the add-action metadata the driver needs — no driver-side
    footer reads, the stats ride the commit message. One task stages
    ONE file for an unpartitioned write and one file PER partition
    value it saw for a hive-partitioned write."""

    #: [{"path", "rows", "stats", "partitionValues"?}, ...]; empty:
    #: this task saw no rows
    files: list


class _StagedParquetWriteMixin:
    """Executor-side write path shared by the batch and streaming
    writers: Arrow batches → one staged parquet file per task, with
    min/max pruning stats computed in-stream (no footer re-reads —
    they ride the commit message back to the driver)."""

    path: str
    stat_cols: list
    partition_cols: list
    #: ((logical, physical), ...) columnMapping pairs for the written
    #: schema (set by _resolve_constraints; () = unmapped table)
    mapping: tuple = ()
    #: ((column, generation expr), ...) sorted pairs (set by
    #: _resolve_constraints; () = no generated columns)
    generated: tuple = ()
    #: StructType json of the generated columns' committed fields
    gen_schema_json: str | None = None

    def _resolve_partition_cols(self, opts: dict) -> list:
        """The effective hive-partition columns for this write: the
        ``partitionBy`` option for a new table, the table's committed
        partitionColumns otherwise (a mismatching option raises —
        silent layout drift would break pruning expectations)."""
        opt = [c for c in str(opts.get("partitionby", "")).split(",") if c]
        t = TxTable(None, self.path)
        existing = t.partition_columns() if t.version() >= 0 else None
        if existing is None:
            return opt
        if opt and opt != existing:
            raise ValueError(
                f"partitionBy={opt} does not match the table's committed "
                f"partition columns {existing} at {self.path}"
            )
        return existing

    @staticmethod
    def _hive_value(v) -> str | None:
        """The log's stringified partition value (Delta shape); None
        stays None (hive default-partition sentinel in the path)."""
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        return v.isoformat() if hasattr(v, "isoformat") else str(v)

    def _resolve_constraints(self) -> dict:
        """The table's CHECK constraints and columnMapping pairs at
        writer-construction time (driver-side, session-less log
        replay) — serialized onto the writer so the EXECUTOR batch
        path can enforce/translate them. Returns the constraints and
        sets ``self.mapping`` / ``self.evolve_meta`` as side effects
        (one replay covers both).

        Schema evolution through the sink is OPT-IN via
        ``.option("mergeSchema", "true")`` (the Delta sink contract):
        written columns the table doesn't know get the
        evolve_schema-equivalent meta action folded into the SAME
        data commit — for a mapped table, fresh physical ids are
        assigned here (construction time) so executors stage parquet
        under them, and commit() revalidates the assignment against
        the then-current log before committing. Without the option a
        widening write fails CLOSED at construction."""
        self.mapping = ()
        self.generated = ()
        self.gen_schema_json = None
        self.evolve_meta = None
        self._evolve_base = None
        merge = bool(getattr(self, "merge_schema", False))
        is_overwrite = bool(getattr(self, "overwrite", False))
        if merge and is_overwrite:
            raise ValueError(
                "mergeSchema applies to append writes; an overwrite that "
                'changes the schema uses .option("overwriteSchema", "true")'
            )
        t = TxTable(None, self.path)
        if t.version() < 0:
            return {}
        state = t._replay_state()
        from .txlog import SUPPORTED_WRITER_FEATURES, TableFeatureError

        unknown_wf = (
            set(state.get("writerFeatures", ())) - SUPPORTED_WRITER_FEATURES
        )
        if unknown_wf:
            raise TableFeatureError(
                f"table {self.path} requires writer features "
                f"{sorted(unknown_wf)} this sink does not implement"
            )
        if state.get("identity"):
            # id reservation needs the hwm-advancing commit the
            # TxTable append path serializes; the session-less sink
            # cannot provide it — fail closed at construction
            raise TableFeatureError(
                f"table {self.path} has GENERATED ALWAYS AS IDENTITY "
                f"column(s) {sorted(state['identity'])} — write via "
                "TxTable.append/append_batch, which reserve id ranges"
            )
        mapping = state.get("columnMapping")
        committed = (
            StructType.fromJson(json.loads(state["schema"]))
            if state.get("schema")
            else None
        )
        new_fields = (
            [
                f
                for f in self._schema.fields
                if committed is not None
                and f.name not in {cf.name for cf in committed.fields}
            ]
            if committed is not None
            else []
        )
        if new_fields and committed is not None:
            # a case-variant of an existing column must not evolve into
            # a duplicate: under the default spark.sql.caseSensitive=
            # false, `value` + `Value` in one schema makes every later
            # reference an ambiguous-analysis error (a bricked table).
            # Refuse with the rename instruction instead.
            lower = {cf.name.lower(): cf.name for cf in committed.fields}
            clashes = [
                (f.name, lower[f.name.lower()])
                for f in new_fields
                if f.name.lower() in lower
            ]
            if clashes:
                raise ValueError(
                    f"written column(s) {[c[0] for c in clashes]} differ "
                    f"only by case from existing column(s) "
                    f"{[c[1] for c in clashes]} at {self.path}; rename the "
                    "written columns to match exactly — evolving a "
                    "case-duplicate would make every later reference "
                    "ambiguous"
                )
        if mapping:
            from .txlog import TableFeatureError

            phys = dict(mapping.get("physical") or {})
            unmapped = [
                f for f in self._schema.fieldNames() if f not in phys
            ]
            if unmapped and not merge:
                raise TableFeatureError(
                    f"columns {unmapped} are not in {self.path}'s column "
                    "mapping; the sink cannot assign physical names — set "
                    '.option("mergeSchema", "true") to evolve the table in '
                    "this write, or add them through TxTable.evolve_schema "
                    "first"
                )
            if unmapped:
                merged = StructType(
                    list(committed.fields) + new_fields
                ).json()
                extended = TxTable._extend_mapping(mapping, merged)
                ext_phys = dict(extended["physical"])
                self.evolve_meta = {
                    "schema": merged,
                    "columnMapping": extended,
                }
                self._evolve_base = {
                    "maxId": int(mapping.get("maxId", 0)),
                    "schema": state.get("schema"),
                }
                phys = ext_phys
            written = list(self._schema.fieldNames())
            # generated columns the sink computes executor-side need
            # their physical names in the rename map too
            written += [
                g
                for g in (state.get("generated") or {})
                if g not in written and g in phys
            ]
            self.mapping = tuple(
                (f, phys[f]) for f in written if phys[f] != f
            )
        elif new_fields and not is_overwrite:
            # (overwrite handles shape changes via its own
            # overwriteSchema gate at commit time)
            if not merge:
                raise ValueError(
                    f"write adds columns {[f.name for f in new_fields]} the "
                    f"table at {self.path} does not have; set "
                    '.option("mergeSchema", "true") to evolve the schema in '
                    "this write (reads resolve the committed schema, so the "
                    "new columns would otherwise be silently hidden)"
                )
            self.evolve_meta = {
                "schema": StructType(
                    list(committed.fields) + new_fields
                ).json()
            }
            self._evolve_base = {"maxId": None, "schema": state.get("schema")}
        cons = dict(state.get("constraints") or {})
        # refuse HERE (driver-side, named error) any constraint whose
        # syntax is outside the pinned sink-compatible subset — the
        # DuckDB gate must never evaluate a CHECK differently from
        # Spark's write path, and an opaque first-batch failure is
        # the wrong place to find out. add_constraint only lets such
        # expressions into the log under sink_enforceable=False,
        # whose documented contract is exactly this refusal.
        from .txlog import sink_compatible_reason

        cols: set | None = None
        if state.get("schema"):
            cols = {
                f.name
                for f in StructType.fromJson(json.loads(state["schema"])).fields
            }
        for cname, cexpr in cons.items():
            reason = sink_compatible_reason(cexpr, columns=cols)
            if reason:
                raise ValueError(
                    f"CHECK constraint {cname!r} ({cexpr}) on {self.path}: "
                    f"{reason} — the sink cannot enforce it with "
                    "Spark-identical semantics; write via TxTable instead"
                )
        gen = dict(state.get("generated") or {})
        if gen:
            # the sink computes/verifies generation through the same
            # session-less DuckDB gate as CHECK, so the expressions
            # must sit inside the matrix-tested subset — anything
            # richer (CAST, division, ...) fails CLOSED here with the
            # TxTable redirect rather than computing a value Spark
            # might not have
            src_cols = (
                {c for c in cols if c not in gen} if cols is not None else None
            )
            for gname, gexpr in gen.items():
                reason = sink_compatible_reason(gexpr, columns=src_cols)
                if reason:
                    raise ValueError(
                        f"generated column {gname!r} = ({gexpr}) on "
                        f"{self.path}: {reason} — the sink cannot compute "
                        "or verify it with Spark-identical semantics; "
                        "write via TxTable instead"
                    )
            self.generated = tuple(sorted(gen.items()))
            if committed is not None:
                gfields = [f for f in committed.fields if f.name in gen]
                self.gen_schema_json = StructType(gfields).json()
        return cons

    def _apply_generated_arrow(self, table):
        """Executor-side generated-column materialization on one
        Arrow batch — the sink twin of ``TxTable._apply_generated``:
        an omitted column is COMPUTED from its expression, a supplied
        one is VERIFIED cell-by-cell (null-safe equality), both
        through DuckDB over the Arrow table. Construction already
        pinned every expression to the matrix-tested sink-compatible
        subset, so the two engines agree by test, and
        ``preserve_insertion_order`` + one thread keep the computed
        column row-aligned with its batch."""
        gen = getattr(self, "generated", None)
        if not gen:
            return table
        import duckdb
        from pyspark.sql.pandas.types import to_arrow_type

        gtypes = {}
        if getattr(self, "gen_schema_json", None):
            gtypes = {
                f.name: f.dataType
                for f in StructType.fromJson(
                    json.loads(self.gen_schema_json)
                ).fields
            }
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            con.execute("SET preserve_insertion_order = true")
            for name, expr in gen:
                con.register("staged_batch", table)
                try:
                    if name in table.column_names:
                        n = con.execute(
                            "SELECT count(*) FROM staged_batch WHERE NOT "
                            f'("{name}" IS NOT DISTINCT FROM ({expr}))'
                        ).fetchone()[0]
                        if n:
                            raise ValueError(
                                f"generated column {name!r} = ({expr}): "
                                f"{n} written row(s) do not match the "
                                "generation expression — omit the column "
                                "to have the sink compute it"
                            )
                    else:
                        arr = (
                            con.execute(
                                f"SELECT ({expr}) AS __g FROM staged_batch"
                            )
                            .arrow()
                            .column("__g")
                        )
                        if name in gtypes:
                            arr = arr.cast(to_arrow_type(gtypes[name]))
                        table = table.append_column(name, arr)
                except ValueError:
                    raise
                except Exception as e:  # noqa: BLE001 - fail closed
                    raise ValueError(
                        f"cannot materialize generated column {name!r} "
                        f"({expr}) on the sink path: {e}; write via "
                        "TxTable instead"
                    ) from e
                finally:
                    con.unregister("staged_batch")
        finally:
            con.close()
        return table

    def _check_arrow(self, table, pv: dict | None) -> None:
        """Executor-side CHECK enforcement on one staged Arrow batch
        — the sink path has no SparkSession, so the expression runs
        through DuckDB over the Arrow table (same ANSI comparison /
        boolean semantics for the expressions CHECK uses;
        ``COALESCE(expr, TRUE)`` gives SQL's NULL-passes rule).
        Partition values rejoin as constants so constraints on
        partition columns validate too. A constraint DuckDB cannot
        evaluate fails CLOSED — silently unenforced invariants are
        worse than a refused write."""
        cons = getattr(self, "constraints", None)
        if not cons:
            return
        import duckdb
        import pyarrow as pa

        batch = table
        for col, val in (pv or {}).items():
            if col not in batch.column_names:
                arr = pa.array([val] * len(batch))
                # hive values are stringified — cast back to the
                # write schema's type so the CHECK compares typed
                # values (DuckDB refuses VARCHAR-vs-integer)
                schema = getattr(self, "_schema", None)
                if schema is not None and col in schema.fieldNames():
                    from pyspark.sql.pandas.types import to_arrow_type

                    try:
                        arr = arr.cast(to_arrow_type(schema[col].dataType))
                    except Exception:  # noqa: BLE001
                        pass  # keep string; unevaluable fails closed below
                batch = batch.append_column(col, arr)
        con = duckdb.connect()
        try:
            con.register("staged_batch", batch)
            for name, expr in cons.items():
                try:
                    n = con.execute(
                        "SELECT count(*) FROM staged_batch "
                        f"WHERE NOT COALESCE(({expr}), TRUE)"
                    ).fetchone()[0]
                except Exception as e:  # noqa: BLE001
                    raise ValueError(
                        f"cannot validate CHECK constraint {name!r} "
                        f"({expr}) on the sink path: {e}; write via "
                        "TxTable instead"
                    ) from e
                if n:
                    raise ValueError(
                        f"CHECK constraint {name!r} ({expr}) violated by "
                        f"{n} row(s) in the incoming batch"
                    )
        finally:
            con.close()

    def _stage_one(self, table, rel_dir: str, pv: dict | None):
        import uuid as _uuid

        import pyarrow.compute as pc

        # the CHECK gate runs on LOGICAL names (constraints speak
        # them); the parquet bytes, stats keys, and partitionValues
        # below are PHYSICAL — the columnMapping write contract
        self._check_arrow(table, pv)
        phys = dict(getattr(self, "mapping", ()) or ())
        if phys:
            table = table.rename_columns(
                [phys.get(c, c) for c in table.column_names]
            )
            if pv:
                pv = {phys.get(c, c): v for c, v in pv.items()}
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(self.path, rel_dir), exist_ok=True)
        rel = os.path.join(rel_dir, f"part-{_uuid.uuid4().hex}.parquet")
        pq.write_table(table, os.path.join(self.path, rel))
        stats = {}
        nulls = {}
        # None = auto (the TxTable/_file_stats contract); the JSON
        # guard below drops binary/timestamp mins
        from .txlog import _AUTO_STAT_COLS

        cols = (
            [phys.get(c, c) for c in self.stat_cols]
            if self.stat_cols is not None
            else list(table.column_names)[:_AUTO_STAT_COLS]
        )
        for c in cols:
            if c not in table.column_names:
                continue
            col = table.column(c)
            nulls[c] = int(col.null_count)
            if col.null_count == len(col):
                continue
            lo, hi = pc.min(col).as_py(), pc.max(col).as_py()
            try:
                json.dumps([lo, hi])
            except TypeError:
                continue
            stats[c] = [lo, hi]
        entry = {"path": rel, "rows": table.num_rows, "stats": stats}
        if nulls:
            entry["nulls"] = nulls
        if pv:
            entry["partitionValues"] = pv
        return entry

    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _WriteMessage([])
        table = pa.Table.from_batches(batches)
        # generated columns materialize BEFORE the partition split —
        # a generated partition column is the canonical ingest layout
        table = self._apply_generated_arrow(table)
        if not self.partition_cols:
            return _WriteMessage([self._stage_one(table, "data-stream", None)])
        from urllib.parse import quote

        missing = [c for c in self.partition_cols if c not in table.column_names]
        if missing:
            raise ValueError(f"partition columns not in the written frame: {missing}")
        files = []
        combos = table.group_by(self.partition_cols).aggregate([])
        for i in range(combos.num_rows):
            vals = {c: combos.column(c)[i].as_py() for c in self.partition_cols}
            mask = None
            for c, v in vals.items():
                cond = (
                    pc.is_null(table.column(c))
                    if v is None
                    else pc.equal(table.column(c), v)
                )
                mask = cond if mask is None else pc.and_(mask, cond)
            sub = table.filter(mask).drop_columns(list(self.partition_cols))
            phys = dict(getattr(self, "mapping", ()) or ())
            segs = [
                # hive dirs carry PHYSICAL names (rename-proof layout)
                f"{phys.get(c, c)}=" + (
                    "__HIVE_DEFAULT_PARTITION__"
                    if vals[c] is None
                    else quote(self._hive_value(vals[c]), safe="")
                )
                for c in self.partition_cols
            ]
            files.append(
                self._stage_one(
                    sub,
                    os.path.join("data-stream", *segs),
                    {c: self._hive_value(vals[c]) for c in self.partition_cols},
                )
            )
        return _WriteMessage(files)

    def abort(self, messages, batchId: int | None = None) -> None:
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.remove(os.path.join(self.path, f["path"]))
                except FileNotFoundError:
                    pass

    def _table(self):
        # log-only operations: no SparkSession needed on this path
        return TxTable(None, self.path, stat_cols=self.stat_cols)

    def _create_meta(self) -> dict:
        """Create-commit meta for sink-auto-created tables — the SAME
        contract as TxTable.create() (round-11 review finding: the
        sink used to omit the log-persisted properties and required
        reader features, leaving its tables on the per-instance-flag
        model the properties change eliminated)."""
        meta: dict = {
            "schema": self._schema.json(),
            "properties": {"changeDataFeed": False, "deletionVectors": False},
        }
        if self.partition_cols:
            meta["partitionColumns"] = self.partition_cols
            meta["readerFeatures"] = ["hivePartitioning"]
        return meta

    @staticmethod
    def _adds(messages) -> list[dict]:
        return [
            {"add": dict(f)}
            for m in messages
            if m is not None
            for f in m.files
        ]


class _TxLogBatchWriter(_StagedParquetWriteMixin, DataSourceArrowWriter):
    """``df.write.format("hz_txlog").mode("append"|"overwrite")
    .save(path)`` — batch writes through the standard writer API.
    Append is a blind-append commit (rebases lost version races like
    :meth:`TxTable.append`); overwrite stages the new data, then
    removes every live file and adds the staged set in ONE commit —
    readers flip atomically, time travel keeps the old version. A
    first write auto-creates the table."""

    def __init__(self, path: str, schema: StructType, options: dict, overwrite: bool):
        self.path = path
        self._schema = schema
        self.overwrite = overwrite
        opts = {k.lower(): v for k, v in options.items()}
        self.stat_cols = (
            [c for c in str(opts["statcols"]).split(",") if c]
            if "statcols" in opts
            else None  # auto-stats
        )
        self.overwrite_schema = (
            str(opts.get("overwriteschema", "false")).lower() == "true"
        )
        self.merge_schema = (
            str(opts.get("mergeschema", "false")).lower() == "true"
        )
        self.partition_cols = self._resolve_partition_cols(opts)
        self.constraints = self._resolve_constraints()
        gen_cols = {g for g, _ in getattr(self, "generated", ())}
        bad = [
            c
            for c in self.partition_cols
            if c not in schema.fieldNames() and c not in gen_cols
        ]
        if bad:
            raise ValueError(f"partition columns not in the written schema: {bad}")

    def _evolution_actions(self, actions: list[dict], state: dict) -> list[dict]:
        """``actions`` plus the evolve_schema-equivalent meta action
        for a mergeSchema write, REVALIDATED against ``state`` (the
        log at the commit's base, then at each rebase head):
        construction time chose the union schema (and, for a mapped
        table, fresh physical ids the executors staged parquet
        under) — if a racing commit moved the schema or the mapping
        since, those choices may collide, so surface a conflict
        instead of committing a stale evolution."""
        from .txlog import CommitConflictError

        if state.get("schema") != self._evolve_base["schema"]:
            raise CommitConflictError(
                f"schema of {self.path} changed during a mergeSchema write"
            )
        base_max = self._evolve_base["maxId"]
        if base_max is not None:
            cur = state.get("columnMapping") or {}
            if int(cur.get("maxId", 0)) != base_max:
                raise CommitConflictError(
                    f"column mapping of {self.path} changed during a "
                    "mergeSchema write"
                )
        return [a for a in actions if "meta" not in a] + [{"meta": self.evolve_meta}]

    def commit(self, messages) -> None:
        t = self._table()
        actions = self._adds(messages)
        # capture the base version FIRST and replay exactly that
        # snapshot: a commit landing between replay and commit must
        # surface as a conflict (or a revalidated rebase), never be
        # silently left out of what this commit checked
        base = t.version()
        if base < 0:
            # a create never rebases: losing version 0 to another
            # creator surfaces as a conflict instead of overwriting
            # the winner's schema and properties
            actions.append({"meta": self._create_meta()})
            t._rebase_commit(actions, "WRITE-APPEND", base=base)
        elif not self.overwrite:
            revalidate = None
            if self.evolve_meta is not None:
                # mergeSchema evolution folds into the SAME append
                # commit and is re-checked against every rebase head
                revalidate = self._evolution_actions
                actions = revalidate(actions, t._replay_state(as_of=base))
            t._rebase_commit(
                actions, "WRITE-APPEND", base=base, revalidate=revalidate
            )
        else:
            state = t._replay_state(as_of=base)
            for rel in state["adds"]:
                actions.append({"remove": {"path": rel}})
            # schema-changing overwrite: without a fresh meta action
            # the table keeps the stale schema and reads silently drop
            # the new columns — gate behind overwriteSchema (Delta's
            # contract) so an accidental shape change fails loudly.
            # Compare names+types only: nullability flips with the
            # writing plan (spark.range is non-nullable, a literal
            # frame isn't) and reads surface everything nullable anyway
            def _shape(st: StructType):
                return [(f.name, f.dataType.simpleString()) for f in st.fields]

            old = state["schema"]
            if old is not None and _shape(
                StructType.fromJson(json.loads(old))
            ) != _shape(self._schema):
                if not self.overwrite_schema:
                    raise ValueError(
                        f"overwrite changes the table schema at {self.path}; "
                        'set .option("overwriteSchema", "true") to replace it '
                        "(reads resolve the latest meta action, so the old "
                        "schema would otherwise hide the new columns)"
                    )
                actions.append({"meta": {"schema": self._schema.json()}})
            # overwrite read the snapshot it is replacing: a lost
            # version race means that snapshot is stale — surface the
            # conflict (single attempt), matching merge/compact
            t._commit(actions, base, operation="WRITE-OVERWRITE")

    def abort(self, messages) -> None:
        super().abort(messages)


class _TxLogStreamWriter(_StagedParquetWriteMixin, DataSourceStreamArrowWriter):
    """``df.writeStream.format("hz_txlog")`` — the exactly-once txlog
    sink through the standard sink API. Executors stream Arrow batches
    straight to parquet in a per-batch staging dir; the driver turns
    the collected commit messages into ONE log commit carrying the
    ``txn`` marker ``(appId, batchId)``, so a replayed micro-batch
    (at-least-once engine restart) is a no-op and a failed batch's
    staged files are invisible orphans (vacuum-able) — the same
    protocol as :meth:`TxTable.append_batch`, with the data plane
    moved into the sink API. Options: ``appId`` (marker namespace,
    default ``hz_txlog_sink``), ``statCols`` (comma-separated columns
    whose min/max ride the add actions for MERGE/scan pruning)."""

    def __init__(self, path: str, schema: StructType, options: dict):
        self.path = path
        self._schema = schema
        opts = {k.lower(): v for k, v in options.items()}
        self.app_id = opts.get("appid", "hz_txlog_sink")
        self.stat_cols = (
            [c for c in str(opts["statcols"]).split(",") if c]
            if "statcols" in opts
            else None  # auto-stats
        )
        self.partition_cols = self._resolve_partition_cols(opts)
        self.constraints = self._resolve_constraints()
        gen_cols = {g for g, _ in getattr(self, "generated", ())}
        bad = [
            c
            for c in self.partition_cols
            if c not in schema.fieldNames() and c not in gen_cols
        ]
        if bad:
            raise ValueError(f"partition columns not in the streamed schema: {bad}")

    def commit(self, messages, batchId: int) -> None:
        t = self._table()
        actions = self._adds(messages)
        # capture the base version FIRST: a twin landing after the
        # replay below fails the O_EXCL commit and is caught by the
        # rebase's own twin check instead of double-committing
        base = t.version()
        if base < 0:
            # a brand-new table has no log yet — nothing committed;
            # the create conflicts rather than rebases if another
            # writer takes version 0 first
            actions.append({"meta": self._create_meta()})
        elif batchId in t._replay_state(as_of=base)["txns"].get(self.app_id, set()):
            # replayed batch: drop the freshly staged duplicates and
            # keep the original commit — exactly-once
            self.abort(messages, batchId)
            return
        actions.append({"txn": {"appId": self.app_id, "batchId": batchId}})
        v = t._rebase_commit(
            actions, "STREAMING-SINK", base=base, txn=(self.app_id, batchId)
        )
        if v is None:
            # a replayed twin of this very batch won a version race
            self.abort(messages, batchId)
