"""Snapshot resolution: Delta log replay → (schema, protocol, live files).

Spark-first analog of the reference's scan-metadata planner and
log-replay provider (reference:
``crates/datafusion/src/table_provider/delta/snapshot.rs:92-204``,
``crates/datafusion/src/table_provider/delta_log.rs:139-421``). Where
the reference inverts control through delta-kernel callbacks (storage
list → JSON/parquet read → expression eval), here the "kernel" is
Arrow on the driver:

1. list ``_delta_log/`` (ordered), find ``_last_checkpoint``;
2. read the checkpoint parquet (if any) with ``pyarrow.parquet`` and
   the JSON commits after it with ``pyarrow.json``. Only the few
   metaData / protocol / txn / domainMetadata actions become dicts;
   add/remove actions stay Arrow columns;
3. replay: latest metaData/protocol win; file actions are reconciled
   by path in one vectorized last-action-wins pass over the actions in
   log order, so the live-file set is an Arrow table
   (``filetable.FILE_SCHEMA``). ``Snapshot.files`` is a read-only
   sequence view over it: ``len()`` is O(1) and ``AddFile`` objects
   are built only for the files a caller iterates.

Scale: log replay is metadata-scale (KBs..GBs of JSON/parquet, not
table data). Driver-side replay handles logs up to ~1e6 actions
(``scan.SPARK_PLANNER_FILE_THRESHOLD``); :func:`log_replay_df`
provides the same replay as a Spark job (window dedup over the actions
DataFrame) for tables whose logs outgrow the driver — the cutover
mirrors the reference running snapshot loads on blocking threads
(``session.rs:294-299``).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from deltalake_datafusion_spark.delta.filetable import FileView
from deltalake_datafusion_spark.delta.fs import fs_for, strip_scheme

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(\.\d+\.\d+|\.[0-9a-fA-F-]{36})?\.parquet$"
)
_V2_CP_RE = re.compile(
    r"\.checkpoint\.[0-9a-fA-F-]{36}\.parquet$"
)


class DeltaProtocolError(Exception):
    pass


class DeltaNotFoundError(Exception):
    pass


@dataclass
class DvDescriptor:
    """Deletion-vector descriptor from an add/remove action."""

    storage_type: str  # 'u' (relative w/ random prefix), 'i' (inline), 'p' (absolute)
    path_or_inline: str
    offset: int | None
    size_in_bytes: int
    cardinality: int

    @property
    def unique_id(self) -> str:
        return f"{self.storage_type}{self.path_or_inline}@{self.offset or 0}"


@dataclass
class AddFile:
    """One live data file (reference scan-file context:
    ``crates/datafusion/src/table_provider/delta/table_format.rs:12-26``)."""

    path: str  # relative, URL-decoded
    size: int
    modification_time: int
    partition_values: dict[str, str] = field(default_factory=dict)
    stats: str | None = None  # raw JSON
    dv: DvDescriptor | None = None
    base_row_id: int | None = None  # rowTracking feature
    default_row_commit_version: int | None = None
    tags: dict[str, str] | None = None  # e.g. liquid-clustering marker

    @property
    def dv_id(self) -> str:
        return self.dv.unique_id if self.dv else ""


@dataclass
class Metadata:
    id: str
    schema_string: str
    partition_columns: list[str]
    configuration: dict[str, str]
    name: str | None = None
    created_time: int | None = None
    description: str | None = None

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_string))


@dataclass
class Protocol:
    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: list[str] = field(default_factory=list)
    writer_features: list[str] = field(default_factory=list)


@dataclass
class Snapshot:
    """Immutable view of a Delta table at a version (reference
    ``TableSnapshot`` trait:
    ``crates/datafusion/src/table_provider/delta/table_format.rs:59-82``)."""

    table_path: str
    version: int
    metadata: Metadata
    protocol: Protocol
    files: FileView  # any Sequence[AddFile] is converted
    # remove actions seen during replay, as Arrow struct arrays
    tombstone_arrays: list = field(default_factory=list)
    app_transactions: dict[str, int] = field(default_factory=dict)
    domain_metadata: dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        self.files = FileView.of(self.files)

    @property
    def tombstones(self) -> list[dict]:
        return [r for a in self.tombstone_arrays for r in a.to_pylist()]

    @property
    def schema(self) -> StructType:
        return self.metadata.schema

    @property
    def partition_columns(self) -> list[str]:
        return self.metadata.partition_columns

    def file_paths(self) -> list[str]:
        return [
            os.path.join(self.table_path, p)
            for p in self.files.sorted_table()["path"].to_pylist()
        ]

    def get_property(self, key: str, default: str | None = None) -> str | None:
        return self.metadata.configuration.get(key, default)

    @property
    def column_mapping_mode(self) -> str:
        return self.get_property("delta.columnMapping.mode", "none") or "none"


def _parse_dv(d: dict | None) -> DvDescriptor | None:
    if not d or not d.get("storageType"):
        return None
    return DvDescriptor(
        storage_type=d["storageType"],
        path_or_inline=d["pathOrInlineDv"],
        offset=d.get("offset"),
        size_in_bytes=d.get("sizeInBytes", 0),
        cardinality=d.get("cardinality", -1),
    )


def _log_dir(table_path: str) -> str:
    return os.path.join(strip_scheme(table_path), "_delta_log")


def list_log_files(
    table_path: str, spark=None
) -> tuple[list[tuple[int, str]], list[tuple[int, str]]]:
    """Ordered (version, path) lists of commit JSONs and checkpoints."""
    commits, checkpoints, _ = list_log_files_all(table_path, spark)
    return commits, checkpoints


def list_log_files_all(
    table_path: str, spark=None
) -> tuple[
    list[tuple[int, str]],
    list[tuple[int, str]],
    list[tuple[int, int, str]],
]:
    """One directory listing → (commits, checkpoints, compacted) where
    compacted entries are ``(start, end, path)``. Object-store LIST is
    the expensive metadata op — every cold snapshot load pays exactly
    one."""
    from deltalake_datafusion_spark.delta.logcompact import COMPACTED_RE

    fs = fs_for(table_path, spark)
    commits, checkpoints, compacted = [], [], []
    for st in fs.list(_log_dir(table_path)):
        name = os.path.basename(st.path)
        m = _COMMIT_RE.match(name)
        if m:
            commits.append((int(m.group(1)), st.path))
            continue
        m = _CHECKPOINT_RE.match(name)
        if m:
            checkpoints.append((int(m.group(1)), st.path))
            continue
        m = COMPACTED_RE.match(name)
        if m:
            compacted.append((int(m.group(1)), int(m.group(2)), st.path))
    return sorted(commits), sorted(checkpoints), sorted(compacted)


def read_last_checkpoint(table_path: str, spark=None) -> dict | None:
    fs = fs_for(table_path, spark)
    p = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not fs.exists(p):
        return None
    return json.loads(fs.read_bytes(p).decode("utf-8"))


def _check_protocol(protocol: Protocol) -> None:
    from deltalake_datafusion_spark.delta.log_schema import (
        MAX_READER_VERSION,
        SUPPORTED_READER_FEATURES,
    )

    if protocol.min_reader_version > MAX_READER_VERSION:
        raise DeltaProtocolError(
            f"table requires reader version {protocol.min_reader_version}, "
            f"this engine supports ≤{MAX_READER_VERSION}"
        )
    if protocol.min_reader_version >= 3:
        unsupported = set(protocol.reader_features or []) - SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(f"unsupported reader features: {sorted(unsupported)}")


class _LogBatch:
    """One log file (commit JSON, compacted JSON or checkpoint),
    parsed: its metaData/protocol/txn/domainMetadata actions as dicts
    in file order, and its actions as Arrow tables with ``add`` and
    ``remove`` struct columns (one row per action, in file order; rows
    of other actions hold two nulls) — None when the file actions
    were not read."""

    __slots__ = ("meta", "file_actions")

    def __init__(self, meta: list[dict], file_actions=None):
        self.meta = meta
        self.file_actions = file_actions


_META_KEYS = ("metaData", "protocol", "txn", "domainMetadata")


def _read_checkpoint_actions(
    checkpoint_paths: list[str], with_files: bool = True
) -> _LogBatch:
    """Checkpoint parquet → one :class:`_LogBatch` (driver-side,
    pyarrow; the file actions stay columnar).

    Metadata-scale I/O, same role as the reference's kernel parquet
    handler reading checkpoints
    (``crates/datafusion/src/engine/file_format.rs:252-268``).
    ``with_files=False`` projects away the add/remove columns so a
    million-file checkpoint costs the driver only its metadata rows.
    """
    import pyarrow as pa
    import pyarrow.parquet as papq

    meta: list[dict] = []
    file_tables = []
    sidecars: list[str] = []

    def take(table):
        names = set(table.column_names)
        meta.extend(_meta_rows(table))
        if "sidecar" in names:
            # V2 checkpoint: file actions live in _sidecars/
            sidecars.extend(
                r["path"] for r in table["sidecar"].drop_null().to_pylist()
            )
        file_cols = [c for c in ("add", "remove") if c in names]
        if with_files and file_cols:
            ft = table.select(file_cols)
            for c in ("add", "remove"):
                if c not in names:
                    typ = _file_action_schema().field(c).type
                    ft = ft.append_column(c, pa.nulls(ft.num_rows, typ))
            file_tables.append(ft.select(["add", "remove"]))

    for p in checkpoint_paths:
        if with_files:
            take(papq.read_table(p))
        else:
            avail = set(papq.read_schema(p).names)
            cols = [c for c in _META_KEYS + ("sidecar",) if c in avail]
            take(papq.read_table(p, columns=cols))
    if sidecars and with_files:
        base = os.path.join(os.path.dirname(checkpoint_paths[0]), "_sidecars")
        for name in sidecars:
            take(papq.read_table(os.path.join(base, name)))
    return _LogBatch(meta, file_tables)


_META_ACTION_MARKS = tuple(f'"{k}"' for k in _META_KEYS)


def _iter_commit_actions(path: str, fs, with_files: bool = True) -> list[dict]:
    """Every action of one commit file as a dict (CDF, streaming,
    clone, log compaction and the writer's conflict check read commits
    action by action; snapshot replay parses whole files in Arrow,
    :func:`_replay_commit_files`)."""
    return _actions_of(fs.read_bytes(path), with_files)


def _actions_of(raw: bytes, with_files: bool = True) -> list[dict]:
    text = raw.decode("utf-8")
    if with_files:
        return [
            json.loads(line) for line in text.splitlines() if line.strip()
        ]
    # metadata-only: skip the json parse for add/remove/cdc lines (the
    # overwhelming bulk of a large log) via a substring prefilter — a
    # line is parsed only when it can possibly carry
    # metaData/protocol/txn/domainMetadata. False positives (e.g. a
    # partition column literally named txn) just cost one parse;
    # false negatives are impossible (a real action line contains its
    # unescaped key).
    return [
        json.loads(line)
        for line in text.splitlines()
        if line.strip() and any(m in line for m in _META_ACTION_MARKS)
    ]


def _file_action_schema():
    import pyarrow as pa

    from deltalake_datafusion_spark.delta.filetable import DV_TYPE

    return pa.schema([
        ("add", pa.struct([
            ("path", pa.string()),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("stats", pa.string()),
            ("deletionVector", DV_TYPE),
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ])),
        ("remove", pa.struct([("path", pa.string())])),
    ])


def _parse_commit_bytes(raw: bytes, with_files: bool = True) -> _LogBatch:
    """One JSON log file's bytes → :class:`_LogBatch`.

    ``with_files`` → ONE ``pyarrow.json`` pass (multi-threaded over
    256 KiB blocks when there is more than one): the explicit schema pins the typed add/remove
    fields, everything else — ``partitionValues``/``tags`` and the
    metaData/protocol/txn/domainMetadata actions — is inferred, and
    only the few non-file rows become dicts. A file the Arrow reader
    rejects (a type conflict inference cannot unify) is parsed line by
    line instead. Without files, only the lines that can hold a
    non-file action are parsed."""
    import pyarrow as pa
    import pyarrow.json as pj

    if not with_files:
        return _LogBatch(_actions_of(raw, with_files=False))
    try:
        t = pj.read_json(
            pa.BufferReader(raw),
            read_options=pj.ReadOptions(
                block_size=1 << 18, use_threads=len(raw) > 1 << 18
            ),
            parse_options=pj.ParseOptions(
                explicit_schema=_file_action_schema(),
                unexpected_field_behavior="infer",
            ),
        )
    except pa.ArrowInvalid:
        return _parse_commit_lines(raw)
    return _LogBatch(_meta_rows(t), [t.select(["add", "remove"])])


def _meta_rows(table) -> list[dict]:
    """The rows of a parsed log file holding a metaData, protocol, txn
    or domainMetadata action, as action dicts in file order."""
    import pyarrow.compute as pc

    cols = [c for c in _META_KEYS if c in table.column_names]
    if not cols:
        return []
    sub = table.select(cols)
    any_set = sub[cols[0]].is_valid()
    for c in cols[1:]:
        any_set = pc.or_(any_set, sub[c].is_valid())
    return [_drop_nulls(row) for row in sub.filter(any_set).to_pylist()]


def _drop_nulls(v):
    """Struct rows carry every field of their column's type; drop the
    null ones so a row reads like the JSON object it came from."""
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    return v


def _parse_commit_lines(raw: bytes) -> _LogBatch:
    """Line-by-line fallback of :func:`_parse_commit_bytes`."""
    import pyarrow as pa

    from deltalake_datafusion_spark.delta.filetable import STR_MAP

    actions = [a for a in _actions_of(raw) if isinstance(a, dict)]
    meta = [a for a in actions if any(a.get(k) for k in _META_KEYS)]
    rows = [a for a in actions if a.get("add") or a.get("remove")]
    schema = _file_action_schema()
    add_t = pa.struct(
        list(schema.field("add").type)
        + [("partitionValues", STR_MAP), ("tags", STR_MAP)]
    )

    def add_row(add):
        if not add:
            return None
        out = dict(add)
        for k in ("partitionValues", "tags"):
            out[k] = [
                (kk, None if v is None else str(v))
                for kk, v in (add.get(k) or {}).items()
            ]
        return out

    files = pa.table({
        "add": pa.array([add_row(a.get("add")) for a in rows], add_t),
        "remove": pa.array(
            [
                {"path": a["remove"]["path"]} if a.get("remove") else None
                for a in rows
            ],
            schema.field("remove").type,
        ),
    })
    return _LogBatch(meta, [files])


def _read_commit_file(path: str, fs) -> bytes:
    """The bytes of one JSON log file (commit or compacted range)."""
    return fs.read_bytes(path)


# JSON log files are parsed in runs of about this many bytes: one
# Arrow parse per run amortizes the per-call cost over small commits,
# while large commits still parse one file at a time
_PARSE_RUN_BYTES = 1 << 20


def _replay_commit_files(replay, paths: list[str], fs, with_files: bool):
    """Read ``paths`` in order and apply them to ``replay``."""
    run: list[bytes] = []
    size = 0
    for p in paths:
        raw = _read_commit_file(p, fs)
        run.append(raw)
        size += len(raw)
        if size >= _PARSE_RUN_BYTES:
            replay.apply(_parse_commit_bytes(b"\n".join(run), with_files))
            run, size = [], 0
    if run:
        replay.apply(_parse_commit_bytes(b"\n".join(run), with_files))


def _commit_timestamp(path: str, fs) -> int | None:
    """A commit's timestamp from its commitInfo header, reading only
    the file head (the writer emits commitInfo first; a 10k-add commit
    costs one 64 KiB ranged read, not a full-file parse). Falls back
    to a full parse when commitInfo isn't in the head chunk."""
    head = fs.read_bytes(path, 0, 65536)
    for line in head.split(b"\n"):
        if not line.strip():
            continue
        try:
            a = json.loads(line)
        except ValueError:
            break  # truncated mid-line — fall through to full parse
        if a.get("commitInfo"):
            ci = a["commitInfo"]
            # in-commit timestamps (when the table enables them) are
            # authoritative over the wall clock the writer saw
            return ci.get("inCommitTimestamp", ci.get("timestamp"))
    if len(head) < 65536:  # whole file seen, no commitInfo
        return None
    for a in _iter_commit_actions(path, fs):
        if a.get("commitInfo"):
            ci = a["commitInfo"]
            return ci.get("inCommitTimestamp", ci.get("timestamp"))
    return None


def resolve_version_at_timestamp(table_path: str, ts_ms: int, spark=None) -> int:
    """Timestamp time travel: the latest version whose commit
    timestamp is ≤ ``ts_ms`` (Delta ``timestampAsOf`` semantics).

    Binary search over the commit list — O(log n) head-ranged reads
    instead of one per commit, so a 1e5-commit table resolves in ~17
    reads. Sound because commit timestamps are monotonic: this writer
    always emits ``inCommitTimestamp`` strictly greater than the
    previous commit's (``writer.py::commit``), and the Delta spec's
    timestamp-as-of contract assumes monotonically adjusted timestamps
    (delta-spark applies the same adjustment when reconstructing
    history). A short forward walk after the probe absorbs any local
    non-monotonicity in foreign-written logs."""
    table_path = strip_scheme(table_path)
    fs = fs_for(table_path, spark)
    commits, _ = list_log_files(table_path, spark)
    if not commits:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")
    mtimes = None  # lazy: only listed if some commit lacks commitInfo

    def ts_at(i: int) -> int | None:
        nonlocal mtimes
        v, p = commits[i]
        info_ts = _commit_timestamp(p, fs)
        if info_ts is None:  # fall back to file mtime (spec allows)
            if mtimes is None:
                mtimes = {
                    s.path: s.mtime_ms
                    for s in fs.list(os.path.dirname(p))
                }
            info_ts = mtimes.get(p)
        return info_ts

    lo, hi = 0, len(commits) - 1
    best = None
    while lo <= hi:
        mid = (lo + hi) // 2
        t = ts_at(mid)
        if t is not None and t <= ts_ms:
            best = mid
            lo = mid + 1
        else:
            hi = mid - 1
    if best is None:
        raise DeltaNotFoundError(
            f"no commit at or before timestamp {ts_ms} at {table_path}"
        )
    # absorb local timestamp dips just past the probe (foreign logs)
    while best + 1 < len(commits):
        t = ts_at(best + 1)
        if t is not None and t <= ts_ms:
            best += 1
        else:
            break
    return commits[best][0]


class _Replay:
    """Log-replay accumulator, shared by full and incremental replay.

    Non-file actions are applied as they arrive (latest
    metaData/protocol win, ``txn`` last-write-wins per appId, domain
    metadata set/removed). File actions are only collected; at
    :meth:`finish` they are reconciled in one vectorized pass: per
    path the LAST action wins (an add keeps the file live, a remove
    drops it) — Delta guarantees at most one live add per path, and a
    re-add (e.g. with a new DV) replaces the previous entry."""

    def __init__(self, base: Snapshot | None = None):
        self.metadata: Metadata | None = base.metadata if base else None
        self.protocol: Protocol = base.protocol if base else Protocol()
        self.app_transactions: dict[str, int] = (
            dict(base.app_transactions) if base else {}
        )
        self.domain_metadata: dict[str, str] = (
            dict(base.domain_metadata) if base else {}
        )
        self.live = base.files.table if base else None
        self.tombstone_arrays: list = (
            list(base.tombstone_arrays) if base else []
        )
        self.actions: list = []  # FILE_SCHEMA + is_add, replay order

    def apply(self, batch: _LogBatch) -> None:
        for a in batch.meta:
            self._apply_meta(a)
        for raw in batch.file_actions or ():
            if raw.num_rows:
                self.actions.append(self._file_actions(raw))

    def _partition_keys(self) -> frozenset:
        """partitionValues keys whose null value is meaningful: the
        partition columns under their logical and physical names."""
        if self.metadata is None or not self.metadata.partition_columns:
            return frozenset()
        keys = set(self.metadata.partition_columns)
        try:
            for f in self.metadata.schema.fields:
                if f.name in keys:
                    keys.add((f.metadata or {}).get(
                        "delta.columnMapping.physicalName", f.name
                    ))
        except ValueError:
            pass
        return frozenset(keys)

    def _file_actions(self, raw):
        """A log file's add/remove rows (in file order) as FILE_SCHEMA
        + ``is_add``: removes carry only their path. Rows holding
        neither action are dropped."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from deltalake_datafusion_spark.delta.filetable import (
            decode_paths,
            file_rows,
        )

        add = raw["add"].combine_chunks()
        rm = raw["remove"].combine_chunks()
        is_add = add.is_valid()
        is_rm = pc.and_(rm.is_valid(), pc.invert(is_add))
        t = file_rows(add, self._partition_keys())
        if pc.any(is_rm).as_py():
            self.tombstone_arrays.append(rm.filter(is_rm))
            t = t.set_column(0, "path", pc.coalesce(
                t["path"], decode_paths(pc.struct_field(rm, ["path"]))
            ))
        t = t.append_column("is_add", is_add)
        return _keep_rows(t, pc.or_(is_add, is_rm).to_numpy(
            zero_copy_only=False
        ))

    def _apply_meta(self, a: dict) -> None:
        if a.get("metaData"):
            md = a["metaData"]
            self.metadata = Metadata(
                id=md.get("id", ""),
                schema_string=md.get("schemaString", "{}"),
                partition_columns=list(md.get("partitionColumns") or []),
                configuration=dict(md.get("configuration") or {}),
                name=md.get("name"),
                created_time=md.get("createdTime"),
                description=md.get("description"),
            )
        elif a.get("protocol"):
            pr = a["protocol"]
            self.protocol = Protocol(
                min_reader_version=pr.get("minReaderVersion", 1),
                min_writer_version=pr.get("minWriterVersion", 2),
                reader_features=list(pr.get("readerFeatures") or []),
                writer_features=list(pr.get("writerFeatures") or []),
            )
        elif a.get("txn"):
            tx = a["txn"]
            app = tx.get("appId")
            if app is not None:
                # last-write-wins per appId (delta-spark / delta-rs
                # replay semantics; replay is forward so the latest
                # commit's txn overwrites) — a later LOWER version is
                # honored, matching what a foreign reader would see
                self.app_transactions[app] = tx.get("version", -1)
        elif a.get("domainMetadata"):
            dm = a["domainMetadata"]
            if dm.get("removed"):
                self.domain_metadata.pop(dm.get("domain"), None)
            else:
                self.domain_metadata[dm["domain"]] = dm.get(
                    "configuration", ""
                )

    def _reconcile(self):
        """Live-file table after every collected action: last action
        per path wins (paths dictionary-encoded, last occurrence per
        code); live rows whose path any action touched are
        superseded. Rows are dropped batch by batch, so only batches
        that lose rows are copied."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from deltalake_datafusion_spark.delta.filetable import FILE_SCHEMA

        live = self.live
        if not self.actions:
            return live
        acts = pa.concat_tables(self.actions)
        n = acts.num_rows
        codes = pc.dictionary_encode(
            acts["path"].combine_chunks()
        ).indices.to_numpy()
        # first occurrence in reverse order = last action per path
        _, first_rev = np.unique(codes[::-1], return_index=True)
        keep = np.zeros(n, dtype=bool)
        keep[n - 1 - first_rev] = True
        keep &= acts["is_add"].to_numpy()
        won = _keep_rows(acts.select(FILE_SCHEMA.names), keep)
        if live is None or live.num_rows == 0:
            return won
        touched = pc.is_in(live["path"], value_set=acts["path"])
        return pa.concat_tables([
            _keep_rows(live, ~touched.to_numpy(zero_copy_only=False)), won,
        ])

    def finish(self, table_path: str, version: int) -> Snapshot:
        from deltalake_datafusion_spark.delta.filetable import FileView

        if self.metadata is None:
            raise DeltaProtocolError(
                f"no metaData action found in log at {table_path}"
            )
        _check_protocol(self.protocol)
        return Snapshot(
            table_path=table_path,
            version=version,
            metadata=self.metadata,
            protocol=self.protocol,
            files=FileView(self._reconcile()),
            tombstone_arrays=self.tombstone_arrays,
            app_transactions=self.app_transactions,
            domain_metadata=self.domain_metadata,
        )


def _keep_rows(table, keep):
    """``table`` filtered by the numpy bool mask ``keep``, batch by
    batch: whole batches are kept or dropped without a copy."""
    import pyarrow as pa

    out, off = [], 0
    for b in table.to_batches():
        m = keep[off:off + b.num_rows]
        off += b.num_rows
        if m.all():
            out.append(b)
        elif m.any():
            out.append(b.filter(pa.array(m)))
    return pa.Table.from_batches(out, schema=table.schema)


def load_snapshot(
    table_path: str, version: int | None = None, spark=None,
    with_files: bool = True, base: Snapshot | None = None,
) -> Snapshot:
    """Resolve a snapshot at ``version`` (time travel) or latest.

    ``with_files=False`` replays only metadata/protocol/txn state
    (``files`` comes back empty) — the driver-light mode for callers
    that derive the file set distributively (e.g. the multi-part
    checkpoint writer on 1e6-file tables).

    ``base`` enables **incremental refresh** (reference
    ``Snapshot::try_new_from``, ``schema_provider.rs:94-109``): only
    commits newer than ``base.version`` are read and replayed on top
    of the base state. With zero new commits the base object itself
    is returned — the refresh cost is one log-tail listing, no log
    file opens, regardless of table history length.

    Reference: ``read_snapshot_delta(url, version)``
    (``crates/datafusion/src/session.rs:169-191``).
    """
    table_path = strip_scheme(table_path)
    fs = fs_for(table_path, spark)
    commits, checkpoints, compacted = list_log_files_all(table_path, spark)
    if not commits and not checkpoints:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")

    # Incremental path preconditions: the base must belong to this
    # table, the requested version must be at or past it, and — the
    # subtle one — every version in (base.version, tip] must still be
    # present as a commit JSON. A checkpoint written after the base
    # whose superseded commits were log-cleaned leaves a hole the tail
    # replay cannot see; any gap falls back to a full replay.
    tip = max(
        max((v for v, _ in commits), default=-1),
        max((v for v, _ in checkpoints), default=-1),
    )
    if (
        base is not None
        and with_files
        and strip_scheme(base.table_path) == table_path
        and (version is None or version >= base.version)
        and tip >= base.version
        and all(
            v in {c for c, _ in commits}
            for v in range(
                base.version + 1,
                (tip if version is None else min(tip, version)) + 1,
            )
        )
    ):
        tail = [
            (v, p)
            for v, p in commits
            if v > base.version and (version is None or v <= version)
        ]
        if version is not None and version != base.version:
            max_seen = max([v for v, _ in tail] + [base.version])
            available = {v for v, _ in commits} | {base.version}
            if version not in available and max_seen < version:
                raise DeltaNotFoundError(
                    f"version {version} not available (latest {max_seen})"
                )
        if not tail:
            return base
        replay = _Replay(base)
        _replay_commit_files(replay, [p for _v, p in tail], fs, with_files)
        return replay.finish(table_path, tail[-1][0])

    # Choose a checkpoint ≤ requested version, then replay commits after it.
    usable_cp: list[tuple[int, str]] = [
        (v, p) for v, p in checkpoints if version is None or v <= version
    ]
    cp_version = -1
    cp_paths: list[str] = []
    if usable_cp:
        cp_version = max(v for v, _ in usable_cp)
        cp_paths = [p for v, p in usable_cp if v == cp_version]
        v2 = [p for p in cp_paths if _V2_CP_RE.search(os.path.basename(p))]
        if v2:
            # each UUID-named V2 checkpoint is complete on its own —
            # never union several of the same version
            cp_paths = [sorted(v2)[0]]

    replay_commits = [
        (v, p)
        for v, p in commits
        if v > cp_version and (version is None or v <= version)
    ]
    if version is not None:
        max_seen = max(
            [v for v, _ in replay_commits] + ([cp_version] if cp_version >= 0 else [])
        )
        available = {v for v, _ in commits} | {cp_version}
        if version not in available and max_seen < version:
            raise DeltaNotFoundError(
                f"version {version} not available (latest {max_seen})"
            )

    replay = _Replay()
    if cp_paths:
        replay.apply(_read_checkpoint_actions(cp_paths, with_files))
    segments = _plan_commit_replay(
        replay_commits, compacted, cp_version, version
    )
    _replay_commit_files(
        replay, [p for _k, _s, _e, p in segments], fs, with_files
    )
    return replay.finish(
        table_path, segments[-1][2] if segments else cp_version
    )


def _plan_commit_replay(
    replay_commits: list[tuple[int, str]],
    compacted: list[tuple[int, int, str]],
    cp_version: int,
    version: int | None,
) -> list[tuple[str, int, int, str]]:
    """Substitute ``{s}.{e}.compacted.json`` files for runs of
    individual commits (PROTOCOL.md log-compaction reading rule: a
    compacted file may stand in for commits ``s..e`` only when the
    replay window needs that ENTIRE range — it must start past the
    checkpoint and end at or before the requested version).

    Returns ``(kind, start, end, path)`` segments in replay order;
    each segment's file is line-delimited action JSON either way.
    Greedy widest-match keeps the file-open count minimal; any
    version not covered by a usable compacted range replays its own
    commit JSON unchanged. ``compacted`` comes from the SAME directory
    listing the caller already has — no extra LIST round-trip.
    """
    if not replay_commits:
        return []
    if not compacted:
        return [("commit", v, v, p) for v, p in replay_commits]
    versions = [v for v, _ in replay_commits]
    present = set(versions)
    hi = versions[-1] if version is None else min(versions[-1], version)
    best_by_start: dict[int, tuple[int, str]] = {}
    for s, e, p in compacted:
        if s > cp_version and e <= hi and (
            s not in best_by_start or e > best_by_start[s][0]
        ):
            best_by_start[s] = (e, p)
    by_version = dict(replay_commits)
    plan: list[tuple[str, int, int, str]] = []
    i = 0
    while i < len(versions):
        v = versions[i]
        sub = best_by_start.get(v)
        if sub is not None:
            e, p = sub
            if all(x in present for x in range(v, e + 1)):
                plan.append(("compacted", v, e, p))
                while i < len(versions) and versions[i] <= e:
                    i += 1
                continue
        plan.append(("commit", v, v, by_version[v]))
        i += 1
    return plan


# Process-wide latest-snapshot cache, gated on the
# ``lakehouse.delta.enable_caching`` conf (reference config.rs:5-57).
# Safe by construction: every cached access still lists the log tail
# and incrementally replays any new commits, so a hit can never serve
# a stale version — the conf only controls whether the replayed state
# is retained between calls.
_SNAPSHOT_CACHE: dict[str, Snapshot] = {}


def clear_snapshot_cache() -> None:
    _SNAPSHOT_CACHE.clear()


def load_snapshot_cached(
    table_path: str, version: int | None = None, spark=None,
) -> Snapshot:
    """:func:`load_snapshot` through the conf-gated snapshot cache.

    With ``lakehouse.delta.enable_caching=true`` the latest snapshot
    per table path is kept and refreshed incrementally (tail replay
    via ``base=``); a pinned ``version`` hits the cache only when it
    matches exactly. With the conf off this is a plain
    ``load_snapshot`` call.
    """
    enabled = False
    if spark is not None:
        from deltalake_datafusion_spark.session import CONF_ENABLE_CACHING

        try:
            raw = spark.conf.get(CONF_ENABLE_CACHING, "false")
            enabled = (raw or "").lower() == "true"
        except Exception:
            enabled = False
    if not enabled:
        return load_snapshot(table_path, version=version, spark=spark)
    key = strip_scheme(table_path)
    base = _SNAPSHOT_CACHE.get(key)
    if version is not None:
        if base is not None and base.version == version:
            return base
        return load_snapshot(table_path, version=version, spark=spark)
    snap = load_snapshot(table_path, spark=spark, base=base)
    _SNAPSHOT_CACHE[key] = snap
    return snap


# ------------------------------------------------------------------ #
# Spark-side replay: the same reconciliation as a DataFrame job, for  #
# logs too large for the driver and for the log_replay metadata table #
# (reference DeltaLogReplayProvider, delta_log.rs:139-421).           #
# ------------------------------------------------------------------ #


def history(spark, table_path: str):
    """Commit history as a DataFrame (version, timestamp, operation,
    engineInfo) — newest first. The DESCRIBE HISTORY surface, derived
    from commitInfo actions in the log."""
    from pyspark.sql import functions as F

    df = actions_df(spark, table_path)
    return (
        df.filter(F.col("commitInfo").isNotNull())
        .select(
            "version",
            F.timestamp_millis(F.col("commitInfo.timestamp")).alias("timestamp"),
            F.col("commitInfo.operation").alias("operation"),
            F.col("commitInfo.engineInfo").alias("engineInfo"),
        )
        .orderBy(F.desc("version"))
    )


def _conform_to_log_schema(df):
    """Project a checkpoint DataFrame (inferred parquet schema) onto
    LOG_SCHEMA exactly: foreign checkpoints may carry extra nested
    add-fields (e.g. the typed ``stats_parsed`` struct delta-spark
    writes under ``writeStatsAsStruct``) or miss optional ones — both
    would break the union with JSON-commit actions. ``stats_parsed``
    is folded into the JSON ``stats`` string (coalesce: explicit JSON
    wins) so the distributed planner prunes stats-as-struct tables
    exactly like the driver replay does. Null action rows stay null
    (replay dispatches on top-level non-nullness)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    def conform(src, actual, target):
        """Column ``src`` of type ``actual`` reshaped to ``target`` —
        recursive over structs (missing fields → null, extra fields
        dropped), plain cast elsewhere; null structs stay null."""
        if actual == target:
            return src
        if isinstance(target, StructType) and isinstance(actual, StructType):
            actual_sub = {sf.name: sf.dataType for sf in actual.fields}
            sub = [
                (
                    conform(
                        src.getField(sf.name), actual_sub[sf.name],
                        sf.dataType,
                    )
                    if sf.name in actual_sub
                    else F.lit(None).cast(sf.dataType)
                ).alias(sf.name)
                for sf in target.fields
            ]
            return (
                F.when(src.isNotNull(), F.struct(*sub))
                .otherwise(F.lit(None).cast(target))
            )
        return src.cast(target)

    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in LOG_SCHEMA.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        actual = have[f.name]
        if (
            f.name == "add"
            and isinstance(actual, StructType)
            and "stats_parsed" in {sf.name for sf in actual.fields}
        ):
            # fold the typed struct into the JSON string the replay /
            # pruning machinery consumes (explicit JSON wins)
            df_add = F.col("add")
            conformed = conform(df_add, actual, f.dataType)
            folded = F.when(
                df_add.isNotNull(),
                conformed.withField(
                    "stats",
                    F.coalesce(
                        df_add.getField("stats")
                        if "stats" in {sf.name for sf in actual.fields}
                        else F.lit(None).cast("string"),
                        F.to_json(df_add.getField("stats_parsed")),
                    ),
                ),
            ).otherwise(F.lit(None).cast(f.dataType))
            cols.append(folded.alias(f.name))
            continue
        cols.append(conform(F.col(f.name), actual, f.dataType).alias(f.name))
    return df.select(*cols)


def actions_df(
    spark, table_path: str, version: int | None = None,
    use_compacted: bool = False,
):
    """All log actions as a DataFrame with the kernel log schema
    (the ``delta_log`` metadata table, reference delta_log.rs:42-136).

    ``use_compacted`` substitutes ``{s}.{e}.compacted.json`` files for
    fully-covered post-checkpoint commit runs (rows carry version =
    the range END — valid because reconciliation already resolved
    intra-range conflicts, so cross-file latest-version-wins dedup is
    unaffected). Only for replay consumers (``log_replay_df``): the
    ``delta_log`` metadata table must keep showing the real per-commit
    action stream, so it stays off by default."""
    from pyspark.sql import functions as F
    from deltalake_datafusion_spark.delta.log_schema import LOG_SCHEMA

    table_path = strip_scheme(table_path)
    commits, checkpoints, compacted = list_log_files_all(table_path, spark)
    if version is not None:
        commits = [(v, p) for v, p in commits if v <= version]
        checkpoints = [(v, p) for v, p in checkpoints if v <= version]

    cp_version_pre = max((v for v, _ in checkpoints), default=-1)
    dfs = []
    if commits:
        if use_compacted:
            segs = _plan_commit_replay(
                [(v, p) for v, p in commits if v > cp_version_pre],
                compacted, cp_version_pre, version,
            )
            paths = [p for _k, _s, _e, p in segs] + [
                p for v, p in commits if v <= cp_version_pre
            ]
        else:
            paths = [p for _, p in commits]
        df = (
            spark.read.schema(LOG_SCHEMA)
            .json(paths)
            .withColumn("_file", F.input_file_name())
        )
        df = df.withColumn(
            "version",
            F.coalesce(
                F.nullif(
                    F.regexp_extract(
                        F.col("_file"), r"(\d{20})\.json$", 1
                    ),
                    F.lit(""),
                ),
                F.regexp_extract(
                    F.col("_file"), r"\.(\d{20})\.compacted\.json$", 1
                ),
            ).cast("long"),
        ).drop("_file")
        dfs.append(df)
    cp_version = max((v for v, _ in checkpoints), default=-1)
    if cp_version >= 0:
        cp_paths = [p for v, p in checkpoints if v == cp_version]
        v2 = [p for p in cp_paths if _V2_CP_RE.search(os.path.basename(p))]
        sidecar_paths: list[str] = []
        if v2:
            # one complete UUID checkpoint; file actions in _sidecars/
            cp_paths = [sorted(v2)[0]]
            import pyarrow.parquet as papq

            if "sidecar" in set(papq.read_schema(cp_paths[0]).names):
                base = os.path.join(
                    os.path.dirname(cp_paths[0]), "_sidecars"
                )
                sidecar_paths = [
                    os.path.join(base, r["sidecar"]["path"])
                    for r in papq.read_table(
                        cp_paths[0], columns=["sidecar"]
                    ).to_pylist()
                    if r.get("sidecar")
                ]
        cp = _conform_to_log_schema(spark.read.parquet(*cp_paths))
        if v2:
            # drop sidecar / checkpointMetadata marker rows (all-null
            # after the LOG_SCHEMA projection)
            any_set = None
            for f in LOG_SCHEMA.fieldNames():
                c = F.col(f).isNotNull()
                any_set = c if any_set is None else (any_set | c)
            cp = cp.filter(any_set)
        if sidecar_paths:
            cp = cp.unionByName(
                _conform_to_log_schema(spark.read.parquet(*sidecar_paths))
            )
        cp = cp.withColumn("version", F.lit(cp_version).cast("long"))
        # Commits ≤ checkpoint version are superseded by the checkpoint.
        dfs = [d.filter(F.col("version") > cp_version) for d in dfs]
        dfs.insert(0, cp)
    if not dfs:
        raise DeltaNotFoundError(f"no Delta log at {table_path}")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def log_replay_df(spark, table_path: str, version: int | None = None):
    """Surviving add-files as a DataFrame (one row per live file):
    window dedup by path over (version, is_add), keep latest adds not
    followed by a remove. Scales to arbitrarily large logs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = actions_df(spark, table_path, version, use_compacted=True)
    acts = df.select(
        "version",
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        F.col("add").alias("add_action"),
        F.col("add.path").isNotNull().alias("is_add"),
    ).filter(F.col("path").isNotNull())
    w = Window.partitionBy("path").orderBy(
        F.desc("version"), F.desc("is_add")
    )
    latest = (
        acts.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("is_add"))
    )
    return latest.select(
        F.col("add_action.path").alias("path"),
        F.col("add_action.size").alias("size"),
        F.col("add_action.modificationTime").alias("modificationTime"),
        F.col("add_action.partitionValues").alias("partitionValues"),
        F.col("add_action.stats").alias("stats"),
        F.col("add_action.deletionVector").alias("deletionVector"),
        F.col("add_action.baseRowId").alias("baseRowId"),
        F.col("add_action.defaultRowCommitVersion").alias(
            "defaultRowCommitVersion"
        ),
        F.col("add_action.tags").alias("tags"),
        F.col("version").alias("commit_version"),
    )
