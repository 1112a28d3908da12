"""The live-file set of a snapshot as one Arrow table.

Log replay (``snapshot.py``) produces a table with :data:`FILE_SCHEMA`
— one row per live add action — and :class:`FileView` exposes it as a
read-only ``Sequence[AddFile]``. ``len()`` is O(1); ``AddFile``
objects are built only when a caller iterates or indexes, so planning
over a 1e6-file table materializes only the files that survive
pruning (the reference kernel's ``scan_metadata()`` shape: Arrow
batches plus a selection vector, PAPER.md §1.1).

Per-file statistics are parsed lazily, one column at a time, from the
raw stats JSON strings with ``pyarrow.json`` into typed
min/max/nullCount/numRecords arrays, and cached on the view.
"""

from __future__ import annotations

import json
import urllib.parse
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc

STR_MAP = pa.map_(pa.string(), pa.string())
DV_TYPE = pa.struct([
    ("storageType", pa.string()),
    ("pathOrInlineDv", pa.string()),
    ("offset", pa.int64()),
    ("sizeInBytes", pa.int64()),
    ("cardinality", pa.int64()),
])
FILE_SCHEMA = pa.schema([
    ("path", pa.string()),  # URL-decoded, relative to the table
    ("size", pa.int64()),
    ("modification_time", pa.int64()),
    ("partition_values", STR_MAP),
    ("stats", pa.string()),  # raw JSON
    ("dv", DV_TYPE),
    ("base_row_id", pa.int64()),
    ("default_row_commit_version", pa.int64()),
    ("tags", STR_MAP),
])
# log column name → FILE_SCHEMA column name
LOG_TO_FILE = {
    "path": "path",
    "size": "size",
    "modificationTime": "modification_time",
    "partitionValues": "partition_values",
    "stats": "stats",
    "deletionVector": "dv",
    "baseRowId": "base_row_id",
    "defaultRowCommitVersion": "default_row_commit_version",
    "tags": "tags",
}


def decode_paths(paths: pa.Array) -> pa.Array:
    """URL-decode log paths; only the (rare) paths holding ``%`` pay a
    Python ``unquote``."""
    paths = pc.cast(paths, pa.string())
    enc = pc.fill_null(pc.match_substring(paths, "%"), False)
    if not pc.any(enc).as_py():
        return paths
    decoded = [
        urllib.parse.unquote(p) if e and p is not None else p
        for p, e in zip(paths.to_pylist(), enc.to_pylist())
    ]
    return pa.array(decoded, pa.string())


def struct_to_map(arr, keep_null_keys=frozenset()) -> pa.Array:
    """A JSON-inferred ``struct<k: v, ...>`` column → ``map<string,
    string>``. ``pyarrow.json`` cannot build maps, and a struct cannot
    tell an absent key from a null value, so an entry is kept when its
    value is non-null or its key is in ``keep_null_keys`` (the
    partition columns, whose null values mean the null partition)."""
    n = len(arr)
    import numpy as np

    if pa.types.is_null(arr.type) or arr.type.num_fields == 0:
        return pa.MapArray.from_arrays(
            pa.array(np.zeros(n + 1, np.int32)),
            pa.array([], pa.string()), pa.array([], pa.string()),
        )

    names = [arr.type.field(i).name for i in range(arr.type.num_fields)]
    k = len(names)
    vals = [pc.cast(pc.struct_field(arr, [i]), pa.string()) for i in range(k)]
    # row-major (row, key) entries
    keys = pa.array(names, pa.string()).take(pa.array(np.tile(np.arange(k), n)))
    items = pa.concat_arrays(vals).take(
        pa.array((np.arange(k)[None, :] * n + np.arange(n)[:, None]).ravel())
    )
    keep = items.is_valid().to_numpy(zero_copy_only=False)
    if keep_null_keys:
        forced = np.array([nm in keep_null_keys for nm in names])
        keep = keep | np.tile(forced, n)
    counts = keep.reshape(n, k).sum(axis=1)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    idx = pa.array(np.flatnonzero(keep))
    # a null map reads back like an empty one (no entries)
    return pa.MapArray.from_arrays(
        pa.array(offsets), keys.take(idx), items.take(idx)
    )


def _conform(arr, typ: pa.DataType):
    """Best-effort cast of a log column to its FILE_SCHEMA type."""
    if arr.type == typ:
        return arr
    if pa.types.is_struct(typ) and pa.types.is_struct(arr.type):
        have = {arr.type.field(i).name for i in range(arr.type.num_fields)}
        children = [
            _conform(pc.struct_field(arr, [f.name]), f.type)
            if f.name in have else pa.nulls(len(arr), f.type)
            for f in typ
        ]
        return pa.StructArray.from_arrays(
            children, fields=list(typ),
            mask=arr.is_null() if arr.null_count else None,
        )
    return pc.cast(arr, typ)


def file_rows(add, part_keys=frozenset()) -> pa.Table:
    """Normalize an add-action struct column (from commit JSON or a
    checkpoint) into a FILE_SCHEMA table (null rows stay null).
    Typed ``stats_parsed`` (checkpoints written with stats as a
    struct) is folded into the JSON ``stats`` string where the string
    is missing — the one stats format the skipping code reads."""
    if isinstance(add, pa.ChunkedArray):
        add = add.combine_chunks()
    have = {add.type.field(i).name for i in range(add.type.num_fields)}
    n = len(add)
    cols = []
    for log_name, name in LOG_TO_FILE.items():
        typ = FILE_SCHEMA.field(name).type
        if log_name not in have:
            cols.append(pa.nulls(n, typ))
            continue
        col = pc.struct_field(add, [log_name])
        if name == "path":
            col = decode_paths(col)
        elif typ == STR_MAP and pa.types.is_struct(col.type):
            col = struct_to_map(
                col, part_keys if name == "partition_values" else frozenset()
            )
        else:
            col = _conform(col, typ)
        cols.append(col)
    table = pa.Table.from_arrays(cols, schema=FILE_SCHEMA)
    if "stats_parsed" in have:
        sp = pc.struct_field(add, ["stats_parsed"])
        need = pc.and_(table["stats"].is_null(), sp.is_valid())
        if pc.any(need).as_py():
            stats = table["stats"].to_pylist()
            for i in pc.indices_nonzero(need).to_pylist():
                stats[i] = json.dumps(sp[i].as_py(), default=str)
            table = table.set_column(
                FILE_SCHEMA.get_field_index("stats"), "stats",
                pa.array(stats, pa.string()),
            )
    return table


def to_add_files(table: pa.Table) -> list:
    """Materialize ``AddFile`` objects, ordered by path."""
    from deltalake_datafusion_spark.delta.snapshot import AddFile, DvDescriptor

    if table.num_rows > 1:
        table = table.take(pc.sort_indices(table["path"]))
    cols = {name: table[name].to_pylist() for name in FILE_SCHEMA.names}
    out = []
    for i in range(table.num_rows):
        dv = cols["dv"][i]
        tags = cols["tags"][i]
        out.append(AddFile(
            path=cols["path"][i],
            size=cols["size"][i] or 0,
            modification_time=cols["modification_time"][i] or 0,
            partition_values=dict(cols["partition_values"][i] or ()),
            stats=cols["stats"][i],
            dv=DvDescriptor(
                storage_type=dv["storageType"],
                path_or_inline=dv["pathOrInlineDv"],
                offset=dv["offset"],
                size_in_bytes=dv["sizeInBytes"] or 0,
                cardinality=(
                    -1 if dv["cardinality"] is None else dv["cardinality"]
                ),
            ) if dv and dv["storageType"] else None,
            base_row_id=cols["base_row_id"][i],
            default_row_commit_version=cols["default_row_commit_version"][i],
            tags=dict(tags) if tags else None,
        ))
    return out


def from_add_files(files) -> pa.Table:
    """``AddFile`` objects → FILE_SCHEMA table (for file lists that
    did not come from a replay, e.g. Spark-planned candidates)."""
    return pa.Table.from_pydict({
        "path": [f.path for f in files],
        "size": [f.size for f in files],
        "modification_time": [f.modification_time for f in files],
        "partition_values": [
            list((f.partition_values or {}).items()) for f in files
        ],
        "stats": [f.stats for f in files],
        "dv": [
            {
                "storageType": f.dv.storage_type,
                "pathOrInlineDv": f.dv.path_or_inline,
                "offset": f.dv.offset,
                "sizeInBytes": f.dv.size_in_bytes,
                "cardinality": f.dv.cardinality,
            } if f.dv else None
            for f in files
        ],
        "base_row_id": [f.base_row_id for f in files],
        "default_row_commit_version": [
            f.default_row_commit_version for f in files
        ],
        "tags": [list(f.tags.items()) if f.tags else None for f in files],
    }, schema=FILE_SCHEMA)


class FileView(Sequence):
    """Read-only ``Sequence[AddFile]`` over a FILE_SCHEMA table, in
    path order. Holds the per-column parsed-stats cache."""

    __slots__ = ("table", "_files", "_stats")

    def __init__(self, table: pa.Table | None = None):
        self.table = FILE_SCHEMA.empty_table() if table is None else table
        self._files: list | None = None
        self._stats: dict = {}

    @classmethod
    def of(cls, files) -> FileView:
        return files if isinstance(files, FileView) else cls(
            from_add_files(list(files))
        )

    def __len__(self) -> int:
        return self.table.num_rows

    def _list(self) -> list:
        if self._files is None:
            self._files = to_add_files(self.table)
        return self._files

    def __iter__(self):
        return iter(self._list())

    def __getitem__(self, i):
        return self._list()[i]

    def __repr__(self) -> str:
        return f"FileView({len(self)} files)"

    def __eq__(self, other) -> bool:
        if not isinstance(other, (list, tuple, FileView)):
            return NotImplemented
        return len(self) == len(other) and list(self) == list(other)

    __hash__ = None

    def filter(self, mask) -> FileView:
        return FileView(self.table.filter(mask))

    def sorted_table(self) -> pa.Table:
        t = self.table
        return t.take(pc.sort_indices(t["path"])) if t.num_rows > 1 else t

    def num_records(self) -> pa.Array:
        """numRecords per file (null where stats are missing)."""
        return self.stats_bounds(None, None)[3]

    def stats_bounds(self, phys: str | None, dtype):
        """(min, max, nullCount, numRecords) arrays for physical
        column ``phys`` (dotted for nested; None → numRecords only),
        min/max typed per :func:`stats_arrow_type` (all-null when the
        type has no skipping domain)."""
        if phys not in self._stats:
            self._stats[phys] = _parse_bounds(self.table["stats"], phys, dtype)
        return self._stats[phys]


# ------------------------------------------------------------ stats


def stats_arrow_type(dtype) -> pa.DataType | None:
    """Arrow type of the comparison domain of a Spark type — the
    vectorized twin of ``predicates._coerce``: integral columns compare
    as exact int64, other numerics as float64. None = no domain."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        IntegralType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dtype, IntegralType):
        return pa.int64()
    if isinstance(dtype, NumericType):
        return pa.float64()
    if isinstance(dtype, StringType):
        return pa.string()
    if isinstance(dtype, BooleanType):
        return pa.bool_()
    if isinstance(dtype, DateType):
        return pa.date32()
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return pa.timestamp("us")
    return None


def _int_or_none(v):
    return v if isinstance(v, int) and not isinstance(v, bool) else None


def _nested(path: list[str], typ: pa.DataType) -> pa.DataType:
    for part in reversed(path[1:]):
        typ = pa.struct([(part, typ)])
    return typ


# files per stats-parse slice: bounds the transient join/parse buffers
_STATS_SLICE = 1 << 15


def _parse_bounds(stats, phys: str | None, dtype):
    """Every file's stats JSON parsed once with ``pyarrow.json``
    against a schema holding only ``phys``'s leaves. When the typed
    parse fails — malformed stats, a value of another JSON type — each
    file is parsed with ``json.loads`` instead (:func:`_bounds_rows`)."""
    if not len(stats):
        return _bounds_rows(stats, phys, dtype, None)
    typ = stats_arrow_type(dtype) if phys is not None else None
    fields = [("numRecords", pa.int64())]
    if phys is not None:
        path = phys.split(".")
        # dates and timestamps travel as strings in stats JSON
        json_typ = (
            pa.string() if typ is not None
            and (pa.types.is_date(typ) or pa.types.is_timestamp(typ)) else typ
        )
        if typ is not None:
            fields += [
                (k, pa.struct([(path[0], _nested(path, json_typ))]))
                for k in ("minValues", "maxValues")
            ]
        fields.append(
            ("nullCount", pa.struct([(path[0], _nested(path, pa.int64()))]))
        )
    schema = pa.schema(fields)
    try:
        parts = [
            _parse_stats_slice(stats.slice(i, _STATS_SLICE), schema)
            for i in range(0, len(stats), _STATS_SLICE)
        ]
    except pa.ArrowInvalid:
        return _bounds_rows(stats, phys, dtype, typ)
    cols = [pa.concat_arrays(list(c)) for c in zip(*parts)]
    nrec = cols[0]
    none = pa.nulls(len(nrec), pa.null())
    if phys is None:
        return none, none, none, nrec
    if typ is None:
        return none, none, cols[-1], nrec
    mn, mx = (to_domain(c, typ, dtype) for c in cols[1:3])
    return mn, mx, cols[-1], nrec


def _bounds_rows(stats, phys, dtype, typ):
    """Fallback of :func:`_parse_bounds`: ``json.loads`` per file, and
    min/max through ``_coerce`` — the reference evaluator's own
    conversion — into the same Arrow types."""
    from deltalake_datafusion_spark.delta.predicates import _coerce, _lookup
    from deltalake_datafusion_spark.delta.stats import parse_stats

    rows = [parse_stats(s) for s in stats.to_pylist()]
    rows = [r if isinstance(r, dict) else {} for r in rows]
    nrec = pa.array([_int_or_none(r.get("numRecords")) for r in rows], pa.int64())
    none = pa.nulls(len(rows), pa.null())
    if phys is None:
        return none, none, none, nrec
    nulls = pa.array(
        [_int_or_none(_lookup(r.get("nullCount"), phys)) for r in rows],
        pa.int64(),
    )
    if typ is None:
        return none, none, nulls, nrec
    mn, mx = (
        pa.array([
            _domain_value(_coerce(_lookup(r.get(k), phys), dtype), typ)
            for r in rows
        ], typ)
        for k in ("minValues", "maxValues")
    )
    return mn, mx, nulls, nrec


def _parse_stats_slice(stats, schema: pa.Schema) -> list:
    """One slice of stats strings → the schema's flattened leaf arrays."""
    import numpy as np
    import pyarrow.json as pj

    if isinstance(stats, pa.ChunkedArray):
        stats = stats.combine_chunks()
    n = len(stats)
    filled = pc.if_else(pc.fill_null(pc.equal(stats, ""), True), "{}", stats)
    lines = pc.binary_join_element_wise(filled, "\n", "")
    # the joined lines are one contiguous run of the data buffer
    off = np.frombuffer(lines.buffers()[1], np.int32)
    start, end = int(off[lines.offset]), int(off[lines.offset + n])
    parsed = pj.read_json(
        pa.BufferReader(lines.buffers()[2].slice(start, end - start)),
        # threads only pay off past one default (1 MiB) block
        read_options=pj.ReadOptions(use_threads=end - start > 1 << 20),
        parse_options=pj.ParseOptions(
            explicit_schema=schema, unexpected_field_behavior="ignore"
        ),
    )
    if parsed.num_rows != n:
        raise pa.ArrowInvalid("stats row count mismatch")
    while any(pa.types.is_struct(t) for t in parsed.schema.types):
        parsed = parsed.flatten()
    return [c.combine_chunks() for c in parsed.columns]


def _domain_value(v, typ):
    """A ``_coerce`` result as a value of Arrow type ``typ``, or None
    when it cannot be represented (aware datetimes, non-integral
    values of integral columns, out-of-range ints)."""
    import datetime as dt

    if v is None:
        return None
    if pa.types.is_integer(typ):
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        if isinstance(v, int) and -(2**63) <= v < 2**63:
            return v
        return None
    if pa.types.is_timestamp(typ):
        return v if isinstance(v, dt.datetime) and v.tzinfo is None else None
    return v


def to_domain(arr, typ: pa.DataType, dtype) -> pa.Array:
    """Bring a parsed stats/partition value column into ``typ``:
    date/timestamp text is cast vectorized when it is in the ISO shape
    the writer emits, else converted value by value with ``_coerce``."""
    if arr.type == typ:
        return arr
    if pa.types.is_string(arr.type) and (
        pa.types.is_date(typ) or pa.types.is_timestamp(typ)
    ):
        try:
            if pa.types.is_date(typ):
                return pc.cast(pc.utf8_slice_codeunits(arr, 0, 10), typ)
            norm = pc.utf8_rtrim(
                pc.replace_substring(arr, "T", " "), characters="Z"
            )
            return pc.cast(norm, typ)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            pass
    return coerce_values(arr, typ, dtype)


def coerce_values(arr, typ: pa.DataType, dtype) -> pa.Array:
    """Value-by-value ``_coerce`` over the DISTINCT values of ``arr``
    (partition values, unusual stats text) into Arrow type ``typ``."""
    from deltalake_datafusion_spark.delta.predicates import _coerce

    enc = pc.dictionary_encode(arr)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    uniq = [
        _domain_value(_coerce(v, dtype), typ)
        for v in enc.dictionary.to_pylist()
    ]
    return pa.array(uniq, typ).take(enc.indices)
