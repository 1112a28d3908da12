"""Vectorized file skipping ≡ the per-file reference evaluator.

``prune_files`` / ``scan_files`` evaluate the predicate IR over the
snapshot's Arrow file table (``predicates.VectorEvaluator``).
``StatsEvaluator`` stays the per-file reference: for generated file
sets and predicates the vectorized keep set must equal
``[f for f in files if StatsEvaluator(...).may_match(f, pred)]``, and
limit truncation must match the file-by-file rule. A counter test pins
that planning builds ``AddFile`` objects only for kept files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from deltalake_datafusion_spark.delta.predicates import (
    StatsEvaluator,
    parse_predicate,
    prune_files,
)
from deltalake_datafusion_spark.delta.scan import scan_files
from deltalake_datafusion_spark.delta.snapshot import (
    AddFile,
    Metadata,
    Protocol,
    Snapshot,
)

SCHEMA = StructType([
    StructField("i", LongType()),
    StructField("s", StringType()),
    StructField("d", DateType()),
    StructField("ts", TimestampType()),
    StructField("dec", DecimalType(10, 2)),
    StructField("f", DoubleType()),
    StructField("part", StringType()),
])
PARTS = ["part"]
BIG = 2**53

_ints = st.one_of(
    st.integers(-20, 20),
    st.integers(BIG - 3, BIG + 3),
    st.integers(-(2**62), 2**62),
)
_strs = st.sampled_from(["", "a", "ab", "b", "p", "pa", "pz", "q", "zz"])
_dates = st.dates(dt.date(2024, 1, 1), dt.date(2024, 1, 9))
_tss = st.datetimes(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3))
_decs = st.integers(-500, 500).map(lambda c: c / 100)
_floats = st.floats(-5, 5, allow_nan=False).map(lambda x: round(x, 2))

_COLS = {
    "i": (_ints, lambda v: v, lambda v: str(v)),
    "s": (_strs, lambda v: v, lambda v: "'" + v + "'"),
    "d": (_dates, lambda v: v.isoformat(), lambda v: f"DATE '{v}'"),
    "ts": (
        _tss,
        lambda v: v.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        lambda v: f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}'",
    ),
    "dec": (_decs, lambda v: v, lambda v: str(v)),
    "f": (_floats, lambda v: v, lambda v: str(v)),
}


@st.composite
def _file(draw, idx: int):
    part = draw(st.sampled_from(["x", "y", "pz", None]))
    if draw(st.integers(0, 5)) == 0:
        stats = None  # missing stats
    else:
        nrec = draw(st.one_of(st.none(), st.integers(0, 4)))
        mins, maxs, nulls = {}, {}, {}
        for c, (gen, enc, _lit) in _COLS.items():
            shape = draw(st.sampled_from(
                ["bounds", "bounds", "all_null", "no_min_max", "absent"]
            ))
            if shape == "absent":
                continue
            if shape == "all_null":
                nulls[c] = nrec if nrec is not None else 1
                continue
            nulls[c] = draw(st.integers(0, 2))
            if shape == "bounds":
                a, b = sorted([draw(gen), draw(gen)])
                mins[c], maxs[c] = enc(a), enc(b)
        stats = json.dumps({
            **({"numRecords": nrec} if nrec is not None else {}),
            "minValues": mins, "maxValues": maxs, "nullCount": nulls,
        })
    return AddFile(
        path=f"f{idx:03d}.parquet", size=1, modification_time=0,
        partition_values={"part": part}, stats=stats,
    )


@st.composite
def _files(draw):
    n = draw(st.integers(1, 12))
    return [draw(_file(i)) for i in range(n)]


@st.composite
def _atom(draw):
    kind = draw(st.sampled_from(
        ["cmp", "cmp", "cmp", "in", "like", "null", "part", "frac"]
    ))
    col = draw(st.sampled_from(list(_COLS)))
    gen, _enc, lit = _COLS[col]
    if kind == "cmp":
        op = draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
        return f"{col} {op} {lit(draw(gen))}"
    if kind == "in":
        vals = draw(st.lists(gen, min_size=1, max_size=3))
        return f"{col} IN ({', '.join(lit(v) for v in vals)})"
    if kind == "like":
        c = draw(st.sampled_from(["s", "part"]))
        return f"{c} LIKE '{draw(st.sampled_from(['p', 'a', 'z', 'pa']))}%'"
    if kind == "null":
        c = draw(st.sampled_from(list(_COLS) + ["part"]))
        return f"{c} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
    if kind == "part":
        op = draw(st.sampled_from(["=", "!=", "<", ">="]))
        return f"part {op} '{draw(st.sampled_from(['x', 'y', 'pz', 'a']))}'"
    # an int column against a non-integral literal
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">="]))
    return f"i {op} {draw(st.integers(-20, 20))}.5"


@st.composite
def _predicates(draw, depth=2):
    if depth == 0 or draw(st.integers(0, 2)) == 0:
        return draw(_atom())
    kind = draw(st.sampled_from(["and", "or", "not", "or_unknown"]))
    a = draw(_predicates(depth - 1))
    if kind == "not":
        return f"NOT ({a})"
    if kind == "or_unknown":
        # LIKE '%x' is outside the prunable subset: an unknown branch
        return f"({a}) OR s LIKE '%x'"
    b = draw(_predicates(depth - 1))
    return f"({a}) {kind.upper()} ({b})"


@given(_files(), _predicates())
@settings(max_examples=300, deadline=None)
def test_vectorized_keep_set_equals_stats_evaluator(files, sql):
    pred = parse_predicate(sql)
    ev = StatsEvaluator(SCHEMA, PARTS)
    want = [f.path for f in files if ev.may_match(f, pred)]
    got = [f.path for f in prune_files(files, sql, SCHEMA, PARTS)]
    assert got == want, sql


def _snapshot(files) -> Snapshot:
    return Snapshot(
        table_path="/nonexistent", version=0,
        metadata=Metadata(
            id="t", schema_string=SCHEMA.json(), partition_columns=PARTS,
            configuration={},
        ),
        protocol=Protocol(), files=files,
    )


@given(_files(), st.integers(0, 12))
@settings(max_examples=200, deadline=None)
def test_limit_truncation_matches_file_by_file_rule(files, limit):
    # the rule: in path order, keep files until known numRecords cover
    # the limit; a file without numRecords first → no truncation
    want, covered = [], 0
    for f in files:
        want.append(f.path)
        n = json.loads(f.stats).get("numRecords") if f.stats else None
        if n is None:
            want = [g.path for g in files]
            break
        covered += n
        if covered >= limit:
            break
    got = [f.path for f in scan_files(_snapshot(files), limit=limit)]
    assert got == want


def test_ints_beyond_2_53_prune_exactly():
    """Integral stats compare as exact ints: a float round-trip would
    make ``i < 2**53 + 1`` prune a file whose min is 2**53."""
    f = AddFile(
        path="f", size=1, modification_time=0, stats=json.dumps({
            "numRecords": 1, "minValues": {"i": BIG},
            "maxValues": {"i": BIG}, "nullCount": {"i": 0},
        }),
    )
    for sql, keep in ((f"i < {BIG + 1}", True), (f"i = {BIG + 1}", False),
                      (f"i > {BIG}", False), (f"i <= {BIG}.5", True)):
        ev = StatsEvaluator(SCHEMA, PARTS)
        assert ev.may_match(f, parse_predicate(sql)) is keep, sql
        assert len(prune_files([f], sql, SCHEMA, PARTS)) == int(keep), sql


def test_planning_builds_add_files_only_for_kept(tmp_path, monkeypatch):
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from tools.bench_planner import synthesize_log

    n = 10_000
    path = os.path.join(str(tmp_path), "t")
    synthesize_log(path, n)
    built = {"n": 0}
    orig_init = AddFile.__init__

    def counting_init(self, *a, **kw):
        built["n"] += 1
        orig_init(self, *a, **kw)

    monkeypatch.setattr(AddFile, "__init__", counting_init)
    snap = load_snapshot(path)
    assert len(snap.files) == n
    assert built["n"] == 0  # replay and len() build none
    kept = scan_files(snap, f"id >= {n * 1000 - n * 10}")  # ~1%
    assert len(kept) == n // 100
    assert built["n"] == len(kept)


def test_spark_skipping_compares_literals_exactly(spark, tmp_path):
    """The Spark-side skipping column follows the driver's exact rule:
    a non-integral literal on a long column is never narrowed to the
    column type (``id < 10.5`` must keep a file whose min is 10)."""
    from deltalake_datafusion_spark.delta.predicates import prune_files_df
    from deltalake_datafusion_spark.delta.snapshot import (
        load_snapshot,
        log_replay_df,
    )

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    schema = StructType([StructField("id", LongType())])
    bounds = {"a": (0, 9), "b": (10, 10), "c": (11, 20), "d": (9, 10),
              "e": None}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(), "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
    ] + [
        {"add": {
            "path": f"{name}.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "stats": None if b is None else json.dumps({
                "numRecords": 2, "minValues": {"id": b[0]},
                "maxValues": {"id": b[1]}, "nullCount": {"id": 0},
            }),
        }}
        for name, b in bounds.items()
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    snap = load_snapshot(path)
    files_df = log_replay_df(spark, path)
    expected = {
        "id < 10.5": "abde",
        "id >= 9.5": "bcde",
        "id = 10.5": "e",
        "id IN (10.5, 11)": "ce",
    }
    for sql, names in expected.items():
        want = [f"{n}.parquet" for n in names]
        assert [f.path for f in scan_files(snap, sql)] == want, sql
        got = prune_files_df(files_df, sql, schema, []).select("path")
        assert sorted(r["path"] for r in got.collect()) == want, sql
