"""``meta_log``: metadata-bound reads on tables with long logs.

Set-up synthesizes two Delta logs with per-file ``id`` stats and ~1%
small files: ``small`` (2e4 adds, under the auto planner's 1e5-action
threshold, so reads plan on the driver) and ``large`` (1.2e5 adds,
over it, so reads plan with a Spark job). Every add points at a
symlink to one of ``BUCKETS`` tiny real parquet files, so a read runs
to a ``count()``.

Layout: file ``i`` claims ids ``[i*IDS, i*IDS + IDS)``; the id space
is cut into ``BUCKETS`` equal buckets of consecutive files, and every
file of bucket ``j`` links to real file ``j``, whose ``ROWS`` rows
carry ids inside bucket ``j``. A read of one bucket's id range
(~1% selective) therefore keeps exactly that bucket's files, and
every row of every kept file passes the row filter: the expected
count is ``kept files * ROWS``.

Each timed cycle the benchmark acts as a second writer: it commits one
version that removes ``K`` random live files and adds ``K`` new ones
over the same id ranges (the live set keeps its size while the log
grows), writes a checkpoint every ``CHECKPOINT_EVERY``-th commit,
refreshes both tables incrementally with ``load_snapshot(base=...)``,
and plans and counts one seeded bucket read per table with the default
``read_delta(planner="auto")``.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BUCKETS = 100
IDS = 1000          # id range each synthetic file claims
ROWS = 8            # rows in each real (tiny) parquet file
K = 10              # files replaced per commit
CHECKPOINT_EVERY = 10
SMALL_EVERY = 97    # ~1% of files are small (the OPTIMIZE victim set)
TABLES = {"small": 20_000, "large": 120_000}
# set-up writes versions 0..31 (as tools/bench_planner.synthesize_log
# does); the first checkpoint version, 40, comes 8 cycles after the
# warm-up, so a run replays plain JSON commits unless it runs that long
SETUP_COMMITS = 32

_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "v", "type": "double", "nullable": True, "metadata": {}},
]})


def bucket_range(j: int, n_files: int) -> tuple[int, int]:
    """The id range ``[lo, hi)`` of bucket ``j``."""
    per = n_files // BUCKETS
    return j * per * IDS, (j + 1) * per * IDS


def bucket_predicate(j: int, n_files: int) -> str:
    lo, hi = bucket_range(j, n_files)
    return f"id >= {lo} AND id < {hi}"


def expected_files(paths: list[str], j: int) -> set[str]:
    """The oracle: live paths of bucket ``j`` in the benchmark's own
    layout (``paths[i]`` is the current file for slot ``i``)."""
    per = len(paths) // BUCKETS
    return set(paths[j * per:(j + 1) * per])


_ADD_LINE = (
    '{"add": {"path": "%s", "partitionValues": {}, "size": %d, '
    '"modificationTime": %d, "dataChange": true, "stats": '
    '"{\\"numRecords\\":%d,\\"minValues\\":{\\"id\\":%d,\\"v\\":0.0},'
    '\\"maxValues\\":{\\"id\\":%d,\\"v\\":1.0},'
    '\\"nullCount\\":{\\"id\\":0,\\"v\\":0}}"}}'
)


def add_line(path: str, i: int, ts: int) -> str:
    """The add action of file slot ``i`` as one JSON log line
    (formatted directly: set-up writes 2.5e5 of them)."""
    size = 1_048_576 if i % SMALL_EVERY == 0 else 134_217_728
    lo = i * IDS
    return _ADD_LINE % (path, size, ts, ROWS, lo, lo + IDS - 1)


def _file_name(i: int, gen: int) -> str:
    return f"part-{i:07d}-g{gen}.parquet"


def link_bucket(table: str, paths: list[str], j: int, linked: set[str]) -> None:
    """Create the symlinks of bucket ``j``'s live files that do not
    exist yet. Links are made just before a read needs them (untimed),
    not at set-up: the log is what the workload measures, and 2.5e5
    symlinks would take seconds to create."""
    target = f"_real/b{j:03d}.parquet"
    for p in expected_files(paths, j) - linked:
        os.symlink(target, os.path.join(table, p))
        linked.add(p)


def synthesize(table: str, n_files: int, rng: np.random.Generator,
               commits: int = SETUP_COMMITS) -> list[str]:
    """Write the real bucket files and a ``commits``-version log;
    return the live path per file slot."""
    real = os.path.join(table, "_real")
    os.makedirs(real)
    os.makedirs(os.path.join(table, "_delta_log"))
    for j in range(BUCKETS):
        lo, hi = bucket_range(j, n_files)
        ids = np.linspace(lo, hi - 1, ROWS).astype(np.int64)
        pq.write_table(
            pa.table({"id": ids, "v": rng.random(ROWS)}),
            os.path.join(real, f"b{j:03d}.parquet"),
        )
    paths = [_file_name(i, 0) for i in range(n_files)]
    per = n_files // commits
    head = [
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps({"metaData": {
            "id": str(uuid.UUID(int=int(rng.integers(0, 2**63)))),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _SCHEMA, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }}),
    ]
    for c in range(commits):
        hi = n_files if c == commits - 1 else (c + 1) * per
        lines = (head if c == 0 else []) + [
            add_line(paths[i], i, 1_700_000_000_000 + i)
            for i in range(c * per, hi)
        ]
        with open(os.path.join(table, "_delta_log", f"{c:020d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return paths


class MetaLog:
    name = "meta_log"

    def __init__(self, ctx):
        self.ctx = ctx
        self.tables: dict[str, dict] = {}

    def setup(self) -> None:
        from deltalake_datafusion_spark.delta.snapshot import load_snapshot

        from harness import current_rss_mb

        ctx = self.ctx
        for name, n in TABLES.items():
            path = os.path.join(ctx.workdir, "meta", name)
            paths = synthesize(path, n, ctx.rng)
            rss0 = current_rss_mb()
            snap = load_snapshot(path, spark=ctx.spark)
            ctx.note(f"snapshot.rss_delta_mb.{name}", current_rss_mb() - rss0)
            self.tables[name] = {
                "path": path, "n": n, "paths": paths, "snap": snap,
                "gen": 0, "linked": set(),
            }
        # warm-up: one untimed cycle (JVM, parquet reader, planner job)
        self.cycle(-1, timed=False)

    def _commit(self, t: dict, timed: bool) -> None:
        from deltalake_datafusion_spark.delta.writer import commit

        ctx = self.ctx
        t["gen"] += 1
        slots = ctx.rng.choice(t["n"], size=K, replace=False)
        version = t["snap"].version + 1
        ts = 1_800_000_000_000 + version
        actions, new_paths = [], {}
        for i in (int(s) for s in slots):
            new_paths[i] = _file_name(i, t["gen"])
            actions.append({"remove": {
                "path": t["paths"][i], "deletionTimestamp": ts,
                "dataChange": True,
            }})
            actions.append(json.loads(add_line(new_paths[i], i, ts)))
        with ctx.tracer.op("commit", timed) as op:
            commit(t["path"], version, actions, "WRITE", spark=ctx.spark)
        if op.ok:
            for i, p in new_paths.items():
                t["paths"][i] = p

    def _refresh(self, t: dict, timed: bool) -> None:
        from deltalake_datafusion_spark.delta.snapshot import load_snapshot
        from deltalake_datafusion_spark.delta.writer import write_checkpoint

        ctx = self.ctx
        with ctx.tracer.op("refresh", timed) as op:
            snap = load_snapshot(t["path"], spark=ctx.spark, base=t["snap"])
        if not op.ok:
            return
        ctx.check(len(snap.files) == t["n"],
                  f"refresh {t['path']}: {len(snap.files)} live files, "
                  f"expected {t['n']}")
        t["snap"] = snap
        if snap.version % CHECKPOINT_EVERY == 0:
            with ctx.tracer.op("checkpoint", timed) as op:
                op.info["checkpoint"] = True
                write_checkpoint(ctx.spark, snap)

    def _read(self, t: dict, kind: str, timed: bool) -> None:
        from deltalake_datafusion_spark.delta.scan import read_delta

        ctx = self.ctx
        j = int(ctx.rng.integers(0, BUCKETS))
        pred = bucket_predicate(j, t["n"])
        link_bucket(t["path"], t["paths"], j, t["linked"])
        with ctx.tracer.op(kind, timed) as op:
            df = read_delta(ctx.spark, t["path"], predicate=pred)
            n = df.count()
        if not op.ok:
            return
        want = expected_files(t["paths"], j)
        got = {os.path.basename(f) for f in df.inputFiles()}
        ctx.check(got == want,
                  f"{kind}: kept {len(got)} files, expected {len(want)} "
                  f"({len(got ^ want)} differ)")
        ctx.check(n == len(want) * ROWS,
                  f"{kind}: count {n}, expected {len(want) * ROWS}")

    def cycle(self, i: int, timed: bool = True) -> None:
        for t in self.tables.values():
            self._commit(t, timed)
        for t in self.tables.values():
            self._refresh(t, timed)
        self._read(self.tables["small"], "plan_small", timed)
        self._read(self.tables["large"], "plan_large", timed)

    def finish(self) -> dict:
        return {}
