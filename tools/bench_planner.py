"""Measure driver-side vs distributed planning on a synthetic large
log — the numbers behind scan.SPARK_PLANNER_FILE_THRESHOLD, for all
three planner consumers (VERDICT r9 #5):

  scan     read-path file pruning with a ~1%-selective stats predicate
           (driver: load_snapshot + scan_files; distributed:
           collect_planned_files)
  dml      DELETE/UPDATE candidate planning (the `_dml_snapshot`
           cutover: snapshot WITHOUT file materialization + one Spark
           planning job vs full driver snapshot + driver pruning)
  optimize compaction victim selection (`size < threshold` victim
           condition pushed into the distributed replay vs driver
           filter over the materialized file list; ~1% of synthetic
           files are small)
  checkpoint  the checkpoint writer fed by its two sources of live
           adds: the loaded snapshot's Arrow file table
           (`write_checkpoint`, the "driver" column) vs the
           executor-side log replay (`write_checkpoint_spark`)

Each mode asserts distributed ≡ driver results before reporting; the
checkpoint mode asserts that each checkpoint reloads to the log's live
set. Synthesizes a Delta log with N add actions (realistic per-file
stats, batched into 32 commit JSONs, driver-written — no data files
needed: planning never opens them).

Usage:
    PYTHONPATH=. python tools/bench_planner.py [MODE ...] [N ...]

MODE is any of scan, dml, optimize, checkpoint (default: all); N
defaults to 100_000 300_000. The checkpoint mode calls only
`write_checkpoint(spark, snapshot)` and `write_checkpoint_spark(spark,
path)`, so pointing PYTHONPATH at another checkout of the package
times that checkout's writers on the same logs. Results go into
SCALING.md / PARITY.md planner tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import uuid


def synthesize_log(path: str, n_files: int, commits: int = 32) -> None:
    log = os.path.join(path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        ],
    }
    meta = {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    per_commit = n_files // commits
    fid = 0
    for c in range(commits):
        lines = []
        if c == 0:
            lines.append(json.dumps(proto))
            lines.append(json.dumps(meta))
        n = per_commit if c < commits - 1 else n_files - fid
        for _ in range(n):
            lo = fid * 1000
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": f"part-{fid:08d}.parquet",
                            "partitionValues": {},
                            # ~1% small files: the OPTIMIZE victim set
                            "size": 1048576 if fid % 97 == 0
                            else 134217728,
                            "modificationTime": 1700000000000 + fid,
                            "dataChange": True,
                            "stats": json.dumps(
                                {
                                    "numRecords": 1000,
                                    "minValues": {"id": lo, "v": 0.0},
                                    "maxValues": {"id": lo + 999, "v": 1.0},
                                    "nullCount": {"id": 0, "v": 0},
                                }
                            ),
                        }
                    }
                )
            )
            fid += 1
        with open(os.path.join(log, f"{c:020d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


MODES = ("scan", "dml", "optimize", "checkpoint")


def _drop_checkpoints(path: str) -> None:
    log = os.path.join(path, "_delta_log")
    for name in os.listdir(log):
        if ".checkpoint." in name or name == "_last_checkpoint":
            os.remove(os.path.join(log, name))
    shutil.rmtree(os.path.join(log, "_sidecars"), ignore_errors=True)


def bench_checkpoint(spark, d: str, n: int, est: int) -> None:
    """Time both checkpoint sources on the log at ``d``; each
    checkpoint must reload (no commit follows it) to the live set."""
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.delta.writer import (
        write_checkpoint,
        write_checkpoint_spark,
    )

    snap = load_snapshot(d, spark=spark)
    want = {f.path for f in snap.files}
    times = []
    for write in (lambda: write_checkpoint(spark, snap),
                  lambda: write_checkpoint_spark(spark, d)):
        _drop_checkpoints(d)
        t0 = time.time()
        write()
        times.append(time.time() - t0)
        reloaded = load_snapshot(d, spark=spark)
        assert reloaded.version == snap.version
        assert {f.path for f in reloaded.files} == want, n
    _drop_checkpoints(d)
    print(f"{'checkpnt':>8} {n:>9} {times[0]:>9.2f} {times[1]:>9.2f} "
          f"{len(want):>9} {est:>11}")


def main() -> None:
    modes = [a for a in sys.argv[1:] if a in MODES] or list(MODES)
    sizes = [int(a) for a in sys.argv[1:] if a not in MODES] or [
        100_000, 300_000
    ]
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.scan import (
        collect_planned_files,
        estimate_log_actions,
        scan_files,
    )
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot
    from deltalake_datafusion_spark.session import get_spark

    spark = get_spark(app_name="bench_planner")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'mode':>8} {'n_files':>9} {'driver_s':>9} {'spark_s':>9} "
          f"{'survivors':>9} {'est_actions':>11}")
    if "checkpoint" in modes:
        # warm both checkpoint writers' Spark paths once (first row)
        sizes = [1000] + sizes
    for n in sizes:
        d = tempfile.mkdtemp(prefix="planner_bench_")
        try:
            synthesize_log(d, n)
            est = estimate_log_actions(d, spark)
            pred = f"id >= {n * 1000 - n * 10}"  # ~1% of files survive

            if "scan" in modes:
                # ---- scan: read-path predicate pruning ----
                t0 = time.time()
                snap = load_snapshot(d, spark=spark)
                files = scan_files(snap, pred)
                t_driver = time.time() - t0

                # warm the Spark session (JVM/codegen) once, untimed
                collect_planned_files(spark, d, pred)
                t0 = time.time()
                planned = collect_planned_files(spark, d, pred)
                t_spark = time.time() - t0

                assert {f.path for f in files} == {f.path for f in planned}, (
                    len(files), len(planned)
                )
                print(f"{'scan':>8} {n:>9} {t_driver:>9.2f} {t_spark:>9.2f} "
                      f"{len(files):>9} {est:>11}")

            if "dml" in modes:
                # ---- dml: DELETE/UPDATE candidate planning ----
                # driver shape: full snapshot materialization + pruning
                t0 = time.time()
                snap = load_snapshot(d, spark=spark)
                cands_driver = scan_files(snap, pred)
                t_driver = time.time() - t0
                # distributed shape (the _dml_snapshot cutover): snapshot
                # WITHOUT the file list + one Spark planning job
                t0 = time.time()
                snap_nf = load_snapshot(d, spark=spark, with_files=False)
                cands_spark = collect_planned_files(
                    spark, d, pred, meta_snapshot=snap_nf
                )
                t_dml = time.time() - t0
                assert snap_nf.version == snap.version
                assert {f.path for f in cands_driver} == {
                    f.path for f in cands_spark
                }
                print(f"{'dml':>8} {n:>9} {t_driver:>9.2f} {t_dml:>9.2f} "
                      f"{len(cands_spark):>9} {est:>11}")

            if "optimize" in modes:
                # ---- optimize: compaction victim selection ----
                threshold = 128 * 1024 * 1024
                t0 = time.time()
                snap = load_snapshot(d, spark=spark)
                # the driver OPTIMIZE victim condition (ops.optimize_delta):
                # a filter over the file table's size column
                vict_driver = list(snap.files.filter(
                    pc.less(snap.files.table["size"], threshold)
                ))
                t_driver = time.time() - t0
                t0 = time.time()
                vict_spark = collect_planned_files(
                    spark, d, None, where=F.col("size") < F.lit(threshold)
                )
                t_opt = time.time() - t0
                assert {f.path for f in vict_driver} == {
                    f.path for f in vict_spark
                }
                print(f"{'optimize':>8} {n:>9} {t_driver:>9.2f} {t_opt:>9.2f} "
                      f"{len(vict_spark):>9} {est:>11}")
            if "checkpoint" in modes:
                bench_checkpoint(spark, d, n, est)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
