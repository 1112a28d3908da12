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

Each mode asserts distributed ≡ driver results before reporting.
Synthesizes a Delta log with N add actions (realistic per-file stats,
batched into 32 commit JSONs, driver-written — no data files needed:
planning never opens them).

Usage:
    PYTHONPATH=/root/repo python tools/bench_planner.py [N ...]

Defaults to N = 100_000 300_000. Results go into SCALING.md /
PARITY.md planner tables.
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


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [100_000, 300_000]
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
    for n in sizes:
        d = tempfile.mkdtemp(prefix="planner_bench_")
        try:
            synthesize_log(d, n)
            est = estimate_log_actions(d, spark)
            pred = f"id >= {n * 1000 - n * 10}"  # ~1% of files survive

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
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
