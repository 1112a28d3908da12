"""FSCK REPAIR TABLE and expired-log cleanup."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.fsck import fsck_repair
from deltalake_datafusion_spark.delta.log_cleanup import (
    cleanup_expired_logs,
    parse_duration_ms,
)
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    write_checkpoint,
    write_delta,
)
from deltalake_datafusion_spark.sql.dispatcher import sql


def test_fsck_removes_dangling_adds(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(100).select("id", (F.col("id") % 4).alias("g")),
        path,
        partition_by=["g"],
    )
    snap = load_snapshot(path, spark=spark)
    victim = sorted(f.path for f in snap.files)[0]
    os.remove(os.path.join(path, victim))

    res = fsck_repair(spark, path, dry_run=True)
    assert res["files_missing"] == 1
    assert load_snapshot(path, spark=spark).version == snap.version  # no commit

    row = sql(spark, f"FSCK REPAIR TABLE '{path}'").collect()[0]
    assert row["files_missing"] == 1
    after = load_snapshot(path, spark=spark)
    assert after.version == snap.version + 1
    assert victim not in {f.path for f in after.files}
    read_delta(spark, path).count()  # scans no longer hit the ghost file

    # clean table: fsck is a no-op
    row = sql(spark, f"FSCK REPAIR TABLE '{path}' DRY RUN").collect()[0]
    assert row["files_missing"] == 0


def test_parse_duration():
    assert parse_duration_ms("interval 30 days") == 30 * 86_400_000
    assert parse_duration_ms("interval 2 hours") == 2 * 3_600_000
    assert parse_duration_ms(None) == 30 * 86_400_000
    with pytest.raises(ValueError):
        parse_duration_ms("fortnight")


def test_cleanup_expired_logs(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    write_delta(spark, spark.range(5).select("id"), path)
    for i in range(3):
        write_delta(
            spark, spark.range(5).select("id"), path, mode="append"
        )
    snap = load_snapshot(path, spark=spark)
    write_checkpoint(spark, snap)

    # nothing is old enough under the default 30-day retention
    res = cleanup_expired_logs(spark, path)
    assert res["commits_deleted"] == 0

    # with zero retention everything the checkpoint supersedes goes
    res = cleanup_expired_logs(spark, path, retention_ms=0)
    assert res["commits_deleted"] == snap.version + 1
    assert glob.glob(os.path.join(path, "_delta_log", "*.json")) == []
    # the table still loads from the checkpoint alone
    assert read_delta(spark, path).count() == 20
    # and new commits extend it normally
    write_delta(spark, spark.range(7).select("id"), path, mode="append")
    assert read_delta(spark, path).count() == 27


def test_cleanup_drops_stale_checkpoints_not_live_sidecars(spark, tmp_path):

    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(10).select("id"),
        path,
        configuration={"delta.checkpointPolicy": "v2"},
    )
    write_checkpoint(spark, load_snapshot(path, spark=spark))  # stale after the next one
    write_delta(spark, spark.range(10, 20).select("id"), path, mode="append")
    write_checkpoint(spark, load_snapshot(path, spark=spark))

    res = cleanup_expired_logs(spark, path, retention_ms=0)
    assert res["checkpoints_deleted"] == 1
    assert res["sidecars_deleted"] >= 1
    # the surviving checkpoint's sidecars are intact: full reload works
    for p in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        os.remove(p)
    assert read_delta(spark, path).count() == 20


def test_cleanup_protected_checkpoint_keeps_shared_sidecars(spark, tmp_path):
    """Round-7 ADVICE regression: a sidecar shared between a PROTECTED
    checkpoint (checkpointProtection filtered it out of the cleanup
    candidate lists) and an expired dropped checkpoint must survive —
    keep_sidecars has to be built from the pre-protection-filter
    checkpoint list."""
    import time as _time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    from deltalake_datafusion_spark.delta.log_cleanup import _sidecars_of

    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(10).select("id"),
        path,
        configuration={
            "delta.checkpointPolicy": "v2",
            "delta.requireCheckpointProtectionBeforeVersion": "2",
        },
    )
    write_checkpoint(spark, load_snapshot(path, spark=spark))  # protected (v0 < 2)
    log_dir = os.path.join(path, "_delta_log")
    cp0 = glob.glob(os.path.join(log_dir, "*.checkpoint.*.parquet"))[0]
    shared = sorted(_sidecars_of(cp0))
    assert shared
    for i in range(3):  # commits v1..v3
        write_delta(spark, spark.range(10).select("id"), path, mode="append")
    write_checkpoint(spark, load_snapshot(path, spark=spark))  # latest, kept

    # hand-craft an UNPROTECTED expired v2 checkpoint at version 2 that
    # references the protected checkpoint's sidecar (the Delta spec
    # allows sidecar sharing across checkpoints)
    fake = os.path.join(
        log_dir, f"{2:020d}.checkpoint.{uuid.uuid4()}.parquet"
    )
    papq.write_table(
        pa.table({"sidecar": [{"path": s} for s in shared]}), fake
    )

    # keep the protected checkpoint young so checkpointProtection's
    # all-or-nothing rule filters every protected file out of the sweep
    future = _time.time() + 3600
    os.utime(cp0, (future, future))

    cleanup_expired_logs(spark, path, retention_ms=0)

    assert not os.path.exists(fake)  # expired fake checkpoint dropped
    assert os.path.exists(cp0)       # protected checkpoint retained
    for s in shared:                 # and its sidecars were NOT deleted
        assert os.path.exists(os.path.join(log_dir, "_sidecars", s))
    # protected history still replays: drop the _last_checkpoint hint
    # and JSON commits after v0's checkpoint would be needed — just
    # verify the protected checkpoint itself is readable
    assert _sidecars_of(cp0) == set(shared)


def test_version_checksum_written_and_verified(spark, tmp_path):
    """Each data commit writes <version>.crc (Delta VERSION CHECKSUM);
    verify cross-checks numFiles/tableSizeBytes/txns; corruption is
    detected; expired-log cleanup removes crc files with their
    commits."""
    import json

    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.writer import (
        ChecksumMismatchError,
        verify_version_checksum,
        write_checkpoint,
    )

    path = str(tmp_path / "t")
    write_delta(spark, spark.range(40).selectExpr("id"), path)
    write_delta(spark, spark.range(40, 60).selectExpr("id"), path,
                mode="append")
    delete_delta(spark, path, "id % 7 = 0")
    snap = load_snapshot(path, spark=spark)
    crc = os.path.join(path, "_delta_log", f"{snap.version:020d}.crc")
    assert os.path.exists(crc)
    body = json.loads(open(crc).read())
    assert body["numFiles"] == len(snap.files)
    assert body["numDeletionVectorsOpt"] >= 1
    assert verify_version_checksum(snap, spark)

    # corruption detected
    body["numFiles"] += 1
    open(crc, "w").write(json.dumps(body))
    with pytest.raises(ChecksumMismatchError, match="numFiles"):
        verify_version_checksum(snap, spark)

    # cleanup removes crc files alongside expired commits
    write_checkpoint(spark, snap)
    cleanup_expired_logs(spark, path, retention_ms=0)
    leftover = glob.glob(os.path.join(path, "_delta_log", "*.crc"))
    assert leftover == []  # all commits ≤ checkpoint were expired


def test_fsck_detects_missing_deletion_vector(spark, tmp_path):
    """An add whose DV file was deleted out-of-band is dangling
    (a scan would fail or resurrect deleted rows): FSCK drops it."""
    import glob as _glob

    from deltalake_datafusion_spark.delta.ops import delete_delta

    path = os.path.join(str(tmp_path), "t")
    write_delta(spark, spark.range(100).select("id"), path)
    delete_delta(spark, path, "id % 3 = 0")
    snap = load_snapshot(path, spark=spark)
    assert any(f.dv is not None for f in snap.files)

    dv_files = _glob.glob(os.path.join(path, "**", "deletion_vector_*.bin"),
                          recursive=True)
    assert dv_files
    os.remove(dv_files[0])

    res = fsck_repair(spark, path, dry_run=True)
    assert res["files_missing"] >= 1
    fsck_repair(spark, path)
    after = load_snapshot(path, spark=spark)
    # the dangling DV-bearing add is gone; every surviving DV resolves
    from deltalake_datafusion_spark.delta.deletion_vectors import (
        dv_relative_path,
    )

    for f in after.files:
        if f.dv is not None and f.dv.storage_type == "u":
            assert os.path.exists(
                os.path.join(path, dv_relative_path(f.dv.path_or_inline))
            )
    read_delta(spark, path).count()
    assert fsck_repair(spark, path, dry_run=True)["files_missing"] == 0
