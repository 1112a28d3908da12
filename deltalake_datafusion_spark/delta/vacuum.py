"""VACUUM: remove unreferenced files past the retention window.

Spark-first re-expression of the reference's two-stage VACUUM
(reference: logical planning
``crates/datafusion/src/commands/vacuum/mod.rs:50-147`` — retention
resolution 79-109, hidden-file predicate 111-126, dry-run limit
134-136; physical delete ``commands/vacuum/physical.rs:21-139``):

    recursive listing (DataFrame)
      → filter: !is_dir AND mtime < cutoff AND NOT hidden
      → anti-join against snapshot-referenced paths (data files + DVs)
      → dry-run: return first 1000 paths | else delete + return

The reference's `GlobalLimitExec(0..1000)` dry-run cap is preserved.
Retention defaults to the table property
``delta.deletedFileRetentionDuration`` (7 days); shorter explicit
retention is rejected while ``lakehouse.delta.retention_duration_
check.enabled`` is true — same guard, same config key
(reference config.rs:5-57).
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta import deletion_vectors as dvmod
from deltalake_datafusion_spark.delta.fs import strip_scheme
from deltalake_datafusion_spark.delta.listing import directory_listing
from deltalake_datafusion_spark.delta.snapshot import load_snapshot

DEFAULT_RETENTION_HOURS = 7 * 24
DRY_RUN_LIMIT = 1000  # reference: GlobalLimitExec(0..1000), vacuum/mod.rs:135


class VacuumError(Exception):
    pass


_INTERVAL_RE = re.compile(
    r"interval\s+(\d+)\s+(hour|hours|day|days|week|weeks)", re.IGNORECASE
)


def _retention_hours_from_property(value: str | None) -> float | None:
    if not value:
        return None
    m = _INTERVAL_RE.match(value.strip())
    if not m:
        return None
    n, unit = int(m.group(1)), m.group(2).lower()
    if unit.startswith("hour"):
        return float(n)
    if unit.startswith("day"):
        return float(n * 24)
    return float(n * 24 * 7)


def vacuum(
    spark,
    table_path: str,
    retain_hours: float | None = None,
    dry_run: bool = False,
    full: bool = False,
    enforce_retention_duration: bool | None = None,
    lite: bool = False,
    inventory: DataFrame | None = None,
) -> DataFrame:
    """Run VACUUM; returns a DataFrame of affected paths.

    ``full`` vacuums with zero retention for *unreferenced* files
    (still never deletes referenced or hidden files).

    ``lite`` (delta-spark 3.3 ``VACUUM … LITE``): candidates come
    from the LOG's remove-action tombstones (``deletionTimestamp``
    past retention, still unreferenced) instead of a recursive
    directory listing — O(log) instead of O(directory) planning, the
    right mode for 1e7-file tables vacuumed on a schedule. Tradeoff
    (same as delta-spark): orphaned files no commit ever referenced
    (crashed writes) are not found; run a full VACUUM occasionally.

    ``inventory`` (delta-spark 3.1 ``VACUUM … USING INVENTORY``): a
    caller-supplied listing DataFrame replaces the recursive directory
    walk — the scale path when the store already maintains one (S3
    Inventory, a nightly listing job): a 1e8-object prefix is never
    re-listed. Columns: ``path`` (absolute, or relative to the table
    root) plus optional ``is_dir``/``isDir`` and ``modification_time``/
    ``modificationTime`` (timestamp or epoch millis). All retention,
    hidden-file, and referenced-set guards still apply — a stale or
    wrong inventory can at worst delete an unreferenced file early,
    never a referenced one.
    """
    table_path = strip_scheme(table_path)
    snap = load_snapshot(table_path, spark=spark)

    if enforce_retention_duration is None:
        from deltalake_datafusion_spark.session import CONF_RETENTION_CHECK

        enforce_retention_duration = (
            (spark.conf.get(CONF_RETENTION_CHECK, "true") or "true").lower()
            == "true"
        )

    table_retention = (
        _retention_hours_from_property(
            snap.get_property("delta.deletedFileRetentionDuration")
        )
        or DEFAULT_RETENTION_HOURS
    )
    if retain_hours is None:
        retain_hours = 0.0 if full else table_retention
    if full:
        retain_hours = min(retain_hours, 0.0) if retain_hours == 0 else retain_hours

    if enforce_retention_duration and not full and retain_hours < table_retention:
        raise VacuumError(
            f"retention of {retain_hours}h is below the table retention "
            f"({table_retention}h); disable "
            "lakehouse.delta.retention_duration_check.enabled to override"
        )

    cutoff_ms = int((time.time() - retain_hours * 3600) * 1000)

    ref_df, ref_small = _referenced_paths_df(spark, table_path, snap)
    if ref_small:
        ref_df = F.broadcast(ref_df)

    if lite and inventory is not None:
        raise VacuumError("USING INVENTORY cannot be combined with LITE")

    if lite:
        candidates = (
            _tombstone_candidates(spark, table_path, cutoff_ms)
            .join(ref_df, "path", "left_anti")
            .select("path")
            .distinct()
            .orderBy("path")
        )
    else:
        listing = (
            _normalize_inventory(inventory, table_path)
            if inventory is not None
            else directory_listing(spark, table_path, recursive=True)
        )
        # Hidden rule (reference vacuum/mod.rs:111-126): anything whose
        # path RELATIVE segment starts with '_' or '.' is never
        # touched.
        rel = F.regexp_replace(
            F.col("path"), re.escape(table_path.rstrip("/")) + "/", ""
        )
        hidden = F.exists(
            F.split(rel, "/"),
            lambda seg: seg.startswith("_") | seg.startswith("."),
        )
        candidates = (
            listing.filter(~F.col("is_dir"))
            .filter(
                F.col("modification_time")
                < F.timestamp_millis(F.lit(cutoff_ms))
            )
            .filter(~hidden)
            .join(ref_df, "path", "left_anti")
            .select("path")
            .orderBy("path")
        )

    if dry_run:
        return candidates.limit(DRY_RUN_LIMIT)

    # Audit trail (delta-spark vacuumProtocolCheck behavior): a
    # physical vacuum brackets its deletes with VACUUM START / VACUUM
    # END commits, so history shows when files were reclaimed and a
    # crash between them is visible as a dangling START.
    from deltalake_datafusion_spark.delta.writer import (
        ConcurrentWriteError,
        commit,
    )

    def _audit(op: str, params: dict) -> None:
        for _ in range(5):
            cur = load_snapshot(table_path, spark=spark, with_files=False)
            try:
                commit(
                    table_path, cur.version + 1, [], op, spark,
                    operation_parameters=params,
                    configuration=cur.metadata.configuration,
                )
                return
            except ConcurrentWriteError:
                continue

    _audit(
        "VACUUM START",
        {
            "retentionCheckEnabled": str(enforce_retention_duration),
            "specifiedRetentionMillis": str(int(retain_hours * 3600_000)),
        },
    )
    # Distributed delete: executors remove their partition's files in
    # parallel (the reference streams deletes through VacuumExec,
    # commands/vacuum/physical.rs:106-128 — same shape, no driver
    # loop). localCheckpoint materializes the side effect exactly once
    # so re-evaluating the returned DataFrame cannot re-delete.
    deleted = candidates.mapInPandas(_delete_batches, "path string")
    out = deleted.localCheckpoint(eager=True)
    _audit(
        "VACUUM END",
        {"status": "COMPLETED", "numDeletedFiles": str(out.count())},
    )
    return out


def _normalize_inventory(inventory: DataFrame, table_path: str) -> DataFrame:
    """Adapt a caller inventory to the listing schema the filter stage
    expects: absolute ``path``, boolean ``is_dir``, timestamp
    ``modification_time``. Accepts delta-spark's camelCase names and
    epoch-millis mtimes; missing mtime means "old enough" (epoch 0 —
    the retention guard then only protects files the LOG still
    references, which the anti-join enforces anyway)."""
    from pyspark.sql.types import (
        BooleanType, LongType, TimestampType,
    )

    cols = {c.lower(): c for c in inventory.columns}
    if "path" not in cols:
        raise VacuumError(
            f"inventory must have a 'path' column (got {inventory.columns})"
        )
    root = table_path.rstrip("/")
    path = F.col(cols["path"]).cast("string")
    abs_path = F.when(
        path.startswith("/") | path.contains("://"), path
    ).otherwise(F.concat(F.lit(root + "/"), path))

    dir_col = cols.get("is_dir") or cols.get("isdir")
    is_dir = (
        F.col(dir_col).cast(BooleanType())
        if dir_col
        else F.lit(False)
    )
    mt_col = cols.get("modification_time") or cols.get("modificationtime")
    if mt_col is None:
        mtime = F.timestamp_millis(F.lit(0))
    else:
        dt = inventory.schema[mt_col].dataType
        mtime = (
            F.col(mt_col).cast(TimestampType())
            if isinstance(dt, TimestampType)
            else F.timestamp_millis(F.col(mt_col).cast(LongType()))
        )
    return inventory.select(
        abs_path.alias("path"),
        is_dir.alias("is_dir"),
        mtime.alias("modification_time"),
    )


def _tombstone_candidates(spark, table_path: str, cutoff_ms: int):
    """LITE candidate set: absolute paths of remove-action tombstones
    whose ``deletionTimestamp`` is past the cutoff, plus the DV files
    those removes referenced — one distributed pass over the log, no
    directory listing. A later re-add of the same path survives via
    the caller's referenced-set anti-join."""
    import pandas as pd

    from deltalake_datafusion_spark.delta.snapshot import actions_df

    root = table_path.rstrip("/")
    removes = (
        actions_df(spark, table_path)
        .filter(F.col("remove.path").isNotNull())
        .filter(
            F.coalesce(F.col("remove.deletionTimestamp"), F.lit(0))
            < F.lit(cutoff_ms)
        )
        .select(
            F.col("remove.path").alias("path"),
            F.col("remove.deletionVector.storageType").alias("dv_type"),
            F.col("remove.deletionVector.pathOrInlineDv").alias("dv_tok"),
        )
    )
    data = removes.select(
        F.when(
            F.col("path").startswith("/") | F.col("path").contains("://"),
            F.url_decode("path"),
        )
        .otherwise(F.concat(F.lit(root + "/"), F.url_decode("path")))
        .alias("path")
    )

    def dv_paths(batches):
        for pdf in batches:
            out = []
            for tok in pdf["dv_tok"]:
                out.append(os.path.join(root, dvmod.dv_relative_path(tok)))
            yield pd.DataFrame({"path": out})

    dv = (
        removes.filter(F.col("dv_type") == "u")
        .select("dv_tok")
        .mapInPandas(dv_paths, "path string")
    )
    return data.unionByName(dv)


# the driver-built referenced set is broadcast to the anti-join
_BROADCAST_REFERENCED_MAX = 100_000


def _referenced_paths_df(spark, table_path: str, snap):
    """Live (data + DV) file paths as (one-column DataFrame,
    small_enough_to_broadcast).

    Small tables build the set on the driver. Past the distributed-
    planning threshold — or past what is worth broadcasting — the set
    comes from :func:`log_replay_df` as a Spark job: a 1e7-file table's
    referenced set never materializes driver-side (the anti-join then
    runs shuffle-to-shuffle instead of against a broadcast)."""
    from deltalake_datafusion_spark.delta.scan import (
        SPARK_PLANNER_FILE_THRESHOLD,
    )

    if len(snap.files) <= min(
        SPARK_PLANNER_FILE_THRESHOLD, _BROADCAST_REFERENCED_MAX
    ):
        referenced = {os.path.join(table_path, f.path) for f in snap.files}
        for f in snap.files:
            if f.dv and f.dv.storage_type == "u":
                referenced.add(
                    os.path.join(
                        table_path, dvmod.dv_relative_path(f.dv.path_or_inline)
                    )
                )
        return (
            spark.createDataFrame(
                [(p,) for p in sorted(referenced)] or [("",)], "path string"
            ),
            True,
        )

    import pandas as pd

    from deltalake_datafusion_spark.delta.snapshot import log_replay_df

    live = log_replay_df(spark, table_path)
    root = table_path.rstrip("/")
    data_paths = live.select(
        F.when(
            F.col("path").startswith("/") | F.col("path").contains("://"),
            F.url_decode("path"),
        )
        .otherwise(F.concat(F.lit(root + "/"), F.url_decode("path")))
        .alias("path")
    )

    def dv_paths(batches):
        for pdf in batches:
            out = []
            for tok in pdf["pathOrInlineDv"]:
                out.append(os.path.join(root, dvmod.dv_relative_path(tok)))
            yield pd.DataFrame({"path": out})

    dv = (
        live.filter(F.col("deletionVector.storageType") == "u")
        .select(F.col("deletionVector.pathOrInlineDv").alias("pathOrInlineDv"))
        .mapInPandas(dv_paths, "path string")
    )
    return data_paths.unionByName(dv), False


def _delete_batches(batches):
    """mapInPandas worker: delete each path, yield the ones removed.

    Local / ``file:`` paths go through ``os.remove``; any other scheme
    resolves a pyarrow FileSystem once per partition (works for s3://,
    hdfs://, gs:// wherever the executor image carries the libs)."""
    import pandas as pd

    pa_fs = None
    for pdf in batches:
        removed = []
        for p in pdf["path"]:
            if "://" not in p or p.startswith("file:"):
                local = p
                for prefix in ("file://", "file:"):
                    if local.startswith(prefix):
                        local = local[len(prefix):]
                        break
                try:
                    os.remove(local)
                    removed.append(p)
                except OSError:
                    pass
            else:
                try:
                    import pyarrow.fs as pafs

                    if pa_fs is None:
                        pa_fs, _ = pafs.FileSystem.from_uri(p)
                    _, rel = pafs.FileSystem.from_uri(p)
                    pa_fs.delete_file(rel)
                    removed.append(p)
                except Exception:
                    pass
        yield pd.DataFrame({"path": removed})
