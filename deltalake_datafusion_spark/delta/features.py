"""ALTER TABLE … DROP FEATURE — protocol downgrade (delta-spark).

A table feature is removable only when the CURRENT version carries no
trace of it: the enabling property is off, no live file depends on it
(e.g. deletion vectors), no schema element uses it (identity /
generated / defaults), no domain holds its state. Writer-only
features drop in one metadata commit. READER-impacting features
additionally require ``TRUNCATE HISTORY``: older versions may still
carry traces a reader of the downgraded protocol cannot handle, so
the log is checkpointed at the current version and every earlier
commit and checkpoint is deleted before the downgrade lands
(delta-spark's two-phase drop collapsed into the explicit
TRUNCATE HISTORY form — without it the drop of a reader feature is
refused, mirroring delta-spark's 24-hour-wait error).

The protocol only ever *shrinks*: the dropped feature leaves
``writerFeatures``/``readerFeatures``; when the remainder is
expressible as a legacy protocol (nothing beyond appendOnly /
invariants) the table downgrades all the way to ``(1, 2)`` so
pre-table-features readers work again.

``delta.feature.<name> = supported`` in SET TBLPROPERTIES is the
inverse path (enable a feature without its property), handled in
:mod:`deltalake_datafusion_spark.delta.properties`.
"""

from __future__ import annotations

from pyspark.sql.types import StructField, StructType

from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    _LEGACY_WRITER_FEATURES,
    _READER_IMPACTING,
    CLUSTERING_DOMAIN,
    ConcurrentWriteError,
    DeltaWriteError,
    ROW_TRACKING_DOMAIN,
    _metadata_action,
    commit,
)

# every feature name this engine can mint — the universe for both
# DROP FEATURE validation and delta.feature.* enablement (the same set
# the writability gate accepts: what we can mint, we can honor)
from deltalake_datafusion_spark.delta.log_schema import (
    SUPPORTED_WRITER_FEATURES as KNOWN_FEATURES,
)


def effective_writer_features(protocol) -> set[str]:
    """Explicit writerFeatures plus what a legacy minWriterVersion
    implies (Delta spec migration table) — the set DROP FEATURE
    validates membership against."""
    have = set(protocol.writer_features or [])
    if protocol.min_writer_version < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if protocol.min_writer_version >= v:
                have |= feats
    return have


def _prop_true(snap, key: str) -> bool:
    return (snap.metadata.configuration.get(key, "") or "").lower() == "true"


def _trace_error(snap, feature: str, spark=None) -> str | None:
    """Why ``feature`` cannot be dropped at the current version —
    None when it is clean."""
    conf = snap.metadata.configuration
    if feature == "checkpointProtection":
        v = conf.get("delta.requireCheckpointProtectionBeforeVersion")
        if v is not None:
            try:
                boundary = int(v)
            except (TypeError, ValueError):
                # unparseable foreign boundary: same stance as
                # log_cleanup — treat everything as protected
                return (
                    "delta.requireCheckpointProtectionBeforeVersion "
                    f"has an unparseable value {v!r}"
                )
            from deltalake_datafusion_spark.delta.snapshot import (
                list_log_files,
            )

            commits, checkpoints = list_log_files(snap.table_path, spark)
            protected = [
                ver
                for ver, _ in list(commits) + list(checkpoints)
                if ver < boundary
            ]
            if protected:
                return (
                    f"history before version {v} is still protected "
                    f"({len(protected)} log file(s)); run metadata "
                    "cleanup past that boundary first"
                )
    if feature == "changeDataFeed" and _prop_true(
        snap, "delta.enableChangeDataFeed"
    ):
        return "delta.enableChangeDataFeed is still true; unset it first"
    if feature == "appendOnly" and _prop_true(snap, "delta.appendOnly"):
        return "delta.appendOnly is still true; unset it first"
    if feature == "inCommitTimestamp" and _prop_true(
        snap, "delta.enableInCommitTimestamps"
    ):
        return "delta.enableInCommitTimestamps is still true; unset it first"
    if feature == "checkConstraints":
        names = [k for k in conf if k.startswith("delta.constraints.")]
        if names:
            return f"table still has CHECK constraints: {sorted(names)}"
    if feature == "deletionVectors":
        if _prop_true(snap, "delta.enableDeletionVectors"):
            return "delta.enableDeletionVectors is still true; unset it first"
        with_dv = sum(1 for f in snap.files if f.dv is not None)
        if with_dv:
            return (
                f"{with_dv} live file(s) carry deletion vectors; run "
                "REORG TABLE … APPLY (PURGE) first"
            )
    if feature == "rowTracking" and _prop_true(
        snap, "delta.enableRowTracking"
    ):
        return "delta.enableRowTracking is still true; unset it first"
    if feature == "v2Checkpoint" and (
        conf.get("delta.checkpointPolicy", "").lower() == "v2"
    ):
        return "delta.checkpointPolicy is still 'v2'; unset it first"
    if feature == "typeWidening":
        widened = [
            f.name
            for f in snap.schema.fields
            if f.metadata and "delta.typeChanges" in f.metadata
        ]
        if widened:
            return (
                f"column(s) {widened} carry type-change history; files "
                "written under the narrow type would read wrong without "
                "the feature — rewrite the table first"
            )
    if feature == "columnMapping" and snap.column_mapping_mode != "none":
        if snap.column_mapping_mode == "id":
            # id-mode files resolve columns by parquet field id, not
            # name — the physical column names in the files are
            # unconstrained (an importing engine may have written
            # anything), so even physicalName==logical does not prove
            # the files are readable without the mapping. Refuse.
            return (
                "column mapping cannot be removed from a mode-'id' "
                "table: files resolve by parquet field id and their "
                "column names are not guaranteed to match the logical "
                "schema — rewrite the table under mode 'none' first"
            )
        mismatched = _mapping_mismatches(snap.schema)
        if mismatched:
            return (
                "column mapping cannot be removed: physical names differ "
                f"from logical names for {mismatched} (a past RENAME/DROP "
                "COLUMN) — existing files would stop resolving"
            )
    if feature == "identityColumns":
        idents = [
            f.name
            for f in snap.schema.fields
            if f.metadata and "delta.identity.start" in f.metadata
        ]
        if idents:
            return f"table still has identity column(s): {idents}"
    if feature == "generatedColumns":
        gens = [
            f.name
            for f in snap.schema.fields
            if f.metadata and "delta.generationExpression" in f.metadata
        ]
        if gens:
            return f"table still has generated column(s): {gens}"
    if feature == "allowColumnDefaults":
        defs = [
            f.name
            for f in snap.schema.fields
            if f.metadata and "CURRENT_DEFAULT" in f.metadata
        ]
        if defs:
            return f"column(s) {defs} still have DEFAULT values"
    if feature in ("timestampNtz", "variantType"):
        from deltalake_datafusion_spark.delta.writer import (
            _schema_type_features,
        )

        if feature in _schema_type_features(snap.schema):
            return (
                f"the schema still contains columns requiring {feature} "
                "(timestamp_ntz / variant); drop or retype them first"
            )
    if feature == "clustering" and CLUSTERING_DOMAIN in snap.domain_metadata:
        return "table is clustered; run ALTER TABLE … CLUSTER BY NONE first"
    if feature == "domainMetadata":
        # the row-id high-water mark rides this feature but is harmless
        # to readers; anything else is live state
        others = sorted(
            d for d in snap.domain_metadata if d != ROW_TRACKING_DOMAIN
        )
        if others:
            return f"table still has metadata domains: {others}"
        if "rowTracking" in effective_writer_features(snap.protocol):
            return "rowTracking still depends on domainMetadata; drop it first"
    return None


def _downgraded_protocol(
    protocol, feature: str, extra: frozenset | set = frozenset()
) -> dict:
    remaining = (effective_writer_features(protocol) - {feature}) | set(
        extra
    )
    readers = sorted(f for f in remaining if f in _READER_IMPACTING)
    # vacuumProtocolCheck is an engine-added marker (this engine always
    # writes VACUUM audit commits); it never blocks the full downgrade
    if not readers and remaining <= {
        "appendOnly", "invariants", "vacuumProtocolCheck"
    }:
        # expressible as a legacy protocol: pre-table-features readers
        # and writers work again
        return {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    body: dict = {"minWriterVersion": 7, "writerFeatures": sorted(remaining)}
    if readers:
        body["minReaderVersion"] = 3
        body["readerFeatures"] = readers
    else:
        body["minReaderVersion"] = 1
    return {"protocol": body}


def _mapping_mismatches(schema: StructType, prefix: str = "") -> list:
    """Dotted paths of every (arbitrarily nested) field whose
    ``delta.columnMapping.physicalName`` differs from its logical name.
    Mapping metadata is assigned recursively at write time
    (``writer._assign_physical_names``), so the removal check must
    walk nested struct/array/map element types too — a top-level-only
    check would let a table with a renamed nested field downgrade and
    stop resolving."""
    from pyspark.sql.types import ArrayType, MapType

    out: list = []

    def _walk_type(dt, path):
        if isinstance(dt, StructType):
            for f in dt.fields:
                p = f"{path}.{f.name}" if path else f.name
                phys = (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                if phys != f.name:
                    out.append(p)
                _walk_type(f.dataType, p)
        elif isinstance(dt, ArrayType):
            _walk_type(dt.elementType, f"{path}.element")
        elif isinstance(dt, MapType):
            _walk_type(dt.keyType, f"{path}.key")
            _walk_type(dt.valueType, f"{path}.value")

    _walk_type(schema, prefix)
    return out


def _strip_mapping_metadata(schema: StructType) -> StructType:
    """Remove ``delta.columnMapping.*`` metadata from every field at
    every nesting depth (mirrors the recursive assignment in
    ``writer._assign_physical_names``)."""
    from pyspark.sql.types import ArrayType, MapType

    def _strip_type(dt):
        if isinstance(dt, StructType):
            fields = []
            for f in dt.fields:
                md = {
                    k: v
                    for k, v in (f.metadata or {}).items()
                    if not k.startswith("delta.columnMapping.")
                }
                fields.append(
                    StructField(f.name, _strip_type(f.dataType), f.nullable, md)
                )
            return StructType(fields)
        if isinstance(dt, ArrayType):
            return ArrayType(_strip_type(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                _strip_type(dt.keyType),
                _strip_type(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    return _strip_type(schema)


def drop_feature(
    spark,
    table_path: str,
    feature: str,
    truncate_history: bool = False,
    max_attempts: int = 5,
) -> dict:
    """ALTER TABLE … DROP FEATURE ``feature`` [TRUNCATE HISTORY]."""
    if feature not in KNOWN_FEATURES:
        raise DeltaWriteError(
            f"unknown table feature {feature!r}; known: "
            f"{sorted(KNOWN_FEATURES)}"
        )
    last: Exception | None = None
    for _ in range(max_attempts):
        snap = load_snapshot(table_path, spark=spark)
        have = effective_writer_features(snap.protocol)
        if feature not in have and feature not in set(
            snap.protocol.reader_features or []
        ):
            raise DeltaWriteError(
                f"feature {feature!r} is not present on the table "
                f"(protocol has {sorted(have)})"
            )
        err = _trace_error(snap, feature, spark)
        if err:
            raise DeltaWriteError(f"cannot drop feature {feature!r}: {err}")
        # Reader features: historical versions may still carry traces a
        # downgraded reader cannot handle. TRUNCATE HISTORY deletes that
        # history; WITHOUT it the modern (Delta 4.x) path applies
        # checkpointProtection instead — checkpoint the pre-drop state,
        # mark every earlier log file protected via
        # delta.requireCheckpointProtectionBeforeVersion, and let
        # readers of the downgraded tip replay from the protected
        # checkpoint, never the old commits. History stays available
        # for time travel (old commits carry the old protocol).
        protect = feature in _READER_IMPACTING and not truncate_history
        extra = {"checkpointProtection"} if protect else frozenset()

        actions: list[dict] = [
            _downgraded_protocol(snap.protocol, feature, extra)
        ]
        conf = dict(snap.metadata.configuration)
        schema = snap.schema
        md_changed = False
        if feature == "inCommitTimestamp":
            for k in (
                "delta.enableInCommitTimestamps",
                "delta.inCommitTimestampEnablementVersion",
                "delta.inCommitTimestampEnablementTimestamp",
            ):
                md_changed |= conf.pop(k, None) is not None
        if feature == "columnMapping" and snap.column_mapping_mode != "none":
            # physical names proved equal to logical names above: files
            # resolve without the mapping layer, so the schema sheds its
            # mapping metadata and the mode properties go away
            schema = _strip_mapping_metadata(schema)
            conf.pop("delta.columnMapping.mode", None)
            conf.pop("delta.columnMapping.maxColumnId", None)
            md_changed = True
        if feature == "checkpointProtection":
            md_changed |= (
                conf.pop(
                    "delta.requireCheckpointProtectionBeforeVersion", None
                )
                is not None
            )
        if protect:
            # everything before the drop commit is protected: metadata
            # cleanup must either truncate all of it in one sweep (up
            # to a checkpoint at or past this boundary) or delete none
            # of it — see log_cleanup.cleanup_expired_logs
            conf["delta.requireCheckpointProtectionBeforeVersion"] = str(
                snap.version + 1
            )
            md_changed = True
        if md_changed:
            md = _metadata_action(
                schema, snap.partition_columns, conf,
                snap.metadata.id, snap.metadata.name,
            )
            md["metaData"]["createdTime"] = snap.metadata.created_time
            md["metaData"]["description"] = (
                snap.metadata.description
            )
            actions.append(md)

        truncated = {"commits_deleted": 0, "checkpoints_deleted": 0}
        if protect:
            # the protected checkpoint: tip readers replay from here,
            # never from the commits that used the dropped feature.
            # Skipped when a checkpoint for this exact version already
            # exists (conflict retries land on a NEW snapshot version;
            # the old attempt's checkpoint stays valid for ITS version).
            from deltalake_datafusion_spark.delta.snapshot import (
                list_log_files,
            )
            from deltalake_datafusion_spark.delta.writer import (
                write_checkpoint,
            )

            if not any(
                v == snap.version
                for v, _ in list_log_files(table_path, spark)[1]
            ):
                write_checkpoint(spark, snap)
        if truncate_history:
            # checkpoint the CURRENT version, then expire everything
            # older than it — readers of the downgraded protocol can
            # never replay a version that used the feature
            from deltalake_datafusion_spark.delta.log_cleanup import (
                cleanup_expired_logs,
            )
            from deltalake_datafusion_spark.delta.writer import (
                write_checkpoint,
            )

            write_checkpoint(spark, snap)
            truncated = cleanup_expired_logs(
                spark, table_path, retention_ms=0
            )
        try:
            commit(
                snap.table_path, snap.version + 1, actions, "DROP FEATURE",
                spark=spark, configuration=conf,
                operation_parameters={
                    "featureName": feature,
                    "truncateHistory": str(bool(truncate_history)).lower(),
                },
            )
            return {
                "version": snap.version + 1,
                "feature": feature,
                "commits_deleted": truncated.get("commits_deleted", 0),
            }
        except ConcurrentWriteError as e:
            last = e
    raise last  # type: ignore[misc]
