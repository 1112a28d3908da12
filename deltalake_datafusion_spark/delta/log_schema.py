"""The Delta transaction-log action schema.

Spark analog of the kernel's log schema that the reference exposes
through its ``delta_log`` metadata table (reference:
``crates/datafusion/src/table_provider/delta_log.rs:37-38,60-136``).
Expressed as a Spark ``StructType`` so commits can be read with
``spark.read.schema(LOG_SCHEMA).json(...)`` and checkpoints with the
same column layout in parquet.

Delta schema strings (``metaData.schemaString``) use Spark's own
StructType JSON serialization, so ``StructType.fromJson`` round-trips
them natively.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

_STR_MAP = MapType(StringType(), StringType())

DV_DESCRIPTOR_SCHEMA = StructType(
    [
        StructField("storageType", StringType()),    # 'u' | 'i' | 'p'
        StructField("pathOrInlineDv", StringType()),
        StructField("offset", IntegerType()),
        StructField("sizeInBytes", IntegerType()),
        StructField("cardinality", LongType()),
    ]
)

ADD_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("partitionValues", _STR_MAP),
        StructField("size", LongType()),
        StructField("modificationTime", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("stats", StringType()),
        StructField("tags", _STR_MAP),
        StructField("deletionVector", DV_DESCRIPTOR_SCHEMA),
        StructField("baseRowId", LongType()),
        StructField("defaultRowCommitVersion", LongType()),
    ]
)

REMOVE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("deletionTimestamp", LongType()),
        StructField("dataChange", BooleanType()),
        StructField("extendedFileMetadata", BooleanType()),
        StructField("partitionValues", _STR_MAP),
        StructField("size", LongType()),
        StructField("deletionVector", DV_DESCRIPTOR_SCHEMA),
    ]
)

METADATA_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField(
            "format",
            StructType(
                [
                    StructField("provider", StringType()),
                    StructField("options", _STR_MAP),
                ]
            ),
        ),
        StructField("schemaString", StringType()),
        StructField("partitionColumns", ArrayType(StringType())),
        StructField("configuration", _STR_MAP),
        StructField("createdTime", LongType()),
    ]
)

PROTOCOL_SCHEMA = StructType(
    [
        StructField("minReaderVersion", IntegerType()),
        StructField("minWriterVersion", IntegerType()),
        StructField("readerFeatures", ArrayType(StringType())),
        StructField("writerFeatures", ArrayType(StringType())),
    ]
)

TXN_SCHEMA = StructType(
    [
        StructField("appId", StringType()),
        StructField("version", LongType()),
        StructField("lastUpdated", LongType()),
    ]
)

DOMAIN_METADATA_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("configuration", StringType()),
        StructField("removed", BooleanType()),
    ]
)

COMMIT_INFO_SCHEMA = StructType(
    [
        StructField("timestamp", LongType()),
        StructField("operation", StringType()),
        StructField("operationParameters", _STR_MAP),
        StructField("operationMetrics", _STR_MAP),
        StructField("engineInfo", StringType()),
        StructField("txnId", StringType()),
    ]
)

LOG_SCHEMA = StructType(
    [
        StructField("add", ADD_SCHEMA),
        StructField("remove", REMOVE_SCHEMA),
        StructField("metaData", METADATA_SCHEMA),
        StructField("protocol", PROTOCOL_SCHEMA),
        StructField("txn", TXN_SCHEMA),
        StructField("domainMetadata", DOMAIN_METADATA_SCHEMA),
        StructField("commitInfo", COMMIT_INFO_SCHEMA),
    ]
)

# Checkpoint rows: every log action but commitInfo.
CHECKPOINT_SCHEMA = StructType(
    [f for f in LOG_SCHEMA.fields if f.name != "commitInfo"]
)

# V2 checkpoints (Delta spec "V2 Checkpoint Table Feature"): the
# top-level UUID-named checkpoint carries a checkpointMetadata action
# and optional sidecar pointers into _delta_log/_sidecars/.
SIDECAR_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("sizeInBytes", LongType()),
        StructField("modificationTime", LongType()),
        StructField("tags", _STR_MAP),
    ]
)

CHECKPOINT_METADATA_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("tags", _STR_MAP),
    ]
)

CHECKPOINT_V2_SCHEMA = StructType(
    CHECKPOINT_SCHEMA.fields
    + [
        StructField("sidecar", SIDECAR_SCHEMA),
        StructField("checkpointMetadata", CHECKPOINT_METADATA_SCHEMA),
    ]
)

# Reader features this engine understands; protocol gating mirrors the
# kernel's reader-version checks surfaced by the reference's snapshot
# metadata assertions (crates/acceptance/src/meta.rs:78-117).
SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "vacuumProtocolCheck",
    "v2Checkpoint",
    "typeWidening",
    "variantType",
}
MAX_READER_VERSION = 3

# Writer features this engine implements. A table whose protocol
# demands anything outside this set is READABLE but not WRITABLE —
# committing to it without honoring the unknown feature's invariants
# would corrupt it for the engine that set it (delta-spark refuses the
# same way). Checked by ``writer.check_writable`` on every write/DML/
# DDL entry point.
SUPPORTED_WRITER_FEATURES = {
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "columnMapping", "identityColumns",
    "deletionVectors", "rowTracking", "domainMetadata", "clustering",
    "v2Checkpoint", "inCommitTimestamp", "typeWidening",
    "allowColumnDefaults", "vacuumProtocolCheck", "timestampNtz",
    "variantType", "checkpointProtection",
}
MAX_WRITER_VERSION = 7
