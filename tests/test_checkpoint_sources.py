"""One checkpoint writer, two sources of live adds.

``write_checkpoint`` reads the snapshot's Arrow file table and
``write_checkpoint_spark`` the executor-side log replay; both feed the
same writer. On a log exercising every add field the two checkpoints
must hold the same add rows, and a snapshot reloaded from either one
(commit JSONs deleted) must equal the snapshot replayed from the log.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as papq
import pytest

from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    _url_encode_path,
    write_checkpoint,
    write_checkpoint_spark,
)

# column mapping (name mode): stats and partition values are keyed by
# physical names
_FIELDS = [("id", "long", "col-1"), ("p", "string", "col-2"),
           ("k", "long", "col-3")]
_SCHEMA = {"type": "struct", "fields": [
    {"name": n, "type": t, "nullable": True, "metadata": {
        "delta.columnMapping.id": i + 1,
        "delta.columnMapping.physicalName": phys,
    }}
    for i, (n, t, phys) in enumerate(_FIELDS)
]}
# partition values needing URL encoding, and the null partition
_PARTS = ["a b", "50%", "x=y", "ü", None, "plain"]
_TAGS = {"clusteringProvider": "liquidClustering", "clusteredBy": "k"}


def _add(i: int, **extra) -> dict:
    pv = _PARTS[i % len(_PARTS)]
    rel = f"col-2={pv if pv is not None else '__HIVE_DEFAULT_PARTITION__'}"
    return {"add": {
        # encoded the way this engine's writer encodes commit paths
        "path": _url_encode_path(f"{rel}/part-{i:05d}.parquet"),
        "partitionValues": {"col-2": pv},
        "size": 1000 + i,
        "modificationTime": 1_700_000_000_000 + i,
        "dataChange": True,
        "stats": json.dumps({
            "numRecords": 10,
            "minValues": {"col-1": i * 10, "col-3": i % 3},
            "maxValues": {"col-1": i * 10 + 9, "col-3": i % 3 + 1},
            "nullCount": {"col-1": 0, "col-3": 0},
        }),
        "baseRowId": i * 10,
        "defaultRowCommitVersion": 0,
        **extra,
    }}


def _write_log(path: str, policy: str) -> None:
    reader = ["columnMapping", "deletionVectors"]
    writer = ["columnMapping", "deletionVectors", "rowTracking",
              "domainMetadata"]
    conf = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "3",
        "delta.enableDeletionVectors": "true",
        "delta.enableRowTracking": "true",
        "delta.checkpoint.writeStatsAsStruct": "true",
    }
    if policy == "v2":
        reader.append("v2Checkpoint")
        writer.append("v2Checkpoint")
        conf["delta.checkpointPolicy"] = "v2"
    dv = {"storageType": "u", "pathOrInlineDv": "ab^-aqEH.-t@S}K{vb[*k^",
          "offset": 1, "sizeInBytes": 36, "cardinality": 2}
    inline = {"storageType": "i", "pathOrInlineDv": "wi5b=000010000siXQKl0",
              "sizeInBytes": 40, "cardinality": 3}
    commits = [
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": reader,
                          "writerFeatures": writer}},
            {"metaData": {
                "id": "5b0e6f0c-0000-4000-8000-000000000000",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(_SCHEMA),
                "partitionColumns": ["p"], "configuration": conf,
                "createdTime": 1_700_000_000_000,
            }},
            {"domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps({"rowIdHighWaterMark": 99}),
                "removed": False,
            }},
        ] + [_add(i) for i in range(8)],
        [
            {"txn": {"appId": "stream-1", "version": 3}},
            {"remove": {"path": _add(2)["add"]["path"],
                        "deletionTimestamp": 1_700_000_000_100,
                        "dataChange": True}},
            _add(3, dataChange=False, deletionVector=dv),
            _add(4, dataChange=False, deletionVector=inline),
        ],
        [_add(5, dataChange=False, tags=_TAGS), _add(8, tags=_TAGS)],
    ]
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    for v, actions in enumerate(commits):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _adds(cp: str) -> list[dict]:
    """The add rows of a checkpoint (a V2 top file's sidecars included),
    sorted by path."""
    rows = papq.read_table(cp).to_pylist()
    side = os.path.join(os.path.dirname(cp), "_sidecars")
    for r in list(rows):
        if r.get("sidecar"):
            rows += papq.read_table(
                os.path.join(side, r["sidecar"]["path"])
            ).to_pylist()
    return sorted((r["add"] for r in rows if r.get("add")),
                  key=lambda a: a["path"])


def _state(snap):
    return (snap.version, snap.metadata, snap.protocol, list(snap.files),
            snap.app_transactions, snap.domain_metadata)


def _drop_checkpoint(log: str) -> None:
    for p in glob.glob(os.path.join(log, "*.checkpoint*.parquet")) + glob.glob(
        os.path.join(log, "_sidecars", "*")
    ) + [os.path.join(log, "_last_checkpoint")]:
        os.remove(p)


@pytest.mark.parametrize("policy", ["classic", "v2"])
def test_file_table_and_log_replay_checkpoints_agree(spark, tmp_path, policy):
    path = str(tmp_path / "t")
    log = os.path.join(path, "_delta_log")
    _write_log(path, policy)
    before = load_snapshot(path, spark=spark)
    assert len(before.files) == 8 and any(f.dv for f in before.files)

    cp = write_checkpoint(spark, before)
    from_table = _adds(cp)
    blob = None
    if policy == "classic":
        with open(cp, "rb") as fh:
            blob = fh.read()
    _drop_checkpoint(log)
    (cp2,) = write_checkpoint_spark(spark, path)
    from_log = _adds(cp2)

    assert len(from_table) == 8
    assert from_table == from_log
    assert not any(a["dataChange"] for a in from_table)
    assert sum(a["deletionVector"] is not None for a in from_table) == 2
    assert sum(a["tags"] is not None for a in from_table) == 2
    assert all(a["stats_parsed"]["numRecords"] == 10 for a in from_table)
    assert (os.path.basename(cp2).count(".") == 3) == (policy == "v2")

    # the checkpoint alone reconstructs the snapshot
    for p in glob.glob(os.path.join(log, "*.json")):
        os.remove(p)
    assert _state(load_snapshot(path, spark=spark)) == _state(before)
    if blob is not None:  # and so does the file-table checkpoint
        with open(cp2, "wb") as fh:
            fh.write(blob)
        assert _state(load_snapshot(path, spark=spark)) == _state(before)


def test_checkpoint_of_table_without_live_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_log(path, "classic")
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{3:020d}.json"), "w") as fh:
        for a in load_snapshot(path).files:
            fh.write(json.dumps({"remove": {
                "path": _url_encode_path(a.path),
                "deletionTimestamp": 1_700_000_000_200, "dataChange": True,
            }}) + "\n")
    before = load_snapshot(path, spark=spark)
    assert len(before.files) == 0
    cp = write_checkpoint(spark, before)
    assert _adds(cp) == []
    for p in glob.glob(os.path.join(log, "*.json")):
        os.remove(p)
    assert _state(load_snapshot(path, spark=spark)) == _state(before)
