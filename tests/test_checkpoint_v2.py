"""V2 checkpoints: UUID-named top-level + sidecar file actions."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta.ops import delete_delta
from deltalake_datafusion_spark.delta.scan import read_delta
from deltalake_datafusion_spark.delta.snapshot import load_snapshot
from deltalake_datafusion_spark.delta.writer import (
    write_checkpoint,
    write_delta,
)
from deltalake_datafusion_spark.sql.dispatcher import sql


def _v2_table(spark, tmp_path, n_commits=3):
    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(10).select("id", (F.col("id") % 3).alias("g")),
        path,
        partition_by=["g"],
        configuration={"delta.checkpointPolicy": "v2"},
    )
    for i in range(1, n_commits):
        write_delta(
            spark,
            spark.range(i * 10, i * 10 + 10).select(
                "id", (F.col("id") % 3).alias("g")
            ),
            path,
            mode="append",
        )
    return path


def test_v2_checkpoint_roundtrip(spark, tmp_path):
    path = _v2_table(spark, tmp_path)
    cp = write_checkpoint(spark, load_snapshot(path, spark=spark))
    assert os.path.basename(cp).count(".") == 3  # N.checkpoint.<uuid>.parquet
    assert glob.glob(os.path.join(path, "_delta_log", "_sidecars", "*.parquet"))

    # wipe the commit JSONs the checkpoint supersedes: the snapshot
    # must reconstruct entirely from the v2 checkpoint + sidecars
    snap_before = load_snapshot(path, spark=spark)
    for v in range(snap_before.version + 1):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    snap = load_snapshot(path, spark=spark)
    assert snap.version == snap_before.version
    assert {f.path for f in snap.files} == {f.path for f in snap_before.files}
    out = read_delta(spark, path)
    assert out.count() == 30
    # partition pruning still works through the checkpointed adds
    assert read_delta(spark, path, predicate="g = 1").count() == 10


def test_checkpoint_layout_follows_policy(spark, tmp_path):
    """Without delta.checkpointPolicy=v2 the writer emits the classic
    single-file layout: no UUID name, no sidecars."""
    path = os.path.join(str(tmp_path), "plain")
    write_delta(spark, spark.range(5).select("id"), path)
    snap = load_snapshot(path, spark=spark)
    cp = write_checkpoint(spark, snap)
    assert os.path.basename(cp) == f"{0:020d}.checkpoint.parquet"
    assert not os.path.exists(os.path.join(path, "_delta_log", "_sidecars"))
    with open(os.path.join(path, "_delta_log", "_last_checkpoint")) as fh:
        last = json.load(fh)
    # protocol + metaData + one row per add
    assert last == {"version": 0, "size": 2 + len(snap.files)}


def test_checkpoint_policy_property_flows_end_to_end(spark, tmp_path):
    """Enable v2 via SET TBLPROPERTIES on an existing table: protocol
    upgrades, the interval checkpoint writes v2, DML after the
    checkpoint replays correctly."""
    path = os.path.join(str(tmp_path), "t")
    write_delta(
        spark,
        spark.range(20).select("id"),
        path,
        configuration={"delta.checkpointInterval": "2"},
    )
    sql(
        spark,
        f"ALTER TABLE '{path}' SET TBLPROPERTIES "
        "('delta.checkpointPolicy' = 'v2')",
    )
    snap = load_snapshot(path, spark=spark)
    assert "v2Checkpoint" in (snap.protocol.reader_features or [])
    # drive past a checkpoint interval
    write_delta(spark, spark.range(20, 25).select("id"), path, mode="append")
    write_delta(spark, spark.range(25, 30).select("id"), path, mode="append")
    cps = glob.glob(os.path.join(path, "_delta_log", "*.checkpoint.*.parquet"))
    assert any(len(os.path.basename(p).split(".")) == 4 for p in cps)
    delete_delta(spark, path, "id < 5")
    assert read_delta(spark, path).count() == 25
    last = json.load(open(os.path.join(path, "_delta_log", "_last_checkpoint")))
    assert last["version"] >= 2


def test_v2_checkpoint_actions_df_and_log_replay(spark, tmp_path):
    """The delta_log / log_replay metadata tables must read through a
    v2 checkpoint (sidecar expansion, marker rows dropped)."""
    from deltalake_datafusion_spark.delta.snapshot import actions_df

    path = _v2_table(spark, tmp_path)
    write_checkpoint(spark, load_snapshot(path, spark=spark))
    snap_before = load_snapshot(path, spark=spark)
    for v in range(snap_before.version + 1):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    df = actions_df(spark, path)
    n_adds = df.filter("add IS NOT NULL").count()
    assert n_adds == len(snap_before.files)
    assert df.filter("metaData IS NOT NULL").count() == 1
    assert df.filter("protocol IS NOT NULL").count() == 1


def test_write_stats_as_struct(spark, tmp_path):
    """delta.checkpoint.writeStatsAsStruct: checkpoints carry a typed
    stats_parsed struct beside the JSON string — the struct round-trips
    through both our replay paths and matches the JSON values."""
    import json as _json

    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.scan import scan_files_spark
    from deltalake_datafusion_spark.delta.writer import (
        write_checkpoint,
        write_checkpoint_spark,
    )

    path = str(tmp_path / "statsstruct")
    write_delta(
        spark,
        spark.range(100).select(
            "id", (F.col("id") % 7).alias("g"), F.lit("s").alias("t")
        ).repartition(3),
        path,
        configuration={"delta.checkpoint.writeStatsAsStruct": "true"},
    )
    cp = write_checkpoint(spark, load_snapshot(path))
    schema = papq.read_schema(cp)
    add_names = [f.name for f in schema.field("add").type]
    assert "stats_parsed" in add_names
    tbl = papq.read_table(cp, columns=["add"]).to_pylist()
    adds = [r["add"] for r in tbl if r.get("add") and r["add"].get("path")]
    assert adds
    for a in adds:
        parsed = a["stats_parsed"]
        js = _json.loads(a["stats"])
        assert parsed["numRecords"] == js["numRecords"]
        assert parsed["minValues"]["id"] == js["minValues"]["id"]
        assert parsed["maxValues"]["g"] == js["maxValues"]["g"]
        assert parsed["nullCount"]["t"] == js["nullCount"]["t"]
    # the distributed writer carries the same struct
    write_delta(
        spark, spark.range(5).select(
            (F.col("id") + 500).alias("id"),
            F.lit(0).alias("g"), F.lit("u").alias("t"),
        ), path, mode="append",
    )
    parts = write_checkpoint_spark(spark, path)
    assert all(
        "stats_parsed"
        in [f.name for f in papq.read_schema(p).field("add").type]
        for p in parts
    )
    # replay through BOTH planners still prunes and reads exactly
    snap = load_snapshot(path)
    assert len(snap.files) > 1 and all(f.stats for f in snap.files)
    kept = scan_files_spark(spark, path, predicate="id >= 500").collect()
    assert len(kept) >= 1
    assert read_delta(spark, path).count() == 105


def test_write_stats_as_json_false(spark, tmp_path):
    """delta.checkpoint.writeStatsAsJson=false + writeStatsAsStruct:
    the checkpoint carries ONLY the typed struct; our replay folds it
    back, so pruning and reads are unchanged even after the commit
    JSONs expire."""
    import json as _json
    import os

    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from deltalake_datafusion_spark.delta.log_cleanup import (
        cleanup_expired_logs,
    )
    from deltalake_datafusion_spark.delta.scan import (
        scan_files,
        scan_files_spark,
    )
    from deltalake_datafusion_spark.delta.writer import write_checkpoint

    path = str(tmp_path / "jsonoff")
    write_delta(
        spark,
        spark.range(50).select("id").repartition(2),
        path,
        configuration={
            "delta.checkpoint.writeStatsAsStruct": "true",
            "delta.checkpoint.writeStatsAsJson": "false",
        },
    )
    cp = write_checkpoint(spark, load_snapshot(path))
    adds = [
        r["add"]
        for r in papq.read_table(cp, columns=["add"]).to_pylist()
        if r.get("add") and r["add"].get("path")
    ]
    assert adds and all(a["stats"] is None for a in adds)
    assert all(a["stats_parsed"]["numRecords"] is not None for a in adds)
    # expire the commit JSONs: the checkpoint is now the only source
    cleanup_expired_logs(spark, path, retention_ms=0)
    log = os.path.join(path, "_delta_log")
    assert not [f for f in os.listdir(log) if f.endswith(".json")
                and not f.startswith("_")]
    snap = load_snapshot(path)
    assert all(f.stats and _json.loads(f.stats)["numRecords"] for f in snap.files)
    assert len(scan_files(snap, predicate="id < 0")) == 0  # pruning works
    assert scan_files_spark(spark, path, "id < 0").count() == 0
    assert read_delta(spark, path).count() == 50
