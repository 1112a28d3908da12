"""Incremental snapshot refresh + conf-gated snapshot cache.

Pins the reference's ``Snapshot::try_new_from`` semantics
(``crates/datafusion/src/schema_provider.rs:94-109``): a refresh
replays only commits after the base version, and a refresh with zero
new commits opens zero log files (the cost is one directory listing).
The cache (``lakehouse.delta.enable_caching``, reference
``config.rs:5-57``) retains the replayed state between reads.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_datafusion_spark.delta import snapshot as snapmod
from deltalake_datafusion_spark.delta.snapshot import (
    DeltaNotFoundError,
    clear_snapshot_cache,
    load_snapshot,
    load_snapshot_cached,
)
from deltalake_datafusion_spark.delta.writer import write_delta
from deltalake_datafusion_spark.session import CONF_ENABLE_CACHING


@pytest.fixture
def counters(monkeypatch):
    """Count log-file opens (commit JSON reads + checkpoint reads)."""
    counts = {"commits": 0, "checkpoints": 0}
    orig_commit = snapmod._read_commit_file
    orig_cp = snapmod._read_checkpoint_actions

    def count_commit(path, fs):
        counts["commits"] += 1
        return orig_commit(path, fs)

    def count_cp(paths, with_files=True):
        counts["checkpoints"] += len(paths)
        return orig_cp(paths, with_files)

    monkeypatch.setattr(snapmod, "_read_commit_file", count_commit)
    monkeypatch.setattr(snapmod, "_read_checkpoint_actions", count_cp)
    return counts


def _assert_same_state(a, b):
    assert a.version == b.version
    assert [f.path for f in a.files] == [f.path for f in b.files]
    assert a.metadata.schema_string == b.metadata.schema_string
    assert a.metadata.configuration == b.metadata.configuration
    assert a.app_transactions == b.app_transactions


def test_refresh_with_no_new_commits_opens_no_log_files(
    spark, tmp_path, counters
):
    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10), path)
    counters["commits"] = counters["checkpoints"] = 0
    base = load_snapshot(path, spark=spark)
    # the counter sees the reader replay uses: a cold load opens the log
    assert counters["commits"] + counters["checkpoints"] > 0

    counters["commits"] = counters["checkpoints"] = 0
    again = load_snapshot(path, spark=spark, base=base)
    assert again is base  # identical object, not a rebuilt equal one
    assert counters["commits"] == 0
    assert counters["checkpoints"] == 0


def test_refresh_replays_only_the_tail(spark, tmp_path, counters):
    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10), path)          # v0
    write_delta(spark, spark.range(10, 20), path, mode="append")  # v1
    base = load_snapshot(path, spark=spark)
    write_delta(spark, spark.range(20, 30), path, mode="append")  # v2

    counters["commits"] = counters["checkpoints"] = 0
    fresh = load_snapshot(path, spark=spark, base=base)
    assert counters["commits"] == 1   # only 00000...2.json
    assert counters["checkpoints"] == 0
    assert fresh.version == 2
    _assert_same_state(fresh, load_snapshot(path, spark=spark))


def test_incremental_matches_full_after_remove_and_metadata(
    spark, tmp_path
):
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.properties import set_tblproperties

    path = str(tmp_path / "t")
    df = spark.range(100).select("id", (F.col("id") % 4).alias("g"))
    write_delta(spark, df, path)
    base = load_snapshot(path, spark=spark)
    delete_delta(spark, path, "g = 1")
    set_tblproperties(spark, path, {"custom.key": "v1"})

    fresh = load_snapshot(path, spark=spark, base=base)
    _assert_same_state(fresh, load_snapshot(path, spark=spark))
    assert fresh.get_property("custom.key") == "v1"


def test_incremental_future_version_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark, spark.range(5), path)
    base = load_snapshot(path, spark=spark)
    with pytest.raises(DeltaNotFoundError):
        load_snapshot(path, spark=spark, version=99, base=base)


def test_registry_refresh_is_incremental(spark, tmp_path, counters):
    from deltalake_datafusion_spark.delta.registry import DeltaRegistry

    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10), path)
    reg = DeltaRegistry(spark)
    reg.register("t_inc", path)

    counters["commits"] = counters["checkpoints"] = 0
    assert reg.table("t_inc").count() == 10
    assert counters["commits"] == 0 and counters["checkpoints"] == 0

    write_delta(spark, spark.range(10, 15), path, mode="append")
    counters["commits"] = 0
    assert reg.table("t_inc").count() == 15
    assert counters["commits"] == 1
    reg.unregister("t_inc")


def test_snapshot_cache_conf_gated(spark, tmp_path, counters):
    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10), path)
    clear_snapshot_cache()

    spark.conf.set(CONF_ENABLE_CACHING, "false")
    try:
        a = load_snapshot_cached(path, spark=spark)
        b = load_snapshot_cached(path, spark=spark)
        assert a is not b  # no retention with the conf off

        spark.conf.set(CONF_ENABLE_CACHING, "true")
        c = load_snapshot_cached(path, spark=spark)
        counters["commits"] = counters["checkpoints"] = 0
        d = load_snapshot_cached(path, spark=spark)
        assert d is c  # cache hit
        assert counters["commits"] == 0 and counters["checkpoints"] == 0

        # a new commit is picked up incrementally, never served stale
        write_delta(spark, spark.range(10, 20), path, mode="append")
        counters["commits"] = 0
        e = load_snapshot_cached(path, spark=spark)
        assert e.version == 1 and counters["commits"] == 1
        # pinned version bypasses (or exactly hits) the cache
        assert load_snapshot_cached(path, version=0, spark=spark).version == 0
        assert load_snapshot_cached(path, version=1, spark=spark) is e
    finally:
        spark.conf.set(CONF_ENABLE_CACHING, "false")
        clear_snapshot_cache()


def test_incremental_falls_back_when_log_cleaned_past_base(spark, tmp_path):
    """A checkpoint + expired-log cleanup can delete commits the base
    has not seen; the tail replay must detect the hole and fall back
    to a full (checkpoint-based) replay instead of serving stale or
    partial state."""
    import time

    from deltalake_datafusion_spark.delta.log_cleanup import (
        cleanup_expired_logs,
    )
    from deltalake_datafusion_spark.delta.writer import write_checkpoint

    path = str(tmp_path / "t")
    write_delta(spark, spark.range(10), path)  # v0
    base = load_snapshot(path, spark=spark)

    write_delta(spark, spark.range(10, 20), path, mode="append")  # v1
    write_delta(spark, spark.range(20, 30), path, mode="append")  # v2
    snap = load_snapshot(path, spark=spark)
    write_checkpoint(spark, snap)
    cleanup_expired_logs(
        spark, path, retention_ms=0, now_ms=int(time.time() * 1000) + 10_000
    )

    fresh = load_snapshot(path, spark=spark, base=base)
    assert fresh.version == 2
    _assert_same_state(fresh, load_snapshot(path, spark=spark))
    assert sum(1 for _ in fresh.files) == len(load_snapshot(path, spark=spark).files)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_equals_full_under_random_op_sequences(
    spark, tmp_path, seed
):
    """Randomized replay equivalence: after ANY mix of appends,
    deletes, property changes, checkpoints, and log cleanups, an
    incremental refresh from every historical base must equal the
    full replay (files, schema, config, txns)."""
    import random
    import time

    from deltalake_datafusion_spark.delta.log_cleanup import (
        cleanup_expired_logs,
    )
    from deltalake_datafusion_spark.delta.ops import delete_delta
    from deltalake_datafusion_spark.delta.properties import set_tblproperties
    from deltalake_datafusion_spark.delta.writer import write_checkpoint

    rng = random.Random(seed)
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.range(20).select("id", (F.col("id") % 4).alias("g")),
        path,
    )
    bases = [load_snapshot(path, spark=spark)]
    hi = 20
    for _ in range(6):
        op = rng.choice(["append", "append", "delete", "props", "ckpt"])
        if op == "append":
            write_delta(
                spark,
                spark.range(hi, hi + 10).select(
                    "id", (F.col("id") % 4).alias("g")
                ),
                path,
                mode="append",
            )
            hi += 10
        elif op == "delete":
            delete_delta(spark, path, f"g = {rng.randrange(4)}")
        elif op == "props":
            set_tblproperties(
                spark, path, {f"k.{rng.randrange(3)}": str(rng.random())}
            )
        else:
            write_checkpoint(spark, load_snapshot(path, spark=spark))
            cleanup_expired_logs(
                spark, path, retention_ms=0,
                now_ms=int(time.time() * 1000) + 10_000,
            )
        bases.append(load_snapshot(path, spark=spark))

    full = load_snapshot(path, spark=spark)
    for base in bases:
        inc = load_snapshot(path, spark=spark, base=base)
        assert inc.version == full.version
        assert [
            (f.path, f.dv.unique_id if f.dv else None) for f in inc.files
        ] == [
            (f.path, f.dv.unique_id if f.dv else None) for f in full.files
        ]
        assert inc.metadata.schema_string == full.metadata.schema_string
        assert inc.metadata.configuration == full.metadata.configuration
        assert inc.app_transactions == full.app_transactions
