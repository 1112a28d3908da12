"""Tests for the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

import meta_log
from dml_mix import Replica, _norm
from stats import tail_percentile, union_length


# ---- tail-percentile rule ------------------------------------------ #


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (40, 75), (100, 90),
                                 (1000, 99), (2000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    xs = [float(i) for i in range(1, n + 1)]
    got_p, value, got_n = tail_percentile(xs)
    assert (got_p, got_n) == (p, n)
    beyond = sum(1 for x in xs if x > value)
    assert beyond >= 10
    # the next percentile up would leave fewer than ten beyond
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_percentile_hand_case():
    # 20 samples: p50 is the 10th smallest, with exactly 10 above it
    xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 15, 11, 19, 13, 17, 12, 18, 14, 16, 20]
    assert tail_percentile(xs) == (50, 10, 20)


def test_tail_percentile_too_few_samples_reports_max():
    assert tail_percentile([3.0, 1.0, 2.0]) == (None, 3.0, 3)
    assert tail_percentile([float(i) for i in range(10)]) == (None, 9.0, 10)
    p, v, n = tail_percentile([])
    assert (p, n) == (None, 0) and v != v


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(2, 3), (0, 10)]) == pytest.approx(10.0)


# ---- synthetic log: expected-file-set oracle ------------------------ #


def _live_files(table: str) -> dict[str, dict]:
    """Replay the log by hand: path -> parsed stats of live adds."""
    live = {}
    log = os.path.join(table, "_delta_log")
    for name in sorted(os.listdir(log)):
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live[a["add"]["path"]] = json.loads(a["add"]["stats"])
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    return live


def test_expected_files_match_stats_overlap(tmp_path):
    n = 400  # 4 files per bucket
    table = str(tmp_path / "t")
    paths = meta_log.synthesize(table, n, np.random.default_rng(0), commits=4)
    live = _live_files(table)
    assert set(live) == set(paths)
    for j in (0, 17, 99):
        lo, hi = meta_log.bucket_range(j, n)
        overlap = {p for p, st in live.items()
                   if st["minValues"]["id"] < hi and st["maxValues"]["id"] >= lo}
        want = meta_log.expected_files(paths, j)
        assert overlap == want and len(want) == n // meta_log.BUCKETS


def test_expected_files_follow_replacements():
    paths = [f"p{i}" for i in range(200)]
    paths[3] = "p3-g1"
    assert meta_log.expected_files(paths, 1) == {"p2", "p3-g1"}
    assert meta_log.expected_files(paths, 0) == {"p0", "p1"}


def test_expected_files_equal_engine_pruning(tmp_path):
    """The engine's own driver planner (log replay + stats skipping)
    keeps exactly the oracle's files, and every row of the linked real
    file passes the bucket predicate."""
    import pyarrow.parquet as pq

    from deltalake_datafusion_spark.delta.scan import scan_files
    from deltalake_datafusion_spark.delta.snapshot import load_snapshot

    n = 300
    table = str(tmp_path / "t")
    paths = meta_log.synthesize(table, n, np.random.default_rng(1), commits=3)
    snap = load_snapshot(table)
    for j in (0, 42, 99):
        kept = {f.path for f in scan_files(snap, meta_log.bucket_predicate(j, n))}
        assert kept == meta_log.expected_files(paths, j)
        linked: set[str] = set()
        meta_log.link_bucket(table, paths, j, linked)
        assert linked == kept
        lo, hi = meta_log.bucket_range(j, n)
        for p in kept:
            ids = pq.read_table(os.path.join(table, p)).column("id").to_pylist()
            assert len(ids) == meta_log.ROWS and all(lo <= x < hi for x in ids)


def test_add_line_is_valid_json():
    a = json.loads(meta_log.add_line("x.parquet", 97, 5))["add"]
    st = json.loads(a["stats"])
    assert a["size"] == 1_048_576  # slot 97: one of the ~1% small files
    assert st == {"numRecords": meta_log.ROWS,
                  "minValues": {"id": 97_000, "v": 0.0},
                  "maxValues": {"id": 97_999, "v": 1.0},
                  "nullCount": {"id": 0, "v": 0}}


# ---- DuckDB replica of the dml_mix cycle ---------------------------- #


def _rows(n_keys, **over):
    import datetime as dt

    base = {
        "l_orderkey": [k for k, _ in n_keys],
        "l_partkey": [1] * len(n_keys),
        "l_suppkey": [1] * len(n_keys),
        "l_linenumber": pa.array([ln for _, ln in n_keys], pa.int32()),
        "l_quantity": [10.0] * len(n_keys),
        "l_extendedprice": [100.0] * len(n_keys),
        "l_discount": [0.01] * len(n_keys),
        "l_tax": [0.02] * len(n_keys),
        "l_returnflag": ["A"] * len(n_keys),
        "l_linestatus": ["F"] * len(n_keys),
        "l_shipdate": pa.array([dt.datetime(1995, 1, 2)] * len(n_keys),
                               pa.timestamp("us")),
    }
    base.update(over)
    return pa.table(base)


def test_replica_cycle_hand_checked():
    r = Replica(_rows([(1, 1), (1, 2), (2, 1), (3, 1)]))
    # append order 4 (two lines)
    r.append(_rows([(4, 1), (4, 2)], l_quantity=[5.0, 6.0]))
    assert _norm(r.read("true")) == _norm((6, "51.00", "600.00"))
    # delete order 2
    assert r.delete("l_orderkey >= 2 AND l_orderkey < 3") == 1
    # update: +1 on lines <= 1 of orders 1..3
    assert r.update({"l_quantity": "l_quantity + 1"},
                    "l_orderkey >= 1 AND l_orderkey < 4 AND l_linenumber <= 1") == 2
    # (1,1)=11 (1,2)=10 (3,1)=11 (4,1)=5 (4,2)=6
    assert _norm(r.read("true")) == _norm((5, "43.00", "500.00"))
    # merge: (3,1) matches -> updated; (5,1) new -> inserted
    src = _rows([(3, 1), (5, 1)], l_quantity=[30.0, 50.0],
                l_extendedprice=[300.0, 500.0])
    assert r.merge(src) == (1, 1)
    # (1,1)=11 (1,2)=10 (3,1)=30 (4,1)=5 (4,2)=6 (5,1)=50
    assert _norm(r.read("true")) == _norm((6, "112.00", "1200.00"))
    assert _norm(r.read("l_orderkey >= 3 AND l_orderkey < 5")) == _norm(
        (3, "41.00", "500.00"))
    mv = r.mv()
    assert mv == {("A", "F"): (6, 112.0, 1200.0)}
    assert r.rows_from(4, 1).column("l_linenumber").to_pylist() == [1]


def test_benchmark_json_lists_every_reported_metric():
    import report

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == report.END_TO_END
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == \
        report.per_layer_names()
    assert {w["name"] for w in doc["workloads"]} == {"meta_log", "query_mix", "dml_mix"}
