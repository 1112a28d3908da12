"""Turn a run's ops and spans into the printed report and the final
JSON line.

End-to-end metrics are the same five for every workload, because each
metric is compared on each workload. Failed ops are counted in the
result's ``failed``/``attempted`` and printed as ``failed_ratio``. The per-op
medians named after the workloads' operations (``plan_p50_s``,
``merge_p50_s``, ...) are printed on every run and are part of the
traced run's per-layer output.
"""

from __future__ import annotations

import json
import os
import re

from harness import LAYERS, parse_event_log
from query_mix import FAMILIES, QUERIES
from stats import median, tail_percentile, union_length

END_TO_END = [
    ("setup_s", "s"),
    ("cycle_s", "s"),
    ("op_tail_s", "s"),
    ("ops_per_s", "1/s"),
    ("driver_peak_rss_mb", "MB"),
]

# op kind -> per-op median metric it feeds
OP_MEDIANS = {
    "plan_small": "plan_p50_s",
    "plan_large": "plan_large_p50_s",
    "refresh": "refresh_p50_s",
    "query": "query_p50_s",
    "append": "append_p50_s",
    "delete": "delete_p50_s",
    "update": "update_p50_s",
    "merge": "merge_p50_s",
    "mv_refresh": "mv_refresh_p50_s",
    "read": "read_p50_s",
}
SPARK_LAYERS = tuple(x for x in LAYERS if x != "session") + ("op",)
SELF_LAYERS = tuple(x for x in LAYERS if x != "session")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [
        ("session.start_s", "s"),
        ("snapshot.load_s", "s"),
        ("snapshot.commits_replayed", "count"),
        ("snapshot.refresh_s", "s"),
        ("snapshot.rss_delta_mb", "MB"),
        ("scan.prune_s", "s"),
        ("scan.driver_plan_s", "s"),
        ("scan.spark_plan_s", "s"),
        ("scan.estimate_s", "s"),
        ("scan.files_considered", "count"),
        ("scan.files_kept", "count"),
        ("scan.kept_ratio", "ratio"),
        ("scan.planner_spark_share", "ratio"),
        ("writer.write_s", "s"),
        ("writer.checkpoint_commit_s", "s"),
        ("writer.files_added", "count"),
        ("writer.bytes_added", "bytes"),
        ("writer.log_bytes", "bytes"),
        ("ops.delete_s", "s"),
        ("ops.update_s", "s"),
        ("ops.merge_s", "s"),
        ("ops.merge_jobs", "count"),
        ("ops.optimize_s", "s"),
        ("ops.files_removed", "count"),
        ("ops.files_added", "count"),
        ("ops.rows_copied_per_row_changed", "ratio"),
        ("dv.files_with_dv", "count"),
        ("dv.bytes", "bytes"),
        ("vacuum.s", "s"),
        ("vacuum.files_deleted", "count"),
        ("mv.refresh_s", "s"),
        ("mv.refresh_jobs", "count"),
        ("queries.build_s", "s"),
        ("queries.exec_s", "s"),
    ]
    for q in QUERIES:
        out += [(f"queries.{q}.jobs", "count"), (f"queries.{q}.tasks", "count")]
    out += [(f"queries.{f}.s", "s") for f in FAMILIES]
    out += [(f"{layer}.self_s", "s") for layer in SELF_LAYERS]
    out += [
        ("trace.unattributed_s", "s"),
        ("trace.op_wall_s", "s"),
        ("trace.bookkeeping_s", "s"),
    ]
    for layer in SPARK_LAYERS:
        out += [
            (f"spark.{layer}.executor_run_ms", "ms"),
            (f"spark.{layer}.executor_cpu_ms", "ms"),
            (f"spark.{layer}.shuffle_bytes", "bytes"),
            (f"spark.{layer}.driver_only_s", "s"),
        ]
    out += [(m, "s") for m in OP_MEDIANS.values()]
    out += [("write_amp", "ratio"), ("failed_ratio", "ratio")]
    return out


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _op_kind(op) -> str:
    return "query" if op.kind in QUERIES else op.kind


def _workload_medians(timed_ok, extra: dict) -> dict[str, float]:
    out = {}
    for kind, metric in OP_MEDIANS.items():
        lat = [op.seconds for op in timed_ok if _op_kind(op) == kind]
        if lat:
            out[metric] = median(lat)
    if "write_amp" in extra:
        out["write_amp"] = extra["write_amp"]
    return out


_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint")


def _commits_replayed(spans) -> float:
    """Commits each snapshot load replayed, counted by listing the
    table's ``_delta_log``: for a full load, commits after the newest
    checkpoint at or below the loaded version; for a refresh, commits
    after the base version."""
    listings: dict[str, list[int]] = {}
    counts = []
    for s in spans:
        c = s["counts"]
        if s["fn"] != "load_snapshot" or "version" not in c:
            continue
        v = c["version"]
        if c["base_version"] is not None:
            counts.append(v - c["base_version"])
            continue
        cps = listings.get(c["table"])
        if cps is None:
            try:
                names = os.listdir(os.path.join(c["table"], "_delta_log"))
            except OSError:
                names = []
            cps = sorted({int(m.group(1)) for n in names
                          if (m := _CKPT_RE.match(n))})
            listings[c["table"]] = cps
        below = [x for x in cps if x <= v]
        counts.append(v - below[-1] if below else v + 1)
    return sum(counts) / len(counts) if counts else 0.0


def _per_layer(tracer, ctx, extra, session_s, workdir, timed_ok,
               timed) -> dict[str, float]:
    m = {name: 0.0 for name, _ in per_layer_names()}
    timed_ids = {op.id for op in timed}
    spans = [s for s in tracer.spans if s["op"] in timed_ids and s["end"] is not None]
    n_ops = max(1, len(timed))
    by_fn: dict[str, list[dict]] = {}
    for s in spans:
        by_fn.setdefault(s["fn"], []).append(s)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def dur(fn, pred=lambda s: True):
        return [s["end"] - s["start"] for s in by_fn.get(fn, []) if pred(s)]

    kind_of = {op.id: op.kind for op in timed}

    def top(fn, kind):
        """The op's own call, not the same function called inside
        another op (MV refresh runs a MERGE, OPTIMIZE a write)."""
        return dur(fn, lambda s: s["parent"] is None and kind_of[s["op"]] == kind)

    def descendants(s):
        out, stack = [], list(children.get(s["id"], []))
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(children.get(c["id"], []))
        return out

    m["session.start_s"] = session_s
    m["snapshot.load_s"] = _med(dur("load_snapshot", lambda s: s["counts"].get(
        "base_version") is None and s["counts"].get("with_files", True)))
    m["snapshot.refresh_s"] = _med(dur("load_snapshot", lambda s: s["counts"].get(
        "base_version") is not None))
    m["snapshot.commits_replayed"] = _commits_replayed(by_fn.get("load_snapshot", []))
    m["snapshot.rss_delta_mb"] = max(
        [v for k, v in ctx.notes.items() if k.startswith("snapshot.rss_delta_mb")],
        default=0.0,
    )
    m["scan.prune_s"] = _med(dur("scan_files"))
    m["scan.spark_plan_s"] = _med(dur("collect_planned_files"))
    m["scan.estimate_s"] = _med(dur("estimate_log_actions"))
    reads = by_fn.get("read_delta", [])
    driver_plans, spark_reads = [], 0
    for r in reads:
        d = descendants(r)
        if any(c["fn"] == "collect_planned_files" for c in d):
            spark_reads += 1
            continue
        driver_plans.append(sum(
            c["end"] - c["start"] for c in d
            if c["fn"] in ("load_snapshot", "scan_files")))
    m["scan.driver_plan_s"] = _med(driver_plans)
    m["scan.planner_spark_share"] = spark_reads / len(reads) if reads else 0.0
    sf = by_fn.get("scan_files", [])
    considered = sum(s["counts"].get("considered", 0) for s in sf)
    kept = sum(s["counts"].get("kept", 0) for s in sf)
    if sf:
        m["scan.files_considered"] = considered / len(sf)
        m["scan.files_kept"] = kept / len(sf)
        m["scan.kept_ratio"] = kept / considered if considered else 0.0
    m["writer.write_s"] = _med(top("write_delta", "append"))
    m["writer.checkpoint_commit_s"] = _med(
        op.seconds for op in timed_ok if op.info.get("checkpoint"))
    m["ops.delete_s"] = _med(top("delete_delta", "delete"))
    m["ops.update_s"] = _med(top("update_delta", "update"))
    m["ops.merge_s"] = _med(top("merge_delta", "merge"))
    m["ops.merge_jobs"] = _med(op.jobs for op in timed_ok if op.kind == "merge")
    m["ops.optimize_s"] = _med(top("optimize_delta", "optimize"))
    m["vacuum.s"] = _med(top("vacuum", "vacuum"))
    m["mv.refresh_s"] = _med(top("refresh_aggregate_mv", "mv_refresh"))
    m["mv.refresh_jobs"] = _med(op.jobs for op in timed_ok if op.kind == "mv_refresh")
    for key in ("writer.files_added", "writer.bytes_added", "writer.log_bytes",
                "ops.files_removed", "ops.files_added",
                "ops.rows_copied_per_row_changed", "dv.files_with_dv",
                "dv.bytes", "vacuum.files_deleted"):
        if key in extra:
            m[key] = extra[key]
    m["queries.build_s"] = _med(
        s["end"] - s["start"] for s in spans
        if s["layer"] == "queries" and s["fn"] == "build")
    m["queries.exec_s"] = _med(
        s["end"] - s["start"] for s in spans
        if s["layer"] == "queries" and s["fn"] == "exec")
    for q in QUERIES:
        last = [op for op in timed_ok if op.kind == q]
        if last:
            m[f"queries.{q}.jobs"] = last[-1].jobs
            m[f"queries.{q}.tasks"] = last[-1].tasks
    for f in FAMILIES:
        m[f"queries.{f}.s"] = _med(
            op.seconds for op in timed_ok if op.info.get("family") == f)

    self_s, unattributed, wall = tracer.layer_self_times()
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0) / n_ops
    m["trace.unattributed_s"] = unattributed / n_ops
    m["trace.op_wall_s"] = wall / n_ops
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / n_ops

    groups = parse_event_log(os.path.join(workdir, "eventlog"))
    off = tracer.epoch_offset
    layer_of_group = {s["group"]: s["layer"] for s in spans}
    for op in timed:
        layer_of_group[op.group] = "op"
    for grp, rec in groups.items():
        layer = layer_of_group.get(grp)
        if layer is None or layer not in SPARK_LAYERS:
            continue
        m[f"spark.{layer}.executor_run_ms"] += rec["run_ms"] / n_ops
        m[f"spark.{layer}.executor_cpu_ms"] += rec["cpu_ms"] / n_ops
        m[f"spark.{layer}.shuffle_bytes"] += rec["shuffle_bytes"] / n_ops
    # driver-only time: a span's self time minus the union of the job
    # intervals of the jobs that ran under it
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_t = (s["end"] - s["start"]) - union_length(kids)
        jobs = [((a / 1000.0) - off, (b / 1000.0) - off)
                for a, b in groups.get(s["group"], {}).get("jobs", [])]
        jobs = [(max(a, s["start"]), min(b, s["end"])) for a, b in jobs if b > a]
        m[f"spark.{s['layer']}.driver_only_s"] += (
            self_t - union_length(jobs)) / n_ops
    for op in timed:
        tops = [(s["start"], s["end"]) for s in spans
                if s["op"] == op.id and s["parent"] is None]
        jobs = [((a / 1000.0) - off, (b / 1000.0) - off)
                for a, b in groups.get(op.group, {}).get("jobs", [])]
        jobs = [(max(a, op.start), min(b, op.end)) for a, b in jobs if b > a]
        m["spark.op.driver_only_s"] += (
            op.seconds - union_length(tops) - union_length(jobs)) / n_ops
    m.update(_workload_medians(timed_ok, extra))
    m["failed_ratio"] = (len(timed) - len(timed_ok)) / max(1, len(timed))
    return m


def _count_lines(ops) -> list[str]:
    """Exact Spark job/task counts per op kind: the untimed runs
    (warm-up, checks) next to the timed ones, and whether the timed
    counts repeat."""
    by_kind: dict[str, list] = {}
    for op in ops:
        by_kind.setdefault(op.kind.removeprefix("check:"), []).append(op)
    lines = []
    for kind, xs in by_kind.items():
        cold = " ".join(f"{o.jobs}/{o.tasks}" for o in xs if not o.timed)
        warm = [(o.jobs, o.tasks) for o in xs if o.timed]
        same = "" if len(warm) < 2 else (
            "  (repeats)" if len(set(warm)) == 1 else "  (VARIES)")
        timed = " ".join(f"{j}/{t}" for j, t in warm)
        lines.append(f"#   {kind:24s} untimed {cold or '-'} | timed "
                     f"{timed or '-'}{same}")
    return lines


def build(*, workload, seed, traced, tracer, ctx, extra, wall, cycle_s,
          setup_s, session_s, peak_rss, env, load_before, load_after,
          workdir, out_dir) -> dict:
    timed = [op for op in tracer.ops if op.timed]
    timed_ok = [op for op in timed if op.ok]
    lat = [op.seconds for op in timed_ok]
    p, tail, n = tail_percentile(lat)
    e2e = {
        "setup_s": setup_s,
        "cycle_s": median(cycle_s) if cycle_s else float("nan"),
        "op_tail_s": tail,
        "ops_per_s": len(timed_ok) / wall if wall > 0 else 0.0,
        "driver_peak_rss_mb": peak_rss,
    }
    wl_medians = _workload_medians(timed_ok, extra)
    failed = len(timed) - len(timed_ok)

    cycles = len(cycle_s)
    print(f"# perfbench {workload} seed={seed} trace={int(traced)} "
          f"cycles={cycles} timed_s={wall:.3f}")
    print(f"# env {json.dumps(env)}")
    print(f"# load before {json.dumps(load_before)}")
    print(f"# load after  {json.dumps(load_after)}")
    steal = (
        (load_after["steal_jiffies"] or 0) - (load_before["steal_jiffies"] or 0)
    )
    print(f"# steal_jiffies during run: {steal}")
    for name, unit in END_TO_END:
        print(f"# {name:22s} {e2e[name]:.6g} {unit}")
    print(f"# op_p50_s (all ops)     {median(lat) if lat else float('nan'):.6g} s")
    label = f"p{p}" if p is not None else "max"
    print(f"# op_tail_s is {label} over n={n} timed ops")
    print(f"# failed_ratio {failed}/{len(timed)} = "
          f"{failed / max(1, len(timed)):.4f}")
    for op in timed:
        if not op.ok:
            print(f"#   failed op {op.id} {op.kind}: {op.error}")
    for k, v in sorted(wl_medians.items()):
        print(f"# {k:22s} {v:.6g}")
    print("# Spark jobs/tasks per op kind (jobs/tasks of each op, in order):")
    for line in _count_lines(tracer.ops):
        print(line)
    print(f"# checks: {ctx.checks} run, {len(ctx.check_failures)} failed")

    if traced:
        metrics_raw = _per_layer(tracer, ctx, extra, session_s, workdir,
                                 timed_ok, timed)
        units = dict(per_layer_names())
        metrics = {k: {"value": metrics_raw[k], "unit": units[k]} for k in units}
        total_self = sum(metrics_raw[f"{x}.self_s"] for x in SELF_LAYERS)
        print(f"# per-op wall {metrics_raw['trace.op_wall_s']:.4f} s = layer "
              f"self {total_self:.4f} s + unattributed "
              f"{metrics_raw['trace.unattributed_s']:.4f} s; tracing "
              f"bookkeeping {metrics_raw['trace.bookkeeping_s'] * 1000:.3f} "
              f"ms/op (compare cycle_s with an untraced run of the same "
              f"seed for the full overhead)")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    tracer.dump(
        os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(traced)}.jsonl"),
        {"workload": workload, "seed": seed, "traced": traced, "env": env,
         "load_before": load_before, "load_after": load_after,
         "timed_s": wall, "cycles": cycles, "end_to_end": e2e,
         "workload_medians": wl_medians, "extra": extra,
         "check_failures": ctx.check_failures},
    )
    return {
        "correct": not ctx.check_failures,
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }
