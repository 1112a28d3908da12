"""Benchmark entry point.

    python3 perfbench/run.py --workload {meta_log,query_mix,dml_mix} \\
        --seed N --seconds S --trace {0,1}

Builds the workload's inputs from ``--seed``, starts one Spark session
(``local[nproc]``), runs an untimed set-up and warm-up, then runs whole
closed-loop cycles of the workload (one client, each op waits for the
previous one) until ``--seconds`` have passed. Every op's output is
checked. Human-readable lines go to stdout prefixed with ``#``; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

WORKLOADS = ("meta_log", "query_mix", "dml_mix")


class Context:
    """What a workload sees: the session, the op recorder, its seeded
    RNG, a scratch directory, and the check/note sinks."""

    def __init__(self, spark, tracer, seed: int, workdir: str):
        import numpy as np

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.checks = 0
        self.check_failures: list[str] = []
        self.notes: dict[str, float] = {}

    def check(self, ok: bool, msg: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(msg)
            print(f"# CHECK FAILED: {msg}", file=sys.stderr)

    def note(self, key: str, value: float) -> None:
        self.notes[key] = value


def _workload(name: str, ctx: Context):
    if name == "meta_log":
        from meta_log import MetaLog

        return MetaLog(ctx)
    if name == "query_mix":
        from query_mix import QueryMix

        return QueryMix(ctx)
    from dml_mix import DmlMix

    return DmlMix(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import harness

    root = harness.repo_root()
    if not os.path.isdir(os.path.join(root, "deltalake_datafusion_spark")):
        print("perfbench: engine package deltalake_datafusion_spark not found "
              f"under {root}", file=sys.stderr)
        return 2
    work_root = os.path.join(root, ".perfbench_work")
    workdir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    harness.prepare_env(workdir)
    traced = bool(args.trace)
    spark = None
    try:
        env = harness.environment()
        load_before = harness.load_sample()
        t0 = time.perf_counter()
        spark = harness.start_session(workdir, traced)
        session_s = time.perf_counter() - t0
        tracer = harness.Tracer(spark, traced)
        ctx = Context(spark, tracer, args.seed, workdir)
        wl = _workload(args.workload, ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + (time.perf_counter() - t1)
        if traced:
            import layers

            installed = layers.install(tracer)

        t_run = time.perf_counter()
        cycle_s: list[float] = []
        while True:
            t_cycle = time.perf_counter()
            wl.cycle(len(cycle_s))
            cycle_s.append(time.perf_counter() - t_cycle)
            if time.perf_counter() - t_run >= args.seconds:
                break
        wall = time.perf_counter() - t_run
        if traced:
            layers.uninstall(installed)
        ctx.note("cycles", len(cycle_s))
        extra = wl.finish()
        tracer.collect_counts()
        load_after = harness.load_sample()
        peak_rss = harness.peak_rss_mb()
        harness.stop_session(spark)
        spark = None

        import report

        result = report.build(
            workload=args.workload, seed=args.seed, traced=traced,
            tracer=tracer, ctx=ctx, extra=extra, wall=wall, cycle_s=cycle_s,
            setup_s=setup_s, session_s=session_s, peak_rss=peak_rss,
            env=env, load_before=load_before, load_after=load_after,
            workdir=workdir, out_dir=os.path.join(root, ".perfbench_out"),
        )
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
