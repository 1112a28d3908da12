"""Run harness: environment, session start, op and span recording,
Spark job/task accounting, and the event-log cost ledger.

Every timed operation runs inside :meth:`Tracer.op`, which gives it
its own Spark job group, so exact job and task counts per op come out
of ``statusTracker`` on every run. With tracing on, :meth:`Tracer.span`
records a span around each call into an engine layer (layer,
function, start, end, parent, op id) and gives the span a job group of
its own, so jobs and tasks attach to the innermost span that ran them.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import platform
import resource
import sys
import time
import traceback
from dataclasses import dataclass, field

from stats import union_length

# The layers of the engine (package modules) that spans are named after.
LAYERS = (
    "session", "snapshot", "scan", "writer", "ops", "dv", "vacuum", "mv",
    "cdf", "queries",
)


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(workdir: str) -> None:
    """Keep every file Spark, Python workers and the JVM write inside
    ``workdir``; make the engine importable by Python workers."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    root = repo_root()
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    if root not in sys.path:
        sys.path.insert(0, root)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # get_spark's default heap is 8g; the host's memory is shared, and
    # every workload here fits in 3g
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = tmp


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(workdir: str, traced: bool):
    """``session.get_spark`` with the benchmark's bookkeeping confs:
    files under ``workdir``, a status store large enough to keep every
    job of the run, and (traced runs only) a plain-JSON event log."""
    from deltalake_datafusion_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10",
    }
    if traced:
        ev = os.path.join(workdir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the py4j gateway JVM it runs in, and wait
    for that process (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ----------------------------------------------------------------- #
# environment stamp                                                  #
# ----------------------------------------------------------------- #


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError):
        return None


def load_sample() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "steal_jiffies": _steal_jiffies(),
        "t": time.time(),
    }


def _git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def environment() -> dict:
    def ver(mod):
        try:
            return __import__(mod).__version__
        except Exception:  # noqa: BLE001
            return None

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "spark": ver("pyspark"),
        "pyarrow": ver("pyarrow"),
        "duckdb": ver("duckdb"),
        "git_commit": _git_commit(repo_root()),
    }


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def current_rss_mb() -> float:
    try:
        with open("/proc/self/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, ValueError):
        return float("nan")


# ----------------------------------------------------------------- #
# ops and spans                                                      #
# ----------------------------------------------------------------- #


@dataclass
class Op:
    id: int
    kind: str
    group: str
    start: float = 0.0
    end: float = 0.0
    ok: bool = False
    error: str | None = None
    timed: bool = True
    jobs: int = 0
    tasks: int = 0
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Op and span recorder; spans only when ``traced``."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self._span_ids: list[int] = []  # open spans, innermost last
        self._op: Op | None = None
        self.bookkeeping_s = 0.0
        # epoch seconds = perf_counter() + epoch_offset (event-log times)
        self.epoch_offset = time.time() - time.perf_counter()

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def op(self, kind: str, timed: bool = True):
        """One operation: timed, job-grouped, failure-counted. An
        exception marks the op failed and is swallowed (failed ops are
        counted, never retried or dropped); the caller reads
        ``op.ok``."""
        op = Op(id=len(self.ops), kind=kind, group=f"pb-op-{len(self.ops)}",
                timed=timed)
        self.ops.append(op)
        self._set_group(op.group)
        self._span_ids = []
        self._op = op
        op.start = time.perf_counter()
        try:
            yield op
            op.ok = True
        except Exception as e:  # noqa: BLE001
            op.error = f"{type(e).__name__}: {str(e)[:400]}"
            print(f"# op {op.id} {kind} FAILED:\n{traceback.format_exc()}",
                  file=sys.stderr)
        finally:
            op.end = time.perf_counter()
            self._set_group(None)
            self._op = None

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        """A call into ``layer``'s public function ``fn``."""
        if not self.traced:
            yield None
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        group = f"pb-span-{sid}"
        rec = {
            "id": sid, "layer": layer, "fn": fn,
            "parent": self._span_ids[-1] if self._span_ids else None,
            "op": self._op.id if self._op else None, "group": group,
            "start": 0.0, "end": None, "counts": {},
        }
        self.spans.append(rec)
        self._span_ids.append(sid)
        self._set_group(group)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            self._span_ids.pop()
            self._set_group(
                self.spans[self._span_ids[-1]]["group"] if self._span_ids
                else self._op.group if self._op else None)
            self.bookkeeping_s += time.perf_counter() - b1

    # -- Spark job accounting ------------------------------------- #

    def _drain(self, timeout: float = 5.0) -> None:
        """The status store is fed by the asynchronous listener bus;
        wait until no job is active and the job count stops moving."""
        st = self.sc.statusTracker()
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            n = (len(st.getActiveJobsIds()), len(st.getActiveStageIds()))
            seen = len(st.getJobIdsForGroup(None) or [])
            if n == (0, 0) and seen == last:
                return
            last = seen
            time.sleep(0.2)

    def _group_counts(self, group: str) -> tuple[int, int, list[int]]:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group) or [])
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
        return len(jobs), tasks, jobs

    def collect_counts(self) -> None:
        """Fill ``jobs``/``tasks`` of every op (its own group plus its
        spans' groups) and of every span. Untimed; runs once at the end."""
        self._drain()
        for s in self.spans:
            s["jobs"], s["tasks"], s["job_ids"] = self._group_counts(s["group"])
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)
        for op in self.ops:
            j, t, _ = self._group_counts(op.group)
            for s in by_op.get(op.id, []):
                j += s["jobs"]
                t += s["tasks"]
            op.jobs, op.tasks = j, t

    # -- reporting ------------------------------------------------- #

    def layer_self_times(self) -> tuple[dict[str, float], float, float]:
        """Per-layer self time over timed ops: a span's duration minus
        the part its child spans cover. Returns (self seconds per
        layer, unattributed seconds, op wall seconds); the layers'
        self times plus the unattributed rest add up to op wall time."""
        timed_ops = {op.id: op for op in self.ops if op.timed}
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        covered = 0.0
        for s in self.spans:
            if s["op"] not in timed_ops or s["end"] is None:
                continue
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            out[s["layer"]] += (s["end"] - s["start"]) - union_length(kids)
        for op in timed_ops.values():
            tops = [(s["start"], s["end"]) for s in self.spans
                    if s["op"] == op.id and s["parent"] is None
                    and s["end"] is not None]
            covered += union_length(tops)
        wall = sum(op.seconds for op in timed_ops.values())
        return out, wall - covered, wall

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"kind": "run", **extra}) + "\n")
            for op in self.ops:
                fh.write(json.dumps({
                    "kind": "op", "id": op.id, "op_kind": op.kind,
                    "start": op.start, "end": op.end, "ok": op.ok,
                    "error": op.error, "timed": op.timed, "jobs": op.jobs,
                    "tasks": op.tasks, "info": op.info,
                }) + "\n")
            for s in self.spans:
                fh.write(json.dumps({"kind": "span", **{
                    k: v for k, v in s.items() if k != "job_ids"}}) + "\n")


# ----------------------------------------------------------------- #
# event log (traced runs only)                                       #
# ----------------------------------------------------------------- #


def parse_event_log(ev_dir: str) -> dict:
    """Per job group: executor run ms, executor CPU ms, shuffle bytes
    (read + written) and job intervals (epoch ms), from the plain-JSON
    event log Spark writes with compression and rolling off."""
    files = [f for f in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "run_ms": 0, "cpu_ms": 0.0, "shuffle_bytes": 0, "jobs": [],
        })

    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        jid = ev["Job ID"]
                        job_group[jid] = grp
                        job_start[jid] = ev.get("Submission Time", 0)
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = grp
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["jobs"].append(
                            (job_start[jid], ev.get("Completion Time", 0))
                        )
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if grp is None or not m:
                        continue
                    rec = g(grp)
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
    return groups
