"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, spans, call-timing wrappers, storage and RSS probes,
and the Spark event-log parser that joins task metrics to spans.

Everything here observes the program from outside: it times public
calls, shadows public methods on the objects the benchmark itself
injects, and reads Spark's own event log. No program code is edited.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import shutil
import statistics
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = float(1 << 20)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / MB


class Bench:
    """One benchmark process: owns the state directory inside the
    checkout, the Spark session (``local[nproc]``), the span log and the
    per-call counters."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.state = os.path.join(ROOT, ".perfbench_state", f"run-{os.getpid()}")
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(os.path.join(self.state, "tmp"))
        self.spans: list[dict] = []
        self.calls: dict[str, list[float]] = collections.defaultdict(list)
        self.run_id = f"{workload}:{seed}:{os.getpid()}"
        self.trace_self_s = 0.0  # time the tracing itself spent inside timed calls
        self._stack: list[int] = []
        self.spark = None
        self.eventlog_dir = None

    # -- session -----------------------------------------------------------

    def start_spark(self, eventlog: bool = False):
        """Build the session through the program's own factory, sized to
        the machine it runs on: every core, a driver heap far below its
        memory, all scratch (spill, python temp files) in the state dir."""
        tmp = os.path.join(self.state, "tmp")
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # the env var wins over spark.local.dir; keep both in the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.state, "spark-local")
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        from pholcus_spark.session import build_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.state, "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            self.eventlog_dir = os.path.join(self.state, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            # one plain JSON-lines file, readable while the app runs
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = "file://" + self.eventlog_dir
        self.spark = build_spark(
            f"perfbench-{self.workload}",
            parallelism=self.cores,
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_python_workers(self):
        """Start the python worker pool once (an Arrow stage per core),
        so the first timed python stage does not pay worker spawn."""
        import pandas as pd

        def ident(batches):
            for pdf in batches:
                yield pd.DataFrame({"id": pdf["id"] * 2})

        n = self.cores
        self.spark.range(0, n * 64, 1, n).mapInPandas(ident, "id long").count()

    def shutdown(self):
        """Stop Spark, end the JVM and wait for it, drop the state dir."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except (OSError, Py4JError):
                pass  # the JVM may already be gone; waiting below settles it
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.state, ignore_errors=True)

    # -- spans -------------------------------------------------------------

    def span(self, name: str, group: str | None = None):
        """Context manager recording (name, start, end, parent, run id).
        In a traced run it also tags the Spark job group
        ``<workload>:<group or name>`` for the calling thread; the time
        that tagging takes is added to ``trace_self_s``."""
        bench = self

        class _Span:
            def __enter__(self):
                t0 = time.perf_counter()
                self.rec = {
                    "name": name,
                    "start": time.time(),
                    "end": None,
                    "parent": bench._stack[-1] if bench._stack else None,
                    "run": bench.run_id,
                    "group": f"{bench.workload}:{group or name}",
                }
                bench.spans.append(self.rec)
                bench._stack.append(len(bench.spans) - 1)
                if bench.trace:
                    bench.spark.sparkContext.setJobGroup(self.rec["group"], name)
                bench.trace_self_s += time.perf_counter() - t0
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                t0 = time.perf_counter()
                bench._stack.pop()
                if bench.trace:
                    sc = bench.spark.sparkContext
                    if bench._stack:
                        parent = bench.spans[bench._stack[-1]]
                        sc.setJobGroup(parent["group"], parent["name"])
                    else:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                bench.trace_self_s += time.perf_counter() - t0
                return False

        return _Span()

    def instrument(self, obj, layer: str, methods: tuple[str, ...]):
        """Shadow ``methods`` on this one instance with timing wrappers
        (class methods stay untouched, ``isinstance`` still holds).
        Each call appends its wall time to ``calls['<layer>.<method>']``.
        Returned DataFrames are lazy, so this is the driver-side cost of
        the call; the Spark work it plans is attributed through the job
        group of the enclosing engine span."""
        for m in methods:
            fn = getattr(obj, m)

            def wrapped(*a, _fn=fn, _key=f"{layer}.{m}", **kw):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **kw)
                finally:
                    self.calls[_key].append(time.perf_counter() - t0)

            setattr(obj, m, wrapped)
        return obj

    def write_spans(self) -> str:
        """Write the span log next to the per-run state dirs (it outlives
        the run; one file per workload and seed)."""
        path = os.path.join(
            os.path.dirname(self.state), f"spans-{self.workload}-seed{self.seed}.json"
        )
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path

    # -- probes ------------------------------------------------------------

    def storage_mb(self, exclude: set[int] = frozenset()) -> float:
        """Spark block storage (memory + disk) of every cached RDD,
        including localCheckpoint blocks, minus ``exclude`` RDD ids."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(
            (i.memSize() + i.diskSize()) for i in infos if i.id() not in exclude
        ) / MB

    def sample_storage(self, exclude: set[int]) -> float:
        """``storage_mb`` taken inside a timed operation (traced runs);
        its cost is tracing overhead."""
        t0 = time.perf_counter()
        try:
            return self.storage_mb(exclude)
        finally:
            self.trace_self_s += time.perf_counter() - t0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and every
        process under the JVM (python workers), from /proc. Time the
        hypervisor steals from a busy guest is not in it."""
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tick = os.sysconf("SC_CLK_TCK")
        parent, used = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            # utime stime cutime cstime
            used[int(pid)] = sum(int(x) for x in fields[11:15]) / tick
        total = 0.0
        for pid in used:
            p = pid
            while p > 1 and p != jvm:
                p = parent.get(p, 0)
            if p == jvm:
                total += used[pid]
        t = os.times()
        return total + t.user + t.system

    def cached_rdd_ids(self) -> set[int]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# Stage RDD scopes that run python workers (Arrow/pandas or pickled
# row UDFs); everything else is a pure JVM stage.
_PY_SCOPES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "PythonRDD",
    "AggregateInPandas", "WindowInPandas",
)


def read_eventlog(eventlog_dir: str) -> dict:
    """Parse the single application log in ``eventlog_dir`` into jobs,
    stages and tasks (times in seconds since the epoch)."""
    files = [p for p in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(p)]
    if not files:
        raise RuntimeError(f"no Spark event log under {eventlog_dir}")
    jobs, stages = {}, {}
    stage_job = {}
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                scopes = " ".join(
                    (r.get("Scope") or "") + " " + (r.get("Name") or "")
                    for r in info.get("RDD Info", [])
                )
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "submit": (info.get("Submission Time") or 0) / 1000.0,
                    "python": any(s in scopes for s in _PY_SCOPES),
                    "job": stage_job.get(info["Stage ID"]),
                    "tasks": [],
                }
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                st = stages.get(key)
                if st is None:
                    continue
                ti = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                st["tasks"].append(
                    {
                        "launch": ti["Launch Time"] / 1000.0,
                        "finish": ti["Finish Time"] / 1000.0,
                        "run_s": (tm.get("Executor Run Time") or 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0) or 0,
                        "spill": (tm.get("Memory Bytes Spilled", 0) or 0)
                        + (tm.get("Disk Bytes Spilled", 0) or 0),
                    }
                )
    return {"jobs": jobs, "stages": stages}


def _union_len(intervals, lo, hi) -> float:
    """Length of the part of [lo, hi] covered by ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_work(log: dict, groups: set[str], lo: float, hi: float) -> dict:
    """Sum the Spark work of every job tagged with one of ``groups``;
    also every untagged job submitted inside [lo, hi] (jobs the program
    submits from its own worker threads do not inherit the job group).
    ``driver_only_s`` is the part of [lo, hi] with no task running."""
    jids = set()
    for jid, j in log["jobs"].items():
        if j["group"] in groups:
            jids.add(jid)
        elif j["group"] is None and lo <= j["submit"] <= hi:
            jids.add(jid)
    out = collections.Counter()
    intervals = []
    for st in log["stages"].values():
        if st["job"] not in jids:
            continue
        out["stages"] += 1
        for t in st["tasks"]:
            out["tasks"] += 1
            out["task_wait_s"] += max(0.0, t["launch"] - st["submit"])
            kind = "python" if st["python"] else "jvm"
            out[f"{kind}_tasks"] += 1
            out[f"{kind}_task_s"] += t["run_s"]
            out["shuffle_write_mb"] += t["shuffle_write"] / MB
            out["spill_mb"] += t["spill"] / MB
            intervals.append((t["launch"], t["finish"]))
    out["jobs"] = len(jids)
    out["driver_only_s"] = (hi - lo) - _union_len(intervals, lo, hi)
    return dict(out)
