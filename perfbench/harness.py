"""Measurement plumbing shared by the workloads: spans, RSS sampling,
host fingerprint, Spark session lifecycle and event-log metrics.

Nothing here imports pyspark at module load, so ``run.py`` can refuse
to run (and exit non-zero) before touching Spark when the program is
missing from the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import subprocess
import threading
import time
from collections import defaultdict

CORES = 4  # local[4]: the host this baseline belongs to has nproc = 4


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls
    into the program's public functions.  Disabled tracers record
    nothing; ``span`` is then a bare context manager."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def top_level_coverage(self, t0: float, t1: float) -> float:
        top = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        return top / (t1 - t0)


# --- memory ----------------------------------------------------------------


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_memory_kb(root_pid: int) -> dict[str, int]:
    """RSS summed over a process tree: the JVM, and the Python processes
    (driver and Spark's Python workers).  A child the JVM has forked but
    not yet exec'd still maps the JVM's memory; it is neither."""
    tot = {"jvm_rss": 0, "py_rss": 0}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for pid in _descendants(root_pid):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page_kb
        except (OSError, ValueError, IndexError):
            continue
        if exe.startswith("python"):
            tot["py_rss"] += rss
        elif comm == "java":
            tot["jvm_rss"] += rss
    return tot


class RssSampler:
    """Peak memory of this process and all its descendants (JVM, Python
    workers), sampled from /proc every ``interval`` seconds while a
    ``measuring()`` block is open (the checks run outside one)."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb: dict[str, int] = {"jvm_rss": 0, "py_rss": 0}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for k, v in tree_memory_kb(os.getpid()).items():
            self.peak_kb[k] = max(self.peak_kb[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def measuring(self):
        self._active.set()
        try:
            yield
        finally:
            self._sample()
            self._active.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- host fingerprint ------------------------------------------------------


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def file_create_probe(work_dir: str, n: int = 100, batches: int = 5) -> float:
    """Microseconds to create, write and close one small file (the cost
    the shuffle writer pays per spill file): the lowest of ``batches``
    batch medians, which filters out moments of contention."""
    d = os.path.join(work_dir, "fcprobe")
    os.makedirs(d, exist_ok=True)
    meds = []
    for _ in range(batches):
        samples = []
        for i in range(n):
            t = time.perf_counter()
            with open(os.path.join(d, f"f{i}"), "wb") as f:
                f.write(b"x" * 64)
            samples.append(time.perf_counter() - t)
        for i in range(n):
            os.unlink(os.path.join(d, f"f{i}"))
        meds.append(statistics.median(samples))
    os.rmdir(d)
    return min(meds) * 1e6


def cpu_probe(rounds: int = 5, n: int = 500_000) -> float:
    """Milliseconds one core takes for a fixed pure-Python loop, median
    of ``rounds``: the host's speed at the time of the run.  Other
    tenants slow this host's cores by 1.5x and more for minutes at a
    time, and every timing of a run moves with them."""
    samples = []
    for _ in range(rounds):
        t = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        samples.append(time.perf_counter() - t)
    return statistics.median(samples) * 1e3


FINGERPRINT_KEYS = ("nproc", "cpu_model", "python", "pyspark", "pyarrow", "pandas")


def fingerprint(work_dir: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "file_create_us": round(file_create_probe(work_dir), 2),
        "cpu_probe_ms": round(cpu_probe(), 2),
    }


def comparable(a: dict, b: dict) -> list[str]:
    """Reasons two fingerprints may not be compared (empty = comparable):
    any difference in core count, CPU model or library versions.  The
    file-create and CPU probes are measurements that drift several-fold
    on one host (filesystem churn, other tenants), so they are reported,
    not compared."""
    return [f"{k}: {a.get(k)!r} != {b.get(k)!r}"
            for k in FINGERPRINT_KEYS if a.get(k) != b.get(k)]


# --- statistics ------------------------------------------------------------


def summarize(samples: list[float]) -> dict:
    """Sample count, median and quartiles, plus the highest percentile
    that has at least ten samples beyond it (only from 11 samples on)."""
    s = sorted(samples)
    med = statistics.median(s)
    out = {"n": len(s), "median": med, "min": s[0], "max": s[-1]}
    if len(s) >= 2:
        q1, _, q3 = statistics.quantiles(s, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    if len(s) >= 11:
        out["pct"] = round(100.0 * (len(s) - 10) / len(s), 1)
        out["pct_value"] = s[len(s) - 11]
    return out


# --- Spark session ---------------------------------------------------------


def session_conf(work_dir: str, traced: bool) -> dict[str, str]:
    """Settings the benchmark adds to the program's own session: keep
    every file inside the checkout, no console progress bar, and (traced
    runs only) the event log.  The UDF profiler is switched per warm
    unit (``Run.warm_loop``)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if traced:
        ev = os.path.join(work_dir, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work_dir: str, traced: bool, cores: int = CORES):
    from ocr_document_recognition_service_spark.pydeps import ensure_py_deps
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(
        app_name="perfbench", cores=cores, extra=session_conf(work_dir, traced)
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_deps(spark)
    return spark


def stop_jvm(spark) -> None:
    """Stop the SparkContext, then the JVM gateway process, and wait
    until the JVM and the Python workers it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers outlive the JVM by a moment
    deadline = time.time() + 10
    for pid in started:
        while _running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie awaiting
    its reaper has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def phase(spark, name: str) -> None:
    """Tag the Spark jobs that follow with a phase name (event log and
    StatusTracker group them by it)."""
    spark.sparkContext.setJobGroup(name, name)


def failed_tasks(spark, groups: list[str]) -> int:
    """Failed task attempts in the given job groups (StatusTracker;
    available with tracing off)."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else ()):
                info = st.getStageInfo(sid)
                if info is not None:
                    n += info.numFailedTasks
    return n


# --- event log ---------------------------------------------------------------


_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(node: dict, into: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        into[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, into)


class EventLog:
    """Per-phase aggregates parsed from Spark's JSON event log: stage,
    task and shuffle totals, task durations, and SQL metrics summed by
    (plan node, metric name)."""

    def __init__(self, events_dir: str) -> None:
        self.phases: dict[str, dict] = defaultdict(lambda: {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "task_s": [], "sql": defaultdict(float),
            "sql_ids": defaultdict(set),
        })
        paths = sorted(
            os.path.join(d, fn)
            for d, _dirs, files in os.walk(events_dir)
            for fn in files
            if not fn.startswith("appstatus")  # rolling-log status marker
        )
        for path in paths:  # one file per SparkContext
            self._read(path)

    def _read(self, path: str) -> None:
        acc_meta: dict[int, tuple[str, str, str]] = {}
        stage_phase: dict[int, str] = {}
        exec_phase: dict[int, str] = {}
        driver_updates: list[dict] = []
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # unflushed last line
                    continue
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev["sparkPlanInfo"], acc_meta)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    name = props.get("spark.jobGroup.id") or "-"
                    self.phases[name]["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_phase[int(props["spark.sql.execution.id"])] = name
                    for sid in ev.get("Stage IDs", ()):
                        stage_phase[sid] = name
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, stage_phase, acc_meta)
                elif kind.endswith("DriverAccumUpdates"):
                    # driver-side metrics (e.g. the files a scan
                    # lists) arrive before the execution's first job
                    driver_updates.append(ev)
        for ev in driver_updates:
            p = self.phases[exec_phase.get(ev["executionId"], "-")]
            for acc_id, value in ev["accumUpdates"]:
                self._sql(p, acc_meta.get(acc_id), acc_id, value)

    def _task(self, ev: dict, stage_phase: dict, acc_meta: dict) -> None:
        p = self.phases[stage_phase.get(ev["Stage ID"], "-")]
        info = ev["Task Info"]
        p["stages"].add(ev["Stage ID"])
        p["tasks"] += 1
        if info.get("Failed"):
            p["failed_tasks"] += 1
        p["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        m = ev.get("Task Metrics") or {}
        p["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        p["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        p["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        p["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", ()):
            if "Update" in acc:
                self._sql(p, acc_meta.get(acc.get("ID")), acc.get("ID"), acc["Update"])

    @staticmethod
    def _sql(p: dict, meta, acc_id, value) -> None:
        if meta is None:
            return
        node, name, mtype = meta
        try:
            v = float(value)
        except (TypeError, ValueError):
            return
        p["sql"][(node, name)] += v * _METRIC_SCALE.get(mtype, 1.0)
        p["sql_ids"][(node, name)].add(acc_id)

    def get(self, *names: str) -> dict:
        """Merged aggregates of the named phases."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "task_s": [], "sql": defaultdict(float),
            "sql_ids": defaultdict(set),
        }
        for n in names:
            p = self.phases.get(n)
            if p is None:
                continue
            for k in ("jobs", "tasks", "failed_tasks", "executor_run_s",
                      "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                out[k] += p[k]
            out["stages"] += len(p["stages"])
            out["task_s"].extend(p["task_s"])
            for k, v in p["sql"].items():
                out["sql"][k] += v
            for k, v in p["sql_ids"].items():
                out["sql_ids"][k] |= v
        return out

    @staticmethod
    def sql_sum(agg: dict, metric: str, node_prefix: str = "") -> float:
        return sum(v for (node, name), v in agg["sql"].items()
                   if name == metric and node.startswith(node_prefix))

    @staticmethod
    def sql_nodes(agg: dict, metric: str, node_prefix: str = "") -> int:
        """Number of executed plan nodes that reported ``metric``."""
        return sum(len(ids) for (node, name), ids in agg["sql_ids"].items()
                   if name == metric and node.startswith(node_prefix))
