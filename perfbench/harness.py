"""Shared plumbing: the checkout layout, the Spark launch environment,
Spark-side statistics read from public APIs, box stamps and the result
line."""

from __future__ import annotations

import glob
import json
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: kept outputs (span dumps) and per-run scratch, both inside the checkout
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
#: JVM heap per Spark process; the box is shared, the inputs are small
JVM_HEAP = "3g"


def require_program() -> None:
    """Exit non-zero unless the program under test sits beside us."""
    missing = [p for p in ("rayforce_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}",
              file=sys.stderr)
        sys.exit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(workdir: str, *, event_log: bool) -> dict:
    """Environment for a process that starts Spark: every temp and local
    dir inside ``workdir``, no console progress bars, and — for the
    traced run only — a local ``file:`` event log."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        elog = os.path.join(workdir, "eventlog")
        os.makedirs(elog, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file:{elog}",
                      "spark.eventLog.compress": "false"})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    return {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited. PySpark's JVM ends
    only when its stdin closes, which otherwise happens as this process
    exits, so the JVM would outlive the run by a moment."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# every process a run starts ends with it
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    descendant whose parent dies (Spark's Python workers, a server's JVM)
    becomes our child instead of init's, so :func:`end_children` finds
    it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno "
            f"{ctypes.get_errno()}")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def end_children(grace_s: float = 30.0) -> None:
    """Stop every child still running (SIGTERM, then SIGKILL after
    ``grace_s``) and reap each, so none outlives the run."""
    deadline = time.monotonic() + grace_s
    sent = {}
    while True:
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in kids:
            if sent.get(pid) != sig:
                log(f"stopping leftover process {pid} with {sig.name}")
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid) -> float:
    """VmHWM of ``pid`` (or "self") in MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host_stamp() -> dict:
    """The box as a run starts. Metadata only: no metric is normalized
    by any of it."""
    mem_free = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_free = int(line.split()[1]) // 1024
    return {"nproc": cpus(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_1m_at_start": os.getloadavg()[0],
            "mem_available_mb_at_start": mem_free}


def spark_stamp(spark) -> dict:
    """The engine the run measured (metadata only)."""
    jvm = spark.sparkContext._jvm
    return {"spark_master": spark.sparkContext.master,
            "spark_version": spark.version,
            "java_version": jvm.java.lang.System.getProperty("java.version")}


# ---------------------------------------------------------------------------
# Catalyst phases: a QueryExecutionListener on the public listener manager
# ---------------------------------------------------------------------------

class CatalystPhases:
    """Collects ``qe.tracker().phases()`` of every finished query.

    Listener calls arrive asynchronously on Spark's listener bus; call
    :meth:`drain` (outside any timed region) before reading ``seen``.
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.seen: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases, spans = {}, []
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
            spans.append((kv._2().startTimeMs(), kv._2().endTimeMs()))
        self.seen.append({"func": func_name, "phases": phases,
                          "spans_ms": spans, "duration_ms": duration_ns / 1e6})

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.seen.append({"func": func_name, "phases": {}, "spans_ms": [],
                          "failed": True})

    def drain(self) -> None:
        self.spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ---------------------------------------------------------------------------
# Task statistics from the local event log (traced run only)
# ---------------------------------------------------------------------------

TASK_FIELDS = ("tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def read_event_log(elog_dir: str) -> dict:
    """{"jobs": {job_id: {"group", "sql", "submit_ms", "end_ms", "stages"}},
    "stage_tasks": {stage_id: {field: sum}}, "sql": {execution id:
    [start ms, end ms]}} from every event log file in ``elog_dir``. Job
    groups are the ones the benchmark set; ``sql`` is the SQL execution
    a job ran for."""
    jobs, stages, sql = {}, {}, {}
    # Spark 4 writes each application's log as a directory of rolled
    # ``events_*`` files (plus an empty ``appstatus`` marker)
    paths = [p for p in glob.glob(os.path.join(elog_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 "appstatus")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "sql": props.get("spark.sql.execution.id"),
                        "submit_ms": ev.get("Submission Time"),
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind.endswith(".SparkListenerSQLExecutionStart"):
                    sql[str(ev["executionId"])] = [ev["time"], None]
                elif kind.endswith(".SparkListenerSQLExecutionEnd"):
                    sql.setdefault(str(ev["executionId"]), [None, None])[1] = (
                        ev["time"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc = stages.setdefault(
                        ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                    acc["tasks"] += 1
                    acc["task_run_ms"] += m.get("Executor Run Time", 0)
                    acc["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    acc["shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stage_tasks": stages, "sql": sql}


def job_stats(elog: dict, job_ids) -> dict:
    """Summed task statistics, job and stage counts over ``job_ids``
    (a stage shared by two jobs is counted once; skipped stages ran no
    task and count as none)."""
    out = dict.fromkeys(TASK_FIELDS, 0)
    seen = set()
    n_jobs = 0
    for j in job_ids:
        n_jobs += 1
        for s in elog["jobs"][j]["stages"]:
            if s in seen or s not in elog["stage_tasks"]:
                continue
            seen.add(s)
            for k, v in elog["stage_tasks"][s].items():
                out[k] += v
    out["jobs"] = n_jobs
    out["stages"] = len(seen)
    return out


def jobs_in_group(elog: dict, group: str, nested: bool = False) -> list:
    """Jobs of job group ``group``; with ``nested``, also of the groups
    named ``<group>.<more>``."""
    return [j for j, info in elog["jobs"].items()
            if info["group"] == group
            or nested and (info["group"] or "").startswith(group + ".")]


def job_spans_ms(elog: dict, job_ids) -> list:
    """(submission, completion) epoch-ms interval of each of ``job_ids``."""
    return [(elog["jobs"][j]["submit_ms"], elog["jobs"][j]["end_ms"])
            for j in job_ids if elog["jobs"][j].get("end_ms") is not None]


def sql_spans_ms(elog: dict, job_ids) -> list:
    """(start, end) epoch-ms interval of each SQL execution that
    ``job_ids`` ran for. An execution also holds the engine's work before
    its first job and after its last (code generation, re-planning
    between adaptive stages, the write commit)."""
    execs = {elog["jobs"][j]["sql"] for j in job_ids} - {None}
    spans = [elog["sql"].get(e, (None, None)) for e in execs]
    return [(a, b) for a, b in spans if a is not None and b is not None]


def union_ms(spans) -> float:
    """Length of the union of (start, end) intervals."""
    total, reach = 0.0, None
    for t0, t1 in sorted(spans):
        if reach is None or t0 > reach:
            total += t1 - t0
            reach = t1
        elif t1 > reach:
            total += t1 - reach
            reach = t1
    return total


# ---------------------------------------------------------------------------
# statistics and the result line
# ---------------------------------------------------------------------------

def pct(values, q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_metrics(lat_s: list[float], wall_s: float, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(lat_s) * 1000, "unit": "ms"},
        "op_p90_ms": {"value": pct(lat_s, 0.9) * 1000, "unit": "ms"},
        "ops_per_s": {"value": len(lat_s) / wall_s, "unit": "1/s"},
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)
