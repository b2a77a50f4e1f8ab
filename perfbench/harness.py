"""Session lifecycle, memory and CPU sampling, span tracing and Spark-side
counters.

Everything here observes the program from outside: sessions come from
``engine.spark.job.build_session``, execution counters from Spark's
in-process status store, planning time from a ``QueryExecutionListener``
and micro-batch timings from a ``StreamingQueryListener``. No program code
is patched.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
#: all scratch of a run (inputs, Spark local dirs, temp files, outputs)
#: lives under here, inside the checkout, and is removed when the run ends
WORK = ROOT / ".perfbench_work"


def prepare_environment(work: Path) -> None:
    """Point every temp and local dir of this process, the JVM it launches
    and the Python workers at ``work``, and keep bytecode caches out of the
    source tree. Must run before the first session is launched."""
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "pyspark-shell"])


def clean(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def host_facts(session: Session) -> dict:
    """Facts that make a result comparable: cores, memory and versions."""
    import pyarrow
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    system = session.sc._jvm.System
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": f"{system.getProperty('java.vendor')} "
                    f"{system.getProperty('java.version')}",
            "spark_master": session.sc.master}


# --------------------------------------------------------------- sessions

class Session:
    """One Spark session on a fresh JVM, stopped by ``close``.

    ``setup_s`` is the time from launching the JVM until the session is up
    and one Python worker per core has run the extraction kernel over
    ``warm_rows`` (transcript rows of every payload kind)."""

    def __init__(self, cores: int, warm_rows: list[dict]):
        from engine.spark.job import build_session
        from engine.spark.pipeline import extract_df
        from engine.spark.schema import TRANSCRIPT_SCHEMA
        t0 = time.perf_counter()
        self.cores = cores
        self.spark = build_session(master=f"local[{cores}]",
                                   app="perfbench",
                                   shuffle_partitions=2 * cores,
                                   driver_memory="3g")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_proc = self.sc._gateway.proc
        self.rss = RssSampler(self.jvm_proc.pid)
        try:
            warm = self.spark.createDataFrame(warm_rows, TRANSCRIPT_SCHEMA)
            extract_df(warm, salt_partitions=cores).count()
        except BaseException:
            self.close()
            raise
        self.setup_s = time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session, end the JVM (it exits when its stdin closes)
        and wait for it, so the next session starts a fresh JVM."""
        from pyspark import SparkContext
        self.rss.stop()
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.jvm_proc.stdin:
            self.jvm_proc.stdin.close()
        try:
            self.jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm_proc.kill()
            self.jvm_proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------- process tree: memory and CPU

def _tree_stat(root_pid: int) -> tuple[int, float]:
    """Resident KiB and CPU seconds (own and reaped children's) of
    ``root_pid`` and all its descendants (the JVM, the PySpark daemon and
    its forked workers), read from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... rss(24th)
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        # utime stime cutime cstime (14th-17th fields), in clock ticks
        cpu[pid] = sum(int(f) for f in fields[11:15])
    rss_kb, ticks, todo = 0, 0, [root_pid]
    while todo:
        pid = todo.pop()
        rss_kb += rss.get(pid, 0)
        ticks += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return rss_kb, ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and its descendants."""
    return _tree_stat(root_pid)[1]


class RssSampler:
    """Samples the process tree's resident memory every ``period`` s in a
    daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period, self.peak_kb = pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_stat(self.pid)[0])
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans: name, layer, start, end, parent and the run id the
    spans of one workload run share. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled, self.run_id = enabled, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span durations minus the time their children cover
        (children run sequentially inside their parent)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                        + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: Path) -> None:
        import json
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans) + "\n")


# -------------------------------------------------- Spark-side counters

EXEC_KEYS = ("stages", "tasks", "task_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "gc_s", "task_p50_ms",
             "task_max_ms", "wall_s")


class SparkCounters:
    """Execution and planning counters of the actions run inside
    ``observe`` blocks of one session. Stages are found through the job
    group set around each block; planning time comes from a
    ``QueryExecutionListener`` registered until ``stop``. They add up in
    ``totals``."""

    def __init__(self, session: Session, totals: dict):
        from pyspark.java_gateway import ensure_callback_server_started
        self.session = session
        self.totals = totals
        sc = session.sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._gateway = sc._gateway
        self._groups: set[str] = set()
        plan_ms = totals.setdefault("plan_ms", [])
        for k in EXEC_KEYS:
            totals.setdefault(k, 0)

        class _PlanListener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases()
                it, ms = phases.iterator(), 0
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                plan_ms.append(float(ms))

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util."
                              "QueryExecutionListener"]

        ensure_callback_server_started(self._gateway)
        self._plan_listener = _PlanListener()
        self._manager = session.spark._jsparkSession.listenerManager()
        self._manager.register(self._plan_listener)

    @contextmanager
    def observe(self, group: str):
        self._groups.add(group)
        self.session.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.totals["wall_s"] += time.perf_counter() - t0
            self.session.sc.setLocalProperty("spark.jobGroup.id", None)

    def stop(self) -> None:
        """Fold the stages of every observed job into ``totals`` (after the
        listener bus drains, so the status store is complete) and stop
        listening."""
        self._bus.waitUntilEmpty(60_000)
        self._manager.unregister(self._plan_listener)
        tracker = self.session.sc.statusTracker()
        quantiles = self._gateway.new_array(self._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = set()
        for group in self._groups:
            for job in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job)
                stages.update(info.stageIds if info else [])
        for sid in sorted(stages):
            self._fold_stage(sid, quantiles)

    def _fold_stage(self, sid: int, quantiles) -> None:
        from py4j.protocol import Py4JJavaError
        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            return
        if sd.status().toString() != "COMPLETE":
            return  # skipped: its output was reused, nothing ran
        e = self.totals
        e["stages"] += 1
        e["tasks"] += sd.numTasks()
        e["task_s"] += sd.executorRunTime() / 1000
        e["gc_s"] += sd.jvmGcTime() / 1000
        e["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        e["shuffle_read_bytes"] += sd.shuffleReadBytes()
        e["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.numTasks() > 1:
            summary = self._store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                e["task_p50_ms"] += run.apply(0)
                e["task_max_ms"] += run.apply(1)


def counter_metrics(totals: dict, cores: int) -> dict[str, float]:
    """The exec.* and plan.* per-layer metrics of the observed actions."""
    e, plan_ms = totals, totals["plan_ms"]
    return {
        "exec.stages": e["stages"], "exec.tasks": e["tasks"],
        "exec.task_s": e["task_s"],
        "exec.busy_share": e["task_s"] / (cores * e["wall_s"]),
        "exec.shuffle_write_bytes": e["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": e["shuffle_read_bytes"],
        "exec.spill_bytes": e["spill_bytes"], "exec.gc_s": e["gc_s"],
        # slowest task over median task, summed over multi-task stages
        "exec.straggler_ratio": (e["task_max_ms"] / e["task_p50_ms"]
                                 if e["task_p50_ms"] else 1.0),
        "plan.actions": len(plan_ms),
        "plan.ms_per_action": statistics.fmean(plan_ms),
    }


class StreamTimings:
    """Micro-batch durations of every streaming query the session runs
    while registered, from a ``StreamingQueryListener``."""

    def __init__(self, session: Session):
        from pyspark.sql.streaming import StreamingQueryListener
        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = session.spark
        self._listener = _Listener()
        self._spark.streams.addListener(self._listener)

    def stop(self) -> dict[str, float]:
        """Unregister; the streaming.* per-layer metrics (none when no
        micro-batch ran)."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
            60_000)
        self._spark.streams.removeListener(self._listener)
        if not self.batches:
            return {}

        def p50(key):
            return float(statistics.median(
                b[key] for b in self.batches if key in b))

        return {"streaming.batches": len(self.batches),
                "streaming.batch_ms_p50": p50("triggerExecution"),
                "streaming.add_batch_ms": p50("addBatch"),
                "streaming.wal_commit_ms": p50("walCommit")}


def identity_batches(batches):
    """mapInPandas body that returns its input (the boundary without the
    kernel)."""
    yield from batches
