"""Shared machinery for the steady-state benchmark: session start-up,
the cold / warm-up / timed pass loop, the end-to-end metric maths,
process-tree memory, host comparability guards and the per-layer
tracer used by ``--trace 1`` runs.

Everything here observes the engine from its public surfaces (py4j
handles on the JVM, ``SparkContext.statusTracker()``, ``/proc``); no
code inside ``openoa_spark`` is instrumented.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time

# Env switches that select a different physical plan inside the
# library. Two runs with different values measure different programs,
# so a run refuses to start while any of them is set.
PLAN_SWITCHES = ("NDKB_SHAPE", "CHUNK_CKPT", "DOT_UNROLL", "KMEANS_MAT",
                 "SEMDEDUP_SALT")
PLAN_SWITCH_PREFIXES = ("LM_",)


def plan_switches_set() -> list[str]:
    return sorted(
        k for k in os.environ
        if k in PLAN_SWITCHES or k.startswith(PLAN_SWITCH_PREFIXES)
    )


# ---------------------------------------------------------------- host


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def _procs_running() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("procs_running"):
                return int(line.split()[1])
    return -1


class HostGuard:
    """Comparability record: steal share over the run, load average and
    runnable-process count at start and end. Recorded, never a metric."""

    def __init__(self):
        self.steal0, self.total0 = _cpu_jiffies()
        self.start = self._snapshot()

    @staticmethod
    def _snapshot() -> dict:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {"loadavg_1m": load1, "procs_running": _procs_running()}

    def report(self) -> dict:
        steal, total = _cpu_jiffies()
        dt = max(total - self.total0, 1)
        return {
            "steal_share": round((steal - self.steal0) / dt, 5),
            "start": self.start,
            "end": self._snapshot(),
        }


# ------------------------------------------------------------- process


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces; ppid is the 2nd field after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_parts_mib(jvm_pid: int) -> dict[str, float]:
    """VmHWM of the JVM and summed over the driver Python and every
    Python worker below either. ``getrusage(RUSAGE_CHILDREN)`` cannot
    see the JVM while it still runs, so each live process is read
    directly."""
    pids = set(process_tree(os.getpid())) | set(process_tree(jvm_pid))
    python = sum(vm_hwm_kib(p) for p in pids - {jvm_pid})
    return {"jvm": vm_hwm_kib(jvm_pid) / 1024.0, "python": python / 1024.0}


# ------------------------------------------------------------- session


def start_session(work: str):
    """One Spark session at ``local[nproc]`` with the library's own
    defaults. Scratch space (shuffle, spill, JVM and Python temp files,
    warehouse) is redirected into ``work`` so a run writes only inside
    its checkout."""
    from openoa_spark.session import get_session

    cpus = str(os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the library reads these two when it builds the session. The
    # driver heap is fixed at 1 GiB (initial = max): at the library's
    # 8 GiB default, G1 grows the heap by GC-time ergonomics and the
    # JVM's peak RSS spread 18% over five scada_stream seeds and read
    # 2291 vs 3841 MiB in two query_suite runs, beyond any usable
    # bound. Peak RSS therefore cannot see heap growth below 1 GiB;
    # heap use itself is the traced jvm.heap_peak_mib
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    return get_session(
        "openoa-spark-perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # PerfDisableSharedMem: no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(spark) -> int:
    jvm = spark.sparkContext._jvm
    return int(jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every process under it has
    exited."""
    from pyspark import SparkContext

    jpid = jvm_pid(spark)
    tree = set(process_tree(jpid))
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in tree:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path`` whose names
    end with ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# --------------------------------------------------------------- maths


def gmean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def op_gmean_ms(passes: list[dict[str, float]]) -> float:
    """Geometric mean over ops of each op's median across passes."""
    ops = passes[0].keys()
    return gmean(statistics.median(p[o] for p in passes) for o in ops)


def op_tail(passes: list[dict[str, float]]) -> tuple[float, int]:
    """The highest op sample that still has ten samples above it, and
    the sample count it was taken from."""
    samples = sorted(v for p in passes for v in p.values())
    return samples[max(len(samples) - 11, 0)], len(samples)


# ----------------------------------------------------------------- ops


class OpCounter:
    """Counts ops attempted and failed. An op is a callable returning
    ``(result, problems)``; it fails when it raises or when its output
    check reports a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            result, problems = fn()
        except Exception as e:  # noqa: BLE001 - counted, run continues
            result, problems = None, [f"{type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.errors.extend(f"{name}: {p}" for p in problems)
        return result


# -------------------------------------------------------------- tracer


class Tracer:
    """Per-layer measurement for ``--trace 1`` runs. Spans and counts
    stay in memory; the run prints them once at the end.

    ``enabled`` is toggled per pass so a traced run can interleave
    untraced and traced passes and report the tracing overhead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.enabled = False
        self.values: dict[str, float] = {}
        self._group = 0

    # -- spans
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, (time.perf_counter() - t0) * 1000.0)

    def add(self, name: str, v: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + v

    def add_exec(self, counts: dict) -> None:
        for k in ("ms", "jobs", "stages", "tasks", "failed_tasks"):
            self.add(f"exec.{k}", counts.get(k, 0))

    # -- spark jobs, one job group per op
    @contextlib.contextmanager
    def job_group(self, prefix: str):
        """Run the body in its own job group; yields a dict that holds
        the group's job/stage/task counts and summed job wall time once
        the body returns."""
        out: dict[str, float] = {}
        if not self.enabled:
            yield out
            return
        self._group += 1
        gid = f"perfbench-{prefix}-{self._group}"
        self.sc.setJobGroup(gid, prefix)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            out.update(self.group_counts(gid))

    def group_counts(self, gid: str) -> dict[str, float]:
        from py4j.protocol import Py4JError

        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        ms = 0.0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None:
                    continue
                stages += 1
                tasks += s.numTasks
                failed += s.numFailedTasks
            try:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    ms += done.get().getTime() - sub.get().getTime()
            except Py4JError:  # job already evicted from the status store
                pass
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed, "ms": ms}

    # -- JVM-wide counters, sampled before and after a traced pass
    def jvm_counters(self) -> dict[str, float]:
        jvm = self.jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        n = hist.getCount()
        mf = jvm.java.lang.management.ManagementFactory
        gc_ms = gc_n = 0
        for b in mf.getGarbageCollectorMXBeans():
            gc_ms += max(b.getCollectionTime(), 0)
            gc_n += max(b.getCollectionCount(), 0)
        return {
            "codegen.compiles": n,
            # the histogram keeps a decaying sample, so the summed time
            # is mean x count: exact count, approximate milliseconds
            "codegen.compile_ms": hist.getSnapshot().getMean() * n,
            "jvm.gc_ms": gc_ms,
            "jvm.gc_count": gc_n,
        }

    def reset_heap_peak(self) -> None:
        mf = self.jvm.java.lang.management.ManagementFactory
        for p in mf.getMemoryPoolMXBeans():
            if str(p.getType().name()) == "HEAP":
                p.resetPeakUsage()

    def heap_peak_mib(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if str(p.getType().name()) == "HEAP"
        ) / 2**20


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s own QueryExecution. Forces
    optimisation and planning, which the action re-runs for its own
    write command: tracing cost, visible in the reported overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)  # a scala.Option
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


# ----------------------------------------------------------- pass loop


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def median(xs) -> float:
    return statistics.median(list(xs))
