"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: it times calls into the
package's public functions, tags every operation with its own Spark job
group, and reads the Spark status store, JVM management beans and
listener events.  Nothing in the engine is patched.

An operation's counters are read by its own job group right after it
ends (``group_stats``), never as deltas of the ungrouped job list, which
loses jobs once ``spark.ui.retainedJobs`` rolls over.
"""

from __future__ import annotations

import gc
import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Driver heap: the session pins -Xms8g, so the ceiling cannot go lower
# than that; it stays well below the RAM of a 15 GB host.
DRIVER_MEM = "8g"
MAX_CPUS = 4


def prepare_env(tmp: Path) -> dict:
    """Point every scratch location of Python, Spark and the JVM into the
    run's temp dir and pin the engine's sizing knobs.  Must run before the
    JVM starts."""
    import tempfile

    cpus = min(os.cpu_count() or 1, MAX_CPUS)
    for sub in ("py", "spark-local", "jvm", "warehouse"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp / "py")
    tempfile.tempdir = str(tmp / "py")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp / 'jvm'} "
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'} -XX:-UsePerfData"
    )
    # Spark's Python workers (pandas UDF paths) import the package too
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus,
            "driver_mem": DRIVER_MEM}


class Session:
    """The engine's tuned session, opened and warmed the way a long-lived
    service opens it."""

    def __init__(self, warm_dir: str | None) -> None:
        from low_latency_time_series_database_tsdb_for_market_data_spark.session import (
            get_spark,
            warm_start,
        )

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.open_s = time.perf_counter() - t0
        self._proc = self.spark.sparkContext._gateway.proc
        self.pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        t0 = time.perf_counter()
        warm_start(self.spark, warm_dir)
        self.warm_start_s = time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session's JVM and wait for it to exit."""
        try:
            self.spark.stop()
        finally:
            self._proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()


# --- host load ------------------------------------------------------------
# bench.py's integer spin at half its length; its pinned solo reference
# (0.26 s for 2M iterations) halves with it
LOAD_SPIN_ITERS = 1_000_000
LOAD_SPIN_REF_SEC = 0.13


def load_factor() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for _i in range(LOAD_SPIN_ITERS):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return round(best / LOAD_SPIN_REF_SEC, 3)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ms(pid: int) -> float:
    """CPU time (user + system) of the driver JVM, all its threads, plus
    that of the calling Python thread, in ms.  The JVM's part moves in
    clock ticks (10 ms), so it is exact only summed over many operations.
    CPU time the hypervisor gave to other guests is not in it."""
    f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    return 1000.0 * ((int(f[11]) + int(f[12])) / _CLK_TCK + time.thread_time())


def cpu_jiffies() -> list[int]:
    """The host's aggregate CPU time counters (user .. steal)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(1, sum(d)), 3)


def spark_env(spark) -> dict:
    conf = spark.conf
    return {
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "spark_version": spark.version,
    }


# --- statistics -----------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def geomean(values: list[float]) -> float:
    import math

    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


# --- per-operation records -------------------------------------------------


@dataclass
class Op:
    """One timed operation.  ``wall_ms`` is what the caller saw and
    ``cpu_ms`` the CPU time it cost (``cpu_ms()``); the ``layers``
    counters are filled in traced runs only.  ``group`` is what
    ``op_metrics`` balances over: the kind unless set."""

    kind: str
    wall_ms: float
    cpu_ms: float = 0.0
    ok: bool = True
    construct_ms: float = 0.0
    plan_ms: float = 0.0
    exec_ms: float = 0.0
    group: str = ""
    layers: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.group = self.group or self.kind


LAYER_KEYS = (
    "construct_jobs", "exec_jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """Reads per-job-group counters out of the Spark status store.  With
    ``enabled=False`` every call is a no-op, so untraced runs pay only for
    setting the job group."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.read_s = 0.0  # time spent reading the status store and plans
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _stage_data(self, sid: int):
        st = self._store
        # Scala default arguments are not visible through py4j
        return st.stageData(sid, False, getattr(st, "stageData$default$3")(),
                            False, getattr(st, "stageData$default$5")())

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def group_stats(self, *names: str) -> dict:
        """Jobs, stages, tasks, shuffle and spill bytes of the given job
        groups, plus the wall time their jobs covered (ms, union of job
        spans)."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        self.drain()
        out = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_read_bytes",
                             "shuffle_write_bytes", "spill_bytes"), 0)
        spans = []
        tracker = self.sc.statusTracker()
        for jid in (j for name in names for j in tracker.getJobIdsForGroup(name)):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                attempts = self._stage_data(sids.apply(i))
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        covered, last = 0, None
        for a, b in sorted(spans):
            if last is None or a > last:
                covered += b - a
                last = b
            elif b > last:
                covered += b - last
                last = b
        out["job_ms"] = float(covered)
        self.read_s += time.perf_counter() - t0
        return out

    def plan_string(self, df) -> str:
        if not self.enabled:
            return ""
        t0 = time.perf_counter()
        s = df._jdf.queryExecution().executedPlan().toString()
        self.read_s += time.perf_counter() - t0
        return s


class PlanningListener:
    """QueryExecutionListener (via py4j callback) that records the Catalyst
    planning-phase time of every action, for operations that build and run
    their DataFrames internally (the CLI commands)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.events: list[float] = []
        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        spark._jsparkSession.listenerManager().register(self)

    def take(self) -> float:
        """Planning ms of every action since the last take()."""
        ev, self.events = self.events, []
        return sum(ev)

    def _record(self, qe) -> None:
        # analysis runs when the DataFrame is built; Catalyst planning is
        # the optimizer plus physical planning
        phases = qe.tracker().phases()
        total = 0.0
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("optimization", "planning"):
                total += kv._2().durationMs()
        self.events.append(float(total))

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exc):
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def streaming_listener(spark):
    """Attach a StreamingQueryListener; returns the lists it appends each
    trigger's progress dict and each started query's run id to.  A
    streaming query runs its batches under a job group named by its run
    id, not under the group of the thread that started it."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []
    run_ids: list[str] = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            progress.append(
                {"rows": p.numInputRows, "durationMs": dict(p.durationMs)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_L())
    return progress, run_ids


# --- JVM and process memory ------------------------------------------------


class Jvm:
    """Memory and GC of the driver JVM over the timed loop.  Created when
    setup ends: it collects the setup's garbage first, so that every loop
    starts from the same heap state and no collection of setup garbage
    lands on a timed operation."""

    def __init__(self, session: Session) -> None:
        jvm = session.spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = session.pid
        gc.collect()
        jvm.java.lang.System.gc()
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        self._gc0 = self._gc_total_s()

    def _heap_pools(self):
        pools = self._mf.getMemoryPoolMXBeans()
        return [p for p in pools if p.getType().toString() == "Heap memory"]

    def _gc_total_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def gc_s(self) -> float:
        """Collection time since the timed loop started."""
        return self._gc_total_s() - self._gc0

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since setup ended (an upper bound
        on the peak of their total)."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM plus this Python
        process."""
        import resource

        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        for line in Path(f"/proc/{self.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0


# --- aggregation -----------------------------------------------------------


def op_metrics(ops: list[Op]) -> dict:
    """End-to-end figures, balanced over operation kinds (``Op.group``)
    so that every kind weighs the same whatever its count: the geometric
    means of each kind's median and p75 latency, and the means of each
    kind's mean latency and mean CPU time.  A p75 over all operations
    would sit on the edge between two kinds' latency clusters and jump
    from one to the other between runs."""
    by: dict[str, list[Op]] = {}
    for o in ops:
        by.setdefault(o.group, []).append(o)
    walls = [[o.wall_ms for o in v] for v in by.values()]
    return {
        "op_p50_ms": geomean([pct(v, 50) for v in walls]),
        "op_p75_ms": geomean([pct(v, 75) for v in walls]),
        "op_mean_ms": statistics.fmean(statistics.fmean(v) for v in walls),
        "op_cpu_ms": statistics.fmean(
            statistics.fmean(o.cpu_ms for o in v) for v in by.values()),
    }


def layer_metrics(ops: list[Op]) -> dict:
    """Per-layer means per operation (traced runs)."""
    n = len(ops)
    out = {
        "op.construct_ms": sum(o.construct_ms for o in ops) / n,
        "op.plan_ms": sum(o.plan_ms for o in ops) / n,
        "op.exec_ms": sum(o.exec_ms for o in ops) / n,
    }
    for k in LAYER_KEYS:
        out[f"op.{k}"] = sum(o.layers.get(k, 0) for o in ops) / n
    out["op.cache_scan_ratio"] = sum(1 for o in ops if o.layers.get("cache_scan")) / n
    return out
