"""What Spark itself reports about the work of one operation.

Every operation runs under its own job group.  After it ends, the listener
bus is drained and the operation's jobs, stages and SQL executions are
read from Spark's status stores (the data the Spark UI shows, kept even
with the UI off).  The engine code is not touched.

Counters (summed per operation):

- ``jobs``, ``tasks``: jobs in the group; tasks of the stages that ran.
- ``scan_nodes``, ``exchange_nodes``, ``single_partition_exchanges``:
  nodes of the final (adaptive) physical plans.  A single-partition
  exchange is what a window without PARTITION BY plans.
- ``shuffle_write_bytes``, ``shuffle_fetch_wait_ms``, ``spill_bytes``
  (bytes spilled to disk): stage totals.
- ``python_udf_nodes``, ``python_udf_rows``: plan nodes that run Python
  workers and the rows they emitted.
- ``broadcast_build_ms``: ``time to build`` of broadcast exchanges.
- ``codegen_ms``: JVM code-generation compile time
  (``CodegenMetrics.compilationTime``), read before and after; estimated
  once the histogram's reservoir has filled.
"""

from __future__ import annotations

import os
import re
import threading

PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "ArrowAggregatePython",
    "AggregateInPandas",
    "ArrowWindowPython",
    "WindowInPandas",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
}
COUNTERS = (
    "jobs",
    "tasks",
    "scan_nodes",
    "exchange_nodes",
    "single_partition_exchanges",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "spill_bytes",
    "python_udf_nodes",
    "python_udf_rows",
    "broadcast_build_ms",
    "codegen_ms",
)
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "min": 6e4}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'1,000'`` -> 1000, ``'1.9 s'`` ->
    1900 (timings in ms), ``'22.2 KiB'`` -> bytes.  For task-level metrics
    Spark prints ``total (min, med, max ...)`` over the values; the total
    is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _UNITS:
        return value * _UNITS[unit]
    if unit.endswith("B"):
        scale = {"B": 0, "KiB": 1, "MiB": 2, "GiB": 3, "TiB": 4}.get(unit, 0)
        return value * 1024**scale
    return value


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Engine:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._mx = spark._jvm.java.lang.management.ManagementFactory
        self._seen_exec = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty()

    def codegen_mark(self) -> tuple[int, float | None]:
        """(compilations so far, their total ms while the histogram still
        holds every sample, else None)."""
        snap = self._codegen.getSnapshot()
        n = self._codegen.getCount()
        return n, (float(sum(snap.getValues())) if snap.size() == n else None)

    def codegen_ms_since(self, mark: tuple[int, float | None]) -> float:
        """Compile time since ``mark``: exact until the histogram's reservoir
        (1028 samples) fills; past that, new compilations x the reservoir's
        mean, since evictions make a difference of totals meaningless (and
        possibly negative)."""
        n0, total0 = mark
        n1, total1 = self.codegen_mark()
        if total0 is not None and total1 is not None:
            return total1 - total0
        return (n1 - n0) * float(self._codegen.getSnapshot().getMean())

    def jvm_uptime_ms(self) -> float:
        return float(self._mx.getRuntimeMXBean().getUptime())

    def heap_bytes(self) -> tuple[int, int]:
        """(used, committed) bytes of the JVM heap now."""
        usage = self._mx.getMemoryMXBean().getHeapMemoryUsage()
        return int(usage.getUsed()), int(usage.getCommitted())

    def job_times(self, group: str) -> list[float]:
        """Submission times (epoch seconds) of the group's jobs."""
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            sub = self._store.job(jid).submissionTime()
            if sub.isDefined():
                out.append(sub.get().getTime() / 1000.0)
        return sorted(out)

    def counters(self, group: str) -> dict[str, float]:
        """Engine counters of the group's jobs (call after ``drain``)."""
        c = dict.fromkeys(COUNTERS, 0.0)
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        c["jobs"] = float(len(job_ids))
        for jid in job_ids:
            for sid in _seq(self._store.job(jid).stageIds()):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
                c["spill_bytes"] += st.diskBytesSpilled()
        n_exec = self._sql.executionsCount()
        for ex in _seq(self._sql.executionsList(self._seen_exec, n_exec - self._seen_exec)):
            if not job_ids.intersection(_seq(ex.jobs().keys().toSeq())):
                continue
            self._plan_counts(ex.executionId(), c)
        self._seen_exec = n_exec
        return c

    def _plan_counts(self, exec_id: int, c: dict[str, float]) -> None:
        values = self._sql.executionMetrics(exec_id)

        def metric(node, name: str) -> float:
            for m in _seq(node.metrics()):
                if m.name() == name:
                    v = values.get(m.accumulatorId())
                    return parse_metric(v.get()) if v.isDefined() else 0.0
            return 0.0

        for node in _seq(self._sql.planGraph(exec_id).allNodes()):
            name = node.name()
            if name.startswith("Scan ") or name.endswith("TableScan"):
                c["scan_nodes"] += 1
            elif name == "Exchange":
                c["exchange_nodes"] += 1
                if "SinglePartition" in node.desc():
                    c["single_partition_exchanges"] += 1
            elif name == "BroadcastExchange":
                c["broadcast_build_ms"] += metric(node, "time to build")
            elif name in PYTHON_NODES:
                c["python_udf_nodes"] += 1
                c["python_udf_rows"] += metric(node, "number of output rows")


_GC_PAUSE = re.compile(r"^\[(\d+)ms\] GC\(\d+\) Pause .* (\d+)M->\d+M\(\d+M\)")


def heap_peak_mb(gc_log_lines, t0_ms: float, t1_ms: float) -> float:
    """Highest heap occupancy (MiB) at the start of a collection pause whose
    JVM uptime lies in ``[t0_ms, t1_ms]``, from an ``-Xlog:gc`` log with
    the ``uptimemillis`` decoration; 0 when no pause falls in the window.
    Between pauses the occupancy only grows, so these are its local peaks."""
    peak = 0.0
    for line in gc_log_lines:
        m = _GC_PAUSE.match(line)
        if m and t0_ms <= int(m.group(1)) <= t1_ms:
            peak = max(peak, float(m.group(2)))
    return peak


class MemSampler:
    """Peak memory the run uses while the sampler is open: the JVM's heap in
    use, plus what the JVM holds resident outside its heap, plus the Python
    workers it forks.

    The heap is pre-touched (``-Xms`` = ``-Xmx``), so its whole committed
    size is resident from start-up and says nothing about the work; only
    the heap in use counts.  That is the highest occupancy before a
    collection pause in the window (from the JVM's GC log), or the
    occupancy at the end if higher.  Outside the heap, the JVM's resident
    size minus the committed heap and the workers' proportional set sizes
    (pages a forked worker shares with the daemon count once) are sampled
    from /proc on a background thread, and their highest sum is taken."""

    def __init__(self, engine: Engine, gc_log: str, period_s: float = 0.5) -> None:
        self.engine = engine
        self.gc_log = gc_log
        self.root_pid = engine.sc._gateway.proc.pid
        self.period_s = period_s
        self.heap_peak_bytes = 0.0
        self.outside_peak_bytes = 0.0
        self._committed = 0
        self._t0_ms = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> float:
        return self.heap_peak_bytes + self.outside_peak_bytes

    @staticmethod
    def _tree(root: int) -> tuple[int, int]:
        """(resident bytes of ``root``, summed PSS bytes of its descendants)."""
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # the command name may hold spaces; fields resume after ')'
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [k for k, pp in parent.items() if pp == p and k not in tree]
            tree.update(kids)
            frontier.extend(kids)
        # the JVM is not forked, so its resident size is its own; reading its
        # smaps_rollup would walk the page tables of the whole pre-touched
        # heap (tens of ms) while it runs
        try:
            with open(f"/proc/{root}/statm") as f:
                jvm = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            jvm = 0
        workers = 0
        for pid in tree - {root}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            workers += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return jvm, workers

    def _sample(self) -> None:
        jvm, workers = self._tree(self.root_pid)
        outside = max(0, jvm - self._committed) + workers
        self.outside_peak_bytes = max(self.outside_peak_bytes, outside)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> MemSampler:
        self._committed = self.engine.heap_bytes()[1]
        self._t0_ms = self.engine.jvm_uptime_ms()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        t1_ms = self.engine.jvm_uptime_ms()
        used_end = self.engine.heap_bytes()[0]
        with open(self.gc_log) as f:
            logged = heap_peak_mb(f, self._t0_ms, t1_ms) * 2**20
        self.heap_peak_bytes = max(logged, used_end)
