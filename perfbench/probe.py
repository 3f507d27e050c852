"""Per-op attribution counters, read from outside the program.

Nothing here calls into the engine package. CPU and steal come from
``/proc``; GC, JIT and heap from the JVM's management beans over py4j;
jobs, stages and tasks from Spark's status tracker. One ``Probe`` is
created per benchmark process and ``sample()`` is called around each op,
so a slow run can be told apart from a busy host: a slow JVM burns more
``jvm_cpu_s`` for the same op, a busy host shows ``steal_frac`` or
``py_cpu_s`` rising instead.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process (``/proc/<pid>/stat``)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _host_cpu() -> tuple[float, float, float]:
    """(busy, steal, total) CPU seconds of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return (total - idle - steal) / _TICK, steal / _TICK, total / _TICK


class Probe:
    """Counters of one Spark driver JVM and the host it runs on."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.jit = mf.getCompilationMXBean()
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if str(p.getType().name()) == "HEAP"]

    def sample(self) -> dict:
        busy, steal, total = _host_cpu()
        return {
            "jvm_cpu_s": _proc_cpu_s(self.pid),
            "host_busy_s": busy,
            "host_steal_s": steal,
            "host_total_s": total,
            "gc_s": sum(g.getCollectionTime() for g in self.gcs) / 1e3,
            "jit_s": self.jit.getTotalCompilationTime() / 1e3,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        d = {k: after[k] - before[k] for k in before}
        total = d.pop("host_total_s")
        return {
            "jvm_cpu_s": d["jvm_cpu_s"],
            # Python workers, this driver process and anything else the
            # host ran: the host's busy time less the JVM's own.
            "py_cpu_s": max(0.0, d["host_busy_s"] - d["jvm_cpu_s"]),
            "gc_s": d["gc_s"],
            "jit_s": d["jit_s"],
            "steal_frac": d["host_steal_s"] / total if total > 0 else 0.0,
        }

    def full_gc(self) -> None:
        self.spark._jvm.java.lang.System.gc()

    def reset_peak_heap(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_heap_mb(self) -> float:
        """Sum over heap pools of each pool's peak use since the last
        reset (generation sizes are fixed, so eden's share is constant)."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20

    def group_counts(self, group: str) -> dict:
        """Jobs, stages and tasks Spark ran under one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "tasks_failed": failed}

    def stage_totals(self) -> dict:
        """Shuffle-write and spill bytes summed over every stage the
        status store still holds (read once, after the timed region)."""
        store = self.sc._jsc.sc().statusStore()
        jvm = self.spark._jvm
        stages = store.stageList(None, False, False,
                                 self.sc._gateway.new_array(jvm.double, 0),
                                 jvm.java.util.Collections.emptyList())
        shuffle = spill = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            shuffle += s.shuffleWriteBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return {"shuffle_write_mb": shuffle / 2**20, "spill_mb": spill / 2**20}

    def last_execution(self) -> int:
        """Id of the newest SQL execution in the status store (-1: none)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def sql_rows(self, since: int, node: str) -> int:
        """'number of output rows' summed over plan nodes named ``node``
        in every SQL execution newer than execution id ``since``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        total = 0
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= since:
                continue
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                if n.name() != node:
                    continue
                ms = n.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        total += int(str(v.get()).replace(",", ""))
        return total
