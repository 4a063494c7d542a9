"""Counters read from outside the engine: Spark's status store and
scheduler, the driver JVM's management beans, the host's CPU steal and
the processes' peak resident memory.

Status-store counters are read only after Spark's listener bus has
drained, so a task that finished just before the read is counted.
"""

from __future__ import annotations

import json
import os
import resource


class Host:
    """CPU steal share between two reads of ``/proc/stat``: the share
    of the host's CPU time the hypervisor gave to other guests. It
    explains the spread of a time metric; it is not a metric of the
    program."""

    @staticmethod
    def _read() -> tuple[int, int]:
        try:
            with open("/proc/stat") as fh:
                fields = [int(x) for x in fh.readline().split()[1:]]
        except OSError:
            return 0, 0
        # user nice system idle iowait irq softirq steal guest guest_nice;
        # guest time is already counted in user, so leave it out of the total
        total = sum(fields[:8])
        steal = fields[7] if len(fields) > 7 else 0
        return steal, total

    def __init__(self) -> None:
        self.start = self._read()

    def steal_share(self) -> float:
        steal, total = self._read()
        d_total = total - self.start[1]
        return (steal - self.start[0]) / d_total if d_total > 0 else 0.0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Spark:
    """Cumulative counters of one SparkContext.

    ``snapshot()`` returns jobs and stages submitted (from the DAG
    scheduler's id counters, which have no listener lag) and the
    driver executor's task totals (tasks, task seconds, input, shuffle
    write), plus the driver JVM's GC and JIT seconds.
    Differences of two snapshots give a phase's counts."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._mf = self._jvm.java.lang.management.ManagementFactory
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _counter(atomic) -> int:
        # py4j hands a java.util.concurrent.atomic.AtomicInteger over as an int
        return int(atomic if isinstance(atomic, int) else atomic.get())

    def job_count(self) -> int:
        return self._counter(self._jsc.dagScheduler().nextJobId())

    def snapshot(self) -> dict:
        self.drain()
        store = self._jsc.statusStore()
        execs = json.loads(self._mapper.writeValueAsString(store.executorList(True)))
        tot = {k: sum(e[k] for e in execs) for k in (
            "totalTasks", "totalDuration", "totalInputBytes", "totalShuffleWrite",
        )}
        dag = self._jsc.dagScheduler()
        return {
            "jobs": self._counter(dag.nextJobId()),
            "stages": self._counter(dag.nextStageId()),
            "tasks": tot["totalTasks"],
            "task_s": tot["totalDuration"] / 1000.0,
            "input_mb": tot["totalInputBytes"] / 2**20,
            "shuffle_write_mb": tot["totalShuffleWrite"] / 2**20,
            **self.jvm_times(),
        }

    def spill_mb(self) -> float:
        """Bytes spilled by every stage so far (memory + disk view)."""
        self.drain()
        store = self._jsc.statusStore()
        stages = store.stageList(
            None, False, False, self._sc._gateway.new_array(self._jvm.double, 0), None
        )
        rows = json.loads(self._mapper.writeValueAsString(stages))
        return sum(r["diskBytesSpilled"] for r in rows) / 2**20

    def jvm_times(self) -> dict:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        jit_ms = self._mf.getCompilationMXBean().getTotalCompilationTime()
        return {"gc_s": gc_ms / 1000.0, "jit_s": jit_ms / 1000.0}

    def heap_peak_mb(self) -> float:
        pools = [
            p for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType().toString()) == "Heap memory"
        ]
        return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the Python driver plus the JVM."""
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return py_mb + _vm_hwm_mb(self.jvm_pid)


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def dir_mb(path: str) -> tuple[float, int]:
    """Total size (MB) and count of data files under ``path``,
    skipping Spark's hidden and checksum files."""
    size, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / 2**20, files
