"""Host speed: a fixed plain-Spark job timed between the operations.

On a shared host the same work takes longer while other guests load it:
the hypervisor takes the vCPUs away (steal), and busy neighbours on the
same cores slow every instruction, which shows in CPU time as well as in
wall time. A run that meets such a period reads slower for the whole of
it, and no median taken inside the run removes that.

So after every timed operation, outside its timed window, the runner
times a probe: ``PROBE_ROWS`` rows of ``spark.range`` in one partition
per core, hashed and written to the ``noop`` sink. It runs in the same
JVM as the operations but no engine code, no exchange and no file, so
nothing the engine changes moves it. ``Scale`` turns the run's median
probe into factors that restate the run's times as they read on the
reference host, where the probe takes ``REF_WALL_S`` of wall time and
``REF_CPU_S`` of CPU time: a run whose probe took twice as long has its
wall times halved.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from statistics import median

from perfbench.proctree import thread_cpu_seconds

PROBE_ROWS = 10_000_000
# Probes run after set-up, before the first timed pass; they warm the
# probe's own code and are not used.
PROBE_WARMUP = 3
# Name of the Spark executor's task threads, as the kernel keeps it.
TASK_THREAD = "Executor task"
# The probe's median wall time and task-thread CPU time on the
# reference host, 4 KVM vCPUs of a Xeon (Sapphire Rapids) at under 1%
# steal, rounded: they only set the scale the adjusted times read in.
REF_WALL_S = 0.125
REF_CPU_S = 0.35


def probe(spark, cpus: int) -> tuple[float, float]:
    """(wall seconds, CPU seconds of the JVM's task threads) of one
    probe job. Only task threads count: the JIT compiler and the
    collector may still be busy with the operation before."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    cpu0 = thread_cpu_seconds(jvm, TASK_THREAD)
    t0 = time.perf_counter()
    (spark.range(0, PROBE_ROWS, 1, cpus)
        .selectExpr("hash(id, id * 7) AS h")
        .write.mode("overwrite").format("noop").save())
    wall = time.perf_counter() - t0
    cpu1 = thread_cpu_seconds(jvm, TASK_THREAD)
    return wall, sum(c - cpu0.get(tid, 0.0) for tid, c in cpu1.items())


@dataclass
class Scale:
    """The run's probes and the factors they give."""

    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)

    def add(self, sample: tuple[float, float]) -> None:
        self.walls.append(sample[0])
        self.cpus.append(sample[1])

    @property
    def wall(self) -> float:
        """Factor for wall times: reference probe / this run's probe."""
        return REF_WALL_S / median(self.walls)

    @property
    def cpu(self) -> float:
        """Factor for CPU times, likewise."""
        return REF_CPU_S / median(self.cpus)
