"""Tracing from outside the engine, for the ``--trace 1`` run.

Spans are kept in memory and turned into metrics once at the end. Each
operation phase runs under a Spark job group ``<workload>/<op>/<phase>``
with the pass number as the job description, so the Spark event log
(enabled for the traced run only) attributes every job, stage and task
to the phase that ran it. Calls into the ``sources`` layer are timed by
wrapping ``load_table`` and ``fan_out`` where the query modules look
them up; nothing inside the package is edited.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no
    job group, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.pass_no = 0
        self.spans: list[Span] = []
        self._open: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        attrs.setdefault("pass_no", self.pass_no)
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent, attrs))

    @contextmanager
    def job_group(self, spark, group: str, pass_no: int):
        """Tag the Spark jobs started inside with ``group``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, f"pass {pass_no}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def wrap_sources(self) -> None:
        """Time every ``load_table`` call and record every ``fan_out``
        output width, in each engine module that imported them."""
        if not self.enabled:
            return
        from bigdataproject_spark.sources import readers

        orig_load, orig_fan = readers.load_table, readers.fan_out
        tracer = self

        def load_table(spark, sf_dir, name):
            with tracer.span("sources.load_table", table=name):
                return orig_load(spark, sf_dir, name)

        def fan_out(df, min_splits=None):
            with tracer.span("sources.fan_out"):
                out = orig_fan(df, min_splits)
            # The width is read without executing ``out``: its round-robin
            # exchange would run as a job of its own under adaptive
            # execution. fan_out either returns its input, whose split
            # count it has just read itself, or repartitions to the
            # default parallelism.
            if out is df:
                width = df.rdd.getNumPartitions()
            else:
                width = df.sparkSession.sparkContext.defaultParallelism
            tracer.spans[-1].attrs["partitions"] = width
            return out

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("bigdataproject_spark"):
                continue
            for attr, orig, repl in (
                ("load_table", orig_load, load_table),
                ("fan_out", orig_fan, fan_out),
            ):
                if getattr(mod, attr, None) is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, repl)

    def unwrap_sources(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wait_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0

    def add(self, other: "GroupTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> dict[tuple[str, str], GroupTotals]:
    """Totals per (job group, job description) from the Spark event log
    in ``log_dir``. Read after the SparkContext has stopped, when the
    log is complete."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    out: dict[tuple[str, str], GroupTotals] = defaultdict(GroupTotals)
    stage_key: dict[int, tuple[str, str]] = {}
    stage_submit: dict[int, int] = {}
    MB = 2**20
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
                out[key].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info, props = ev["Stage Info"], ev.get("Properties") or {}
                sid = info["Stage ID"]
                stage_key[sid] = (
                    props.get("spark.jobGroup.id"), props.get("spark.job.description")
                )
                stage_submit[sid] = info.get("Submission Time") or 0
                out[stage_key[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = out[stage_key.get(sid, (None, None))]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g.tasks += 1
                g.task_wait_s += max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"])) / 1e3
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
                g.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
    return dict(out)
