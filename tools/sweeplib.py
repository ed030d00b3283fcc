"""Shared measurement harness for the tools: noop-sink forcing, ONE
stage-metrics reader (:func:`stage_totals`) and its window
(:func:`measured`), ONE per-case watchdog (:func:`run_cases`), the
frozen environment control and the sf100-class session sizing. One
copy, so every sweep, A/B and bench measures wall, CPU, shuffle volume
and job counts the same way."""
from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import urllib.request

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from perfbench.proctree import tree_cpu_seconds  # noqa: E402

# extra_conf for ``get_spark``: stage_totals reads the status REST API,
# and its cumulative sums assume no stage or job row is evicted between
# two reads (Spark keeps 1000 of each by default) — keep every row.
STATUS_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
}


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _api(sc, path: str):
    """GET one status REST endpoint of this application."""
    if sc.uiWebUrl is None:
        raise RuntimeError(
            "status API disabled — build the session with "
            "get_spark(extra_conf=sweeplib.STATUS_CONF)"
        )
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def stage_totals(spark) -> dict[str, float]:
    """Cumulative executor CPU (``cpu_ns``), shuffle bytes written and
    read, completed ``stages`` and their ``tasks``, and ``jobs`` of any
    status — callers take deltas around a measured window. These are
    the per-stage counts that separate framework overhead (jobs, stages,
    tasks) from compute (CPU) and data movement (shuffle).

    ``executorCpuTime`` is JVM thread time only, so ``py_cpu_s`` adds
    the CPU of the live Python workers (this process's ``pyspark.daemon``
    tree, from ``/proc``): the Arrow/pandas operators' other half.

    The status store is fed by an ASYNC listener bus: a read right after
    an action returns can miss just-finished stages, which then bleed
    into the NEXT window's delta. Draining the bus first (as the
    ``count_jobs`` test fixture does) makes one read exact."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    stages = _api(sc, "stages?status=complete")
    return {
        "cpu_ns": sum(s.get("executorCpuTime", 0) for s in stages),
        "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "jobs": len(_api(sc, "jobs")),
        "py_cpu_s": tree_cpu_seconds(os.getpid(), "pyspark.daemon"),
    }


def window_metrics(t0: dict, t1: dict, passes: int = 1) -> dict:
    """Per-pass row fields from two :func:`stage_totals` reads."""

    def per_pass(key: str) -> float:
        return (t1[key] - t0[key]) / passes

    def count(key: str):
        v = per_pass(key)
        return int(v) if v == int(v) else round(v, 1)

    return {
        "cpu_s": round(per_pass("cpu_ns") / 1e9, 2),
        "py_cpu_s": round(per_pass("py_cpu_s"), 2),
        "shuffle_write_mb": round(per_pass("shuffle_write") / 1e6, 1),
        "shuffle_read_mb": round(per_pass("shuffle_read") / 1e6, 1),
        "jobs": count("jobs"),
        "stages": count("stages"),
        "tasks": count("tasks"),
    }


def measured(spark, fn) -> tuple:
    """``fn()``'s result and its window: wall ``sec`` plus
    :func:`window_metrics`."""
    t0, start = stage_totals(spark), time.perf_counter()
    out = fn()
    sec = time.perf_counter() - start
    return out, {"sec": round(sec, 2), **window_metrics(t0, stage_totals(spark))}


def run_cases(
    spark, cases: dict, timeout_s: float, passes: int = 1
) -> tuple[dict[str, dict], list[str]]:
    """Run each case (name -> zero-arg callable returning a DataFrame,
    rebuilt per pass) under a job group of its own, in a watchdog
    thread. Returns ({name: row}, names of leaked threads).

    With ``passes`` > 1 a case first runs one untimed warm pass (JVM,
    codegen, footer and operator caches), so the median of the timed
    passes is a steady-state figure; a single pass is the case's first
    run. The watchdog bounds the whole case, warm pass included.

    Row: ``sec`` (median pass wall) plus :func:`window_metrics` per
    pass; or ``{"timeout": true, "sec"}`` (plus ``leaked_thread``) for a
    case cancelled after ``timeout_s``; or ``{"error": ...}``. Rows after
    a leaked thread carry ``tainted_by``."""
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    leaked: list[str] = []  # cases whose thread survived cancel+drain
    for name, build in cases.items():
        times: list[float] = []
        totals: list[dict] = []
        err: list[BaseException] = []

        def run(build=build, group=name) -> None:
            sc.setJobGroup(group, group, interruptOnCancel=True)
            try:
                if passes > 1:
                    force(build())
                totals.append(stage_totals(spark))
                for _ in range(passes):
                    t0 = time.perf_counter()
                    force(build())
                    times.append(time.perf_counter() - t0)
                totals.append(stage_totals(spark))
            except BaseException as ex:  # noqa: BLE001 — recorded below
                err.append(ex)
            finally:
                sc.setJobGroup("", "")

        t0 = time.perf_counter()
        th = threading.Thread(target=run, name=f"sweep:{name}", daemon=True)
        th.start()
        th.join(timeout_s)
        sec = time.perf_counter() - t0
        if th.is_alive():
            sc.cancelJobGroup(name)
            th.join(60)
            # drain: cancellation is async — let the cancelled query's
            # in-flight stages finish before the next query's timing /
            # shuffle-delta window opens, or they pollute its row.
            drain_until = time.monotonic() + 120
            while (
                sc.statusTracker().getActiveStageIds()
                and time.monotonic() < drain_until
            ):
                time.sleep(0.5)
            row = {"timeout": True, "sec": round(sec, 1)}
            if th.is_alive():
                # cancel+drain failed (e.g. a stage wedged in a
                # non-interruptible native call): the leaked daemon
                # thread's stages pollute every later row's wall time
                # and shuffle deltas — record it so those rows are
                # marked tainted instead of silently trusted.
                leaked.append(name)
                row["leaked_thread"] = True
        elif err:
            # a cancelled-job error after our own cancel is still a timeout
            row = {"error": f"{type(err[0]).__name__}: {err[0]}"[:300]}
        else:
            row = {
                "sec": round(statistics.median(times), 3),
                **window_metrics(totals[0], totals[1], passes),
            }
        if leaked and name not in leaked:
            row["tainted_by"] = list(leaked)
        out[name] = row
        print(f"  {name}: {row}", file=sys.stderr, flush=True)
    return out, leaked


def control_samples(spark, sf_dir: str, passes: int = 5) -> list[float]:
    """Wall seconds of ``passes`` runs of the FROZEN environment-control
    aggregate — the byte-identical twin of bench.py's ``_control``
    (DO NOT EDIT either: its only job is to drift with the box). The
    sweeps carry its median so round-over-round sweep wall comparisons
    can be normalized for box conditions the same way the headline
    bench already is (r8 VERDICT item 5). Scale rehearsals over a
    PARTIAL SF dir (no lineitem at the target SF) skip it: [] here,
    null in the reports (:func:`control_sec`)."""
    from pyspark.sql import functions as F

    if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
        return []

    def _q():
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return df.groupBy("l_returnflag").agg(
            F.sum("l_quantity").alias("s"),
            F.avg("l_extendedprice").alias("a"),
            F.count(F.lit(1)).alias("n"),
        )

    out = []
    for _ in range(passes):
        t0 = time.perf_counter()
        force(_q())
        out.append(time.perf_counter() - t0)
    return out


def control_sec(samples: list[float]) -> float | None:
    return round(statistics.median(samples), 3) if samples else None


_BIG_INPUT_BYTES = 5 << 30


def apply_scale_env(sf_dir: str, env: dict) -> None:
    """Default the session-sizing env knobs for sf100-class inputs
    (>5 GB on disk) when the operator left them unset — SCALING.md r9
    "sizing lesson": at the 8g-heap/32-partition harness defaults,
    executor OOMs kill the single local JVM and whole sweep chunks die
    with truncated errors. ~90 MB shuffle partitions and ~1 GB per
    concurrent task; plans and shuffle bytes are unchanged (verified
    <0.1% vs the prior round), only headroom. Explicit env always
    wins. Must run BEFORE the SparkSession is built."""
    if not os.path.isdir(sf_dir):
        return
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    if total <= _BIG_INPUT_BYTES:
        return
    env.setdefault("SPARK_GRAFT_SHUFFLE", "256")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    print(
        "-- sf100-class input: defaulting SPARK_GRAFT_SHUFFLE="
        f"{env['SPARK_GRAFT_SHUFFLE']}, SPARK_GRAFT_DRIVER_MEM="
        f"{env['SPARK_GRAFT_DRIVER_MEM']} (override by setting them)",
        file=sys.stderr,
        flush=True,
    )
