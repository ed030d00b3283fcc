"""Benchmark of the engine: one closed-loop client per workload.

    python3 perfbench/run.py --workload text_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark session, runs a warm pass (set-up), then
timed passes of the workload's mix: at least the workload's
``min_passes``, until ``--seconds`` have elapsed. Every operation is
checked outside its timed window, where a host-speed probe also runs;
the end-to-end times are restated for the reference host by the run's
median probe (see hostspeed). The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it show every metric with its sample count.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = "4"
DRIVER_MEM = "2g"
# Repetitions of each noop probe in a traced run.
PROBE_REPS = 3


@dataclass
class OpRecord:
    pass_no: int
    name: str
    kind: str
    build_s: float
    exec_s: float
    cpu_s: float
    python_cpu_s: float
    index_files: int = 0
    index_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    the run started to end."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


class Runner:
    """Runs a workload's passes, timing every operation and checking
    its output, and probes the host's speed after each timed one."""

    def __init__(self, spark, workload, tracer):
        from perfbench.hostspeed import Scale

        from bigdataproject_spark.operators.dedup import release_dedup_caches
        from bigdataproject_spark.operators.simsearch import (
            clear_measured_query_cache,
            release_search_broadcasts,
        )

        self.spark, self.wl, self.tracer = spark, workload, tracer
        self.records: list[OpRecord] = []
        self.problems: list[str] = []
        self.attempted = 0
        self.peak_rss_mb = 0.0
        self.steal = 0.0  # host steal share during the timed passes
        self.scale = Scale()
        self._release = (release_dedup_caches, release_search_broadcasts, clear_measured_query_cache)

    def run_pass(self, pass_no: int) -> float:
        """Run one pass; returns its wall time (sum of op walls)."""
        from perfbench.hostspeed import probe
        from perfbench.proctree import tree_cpu_seconds, tree_peak_rss_mb

        me, trace = os.getpid(), self.tracer.enabled
        wall = 0.0
        self.tracer.pass_no = pass_no
        for op in self.wl.ops(pass_no):
            for release in self._release:  # cold op: no result cached by an earlier pass
                release(self.spark)
            files = size = 0
            if trace and op.name == "ivf_search":
                files, size = self.wl.index_stats()
            py0 = tree_cpu_seconds(me, "pyspark.daemon") if trace else 0.0
            cpu0 = tree_cpu_seconds(me)
            group = f"{self.wl.name}/{op.name}"
            t0 = time.perf_counter()
            with self.tracer.span(op.name, pass_no=pass_no):
                with self.tracer.job_group(self.spark, f"{group}/build", pass_no), \
                        self.tracer.span(f"{op.name}/build"):
                    obj = op.build()
                t1 = time.perf_counter()
                with self.tracer.job_group(self.spark, f"{group}/exec", pass_no), \
                        self.tracer.span(f"{op.name}/exec"):
                    res = op.run(obj)
                t2 = time.perf_counter()
            cpu = tree_cpu_seconds(me) - cpu0
            py = tree_cpu_seconds(me, "pyspark.daemon") - py0 if trace else 0.0
            self.peak_rss_mb = max(self.peak_rss_mb, tree_peak_rss_mb(me))
            self.records.append(
                OpRecord(pass_no, op.name, op.kind, t1 - t0, t2 - t1, cpu, py, files, size)
            )
            wall += t2 - t0
            self.attempted += 1
            try:
                problem = op.check(res)
            except Exception as e:  # a broken output is a failed op, not a crash
                problem = f"{op.name}: check raised {e!r}"
            if problem:
                self.problems.append(f"pass {pass_no}: {problem}")
            for _ in range(self.wl.probes_per_op if pass_no >= 1 else 0):
                self.scale.add(probe(self.spark, int(CPUS)))
        return wall


def _measured(records: list[OpRecord]) -> list[OpRecord]:
    return [r for r in records if r.pass_no >= 1]


_KINDS = (("latency", None), ("read", "read"), ("write", "write"))


def end_to_end(setup_s: float, pass_walls: list[float], runner: Runner) -> dict:
    """The end-to-end metrics, each time restated for the reference
    host by the run's probe (``hostspeed``)."""
    recs = _measured(runner.records)
    w, c = runner.scale.wall, runner.scale.cpu
    out: dict[str, tuple[float, str, int, str]] = {}
    out["setup_s"] = (setup_s * w, "s", 1, "")
    out["pass_s"] = (median(pass_walls) * w, "s", len(pass_walls), "median")
    out["latency_p50_s"] = (median(r.wall_s for r in recs) * w, "s", len(recs), "p50")
    # Reads and writes are a few ops of each kind per pass, so a median
    # over them is one op's time; their sum per pass holds its bound.
    for kind in ("read", "write"):
        per_pass = [
            sum(r.wall_s for r in recs if r.kind == kind and r.pass_no == p)
            for p in range(1, len(pass_walls) + 1)
        ]
        out[f"{kind}_s_per_pass"] = (median(per_pass) * w, "s", len(per_pass), "median")
    out["cpu_s_per_pass"] = (sum(r.cpu_s for r in recs) * c / len(pass_walls), "s", len(pass_walls), "mean")
    return out


def tails(runner: Runner) -> dict:
    """Tail latencies, host-adjusted like ``end_to_end``. They are
    printed, not part of the result: a run's time budget leaves under
    40 samples, so each is a maximum, which no bound of at most 0.25
    holds from run to run."""
    from perfbench.stats import tail

    recs = _measured(runner.records)
    out: dict[str, tuple[float, str, int, str]] = {}
    for prefix, sel in _KINDS:
        vals = [r.wall_s * runner.scale.wall for r in recs if sel is None or r.kind == sel]
        pct, tv = tail(vals)
        out[f"{prefix}_tail_s"] = (tv, "s", len(vals), f"p{pct:g}")
    return out


def per_layer(phases: dict, pass_walls: list[float], runner: Runner, totals: dict, probes: dict) -> dict:
    from perfbench import workloads
    from perfbench.trace import GroupTotals

    recs = _measured(runner.records)
    n_pass = len(pass_walls)
    wl = runner.wl.name
    out: dict[str, tuple[float, str, int, str]] = {}

    def put(name, value, unit, n, how):
        out[name] = (float(value), unit, n, how)

    put("session.start_s", phases["start"], "s", 1, "")
    put("session.warm_s", phases["warm"], "s", 1, "")
    loads = [s.seconds for s in runner.tracer.named("sources.load_table") if s.attrs.get("pass_no", 0) >= 1]
    put("sources.load_table_s", median(loads) if loads else 0.0, "s", len(loads), "median per call")
    put("sources.scan_s", probes.get("scan", 0.0), "s", PROBE_REPS, "median, summed over inputs")
    fans = [s.attrs["partitions"] for s in runner.tracer.named("sources.fan_out") if s.attrs.get("pass_no", 0) >= 1]
    put("sources.fan_out_partitions", median(fans) if fans else 0, "count", len(fans), "median per call")
    for k in ("tokenize", "shingle", "entities"):
        put(f"functions.{k}_s", probes.get(k, 0.0), "s", PROBE_REPS, "median minus its base")

    def group(op: str, phase: str) -> GroupTotals:
        g = GroupTotals()
        for p in range(1, n_pass + 1):
            t = totals.get((f"{wl}/{op}/{phase}", f"pass {p}"))
            if t:
                g.add(t)
        return g

    for op in workloads.TRACED_OPS:
        mine = [r for r in recs if r.name == op]
        n = len(mine)
        build, exe = group(op, "build"), group(op, "exec")
        put(f"queries.build_s.{op}", median([r.build_s for r in mine]) if n else 0.0, "s", n, "median")
        put(f"queries.build_jobs.{op}", build.jobs / n if n else 0.0, "count", n, "per op")
        put(f"operators.exec_s.{op}", median([r.exec_s for r in mine]) if n else 0.0, "s", n, "median")
        put(f"spark.executor_cpu_s.{op}", (build.cpu_s + exe.cpu_s) / n if n else 0.0, "s", n, "per op")

    per_pass = GroupTotals()
    for (gid, desc), t in totals.items():
        if gid and gid.startswith(f"{wl}/") and desc and int(desc.split()[-1]) >= 1:
            per_pass.add(t)
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_wait_s", "s"),
                    ("shuffle_write_mb", "MiB"), ("shuffle_read_mb", "MiB"), ("spill_mb", "MiB"),
                    ("gc_s", "s")):
        put(f"spark.{k}", getattr(per_pass, k) / n_pass, unit, n_pass, "per pass")

    searches = [r for r in recs if r.name == "ivf_search"]
    appends = [r for r in recs if r.name == "ivf_append"]
    s_tot = group("ivf_search", "build")
    s_tot.add(group("ivf_search", "exec"))
    a_tot = group("ivf_append", "build")
    a_tot.add(group("ivf_append", "exec"))
    idx_mb = sum(r.index_bytes for r in searches) / 2**20
    put("simsearch.search_jobs", s_tot.jobs / len(searches) if searches else 0.0, "count", len(searches), "per op")
    put("simsearch.read_bytes_ratio", s_tot.input_mb / idx_mb if idx_mb else 0.0, "ratio", len(searches), "bytes read / index bytes")
    put("simsearch.append_jobs", a_tot.jobs / len(appends) if appends else 0.0, "count", len(appends), "per op")
    put("index.files", median([r.index_files for r in searches]) if searches else 0, "count", len(searches), "median at search")
    put("arrow.python_cpu_s", sum(r.python_cpu_s for r in recs) / n_pass, "s", n_pass, "per pass")
    put("tree.peak_rss_mb", runner.peak_rss_mb, "MiB", len(runner.records), "max over reads")
    sc = runner.scale
    put("host.probe_wall_s", median(sc.walls), "s", len(sc.walls), "median")
    put("host.probe_cpu_s", median(sc.cpus), "s", len(sc.cpus), "median")
    put("trace.pass_s", median(pass_walls) * sc.wall, "s", n_pass, "median, host-adjusted as pass_s")
    return out


def layer_probes(spark, wl_name: str, in_dir: str) -> dict[str, float]:
    """Bare noop scans of the workload's inputs and, on text_corpus,
    each text kernel's noop-forced projection minus its base."""
    from perfbench.workloads import INPUT_TABLES

    from bigdataproject_spark.sources.readers import load_table

    def noop(make):
        times = []
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            make().write.mode("overwrite").format("noop").save()
            times.append(time.perf_counter() - t0)
        return median(times)

    def table(name):
        if wl_name == "vector_index":
            return spark.read.parquet(os.path.join(in_dir, f"{name}.parquet"))
        return load_table(spark, in_dir, name)

    out = {"scan": sum(noop(lambda t=t: table(t)) for t in INPUT_TABLES[wl_name])}
    if wl_name == "text_corpus":
        from bigdataproject_spark.functions.entities import extract_entity_codes_expr
        from bigdataproject_spark.functions.tokenize import tokenize_expr
        from bigdataproject_spark.operators.dedup import portable_hashed_shingles
        from bigdataproject_spark.queries_graph import DOC_ALIASES
        from bigdataproject_spark.queries_pipeline import JACCARD_N

        docs = lambda: load_table(spark, in_dir, "documents")  # noqa: E731
        tok = lambda: tokenize_expr("text", stopwords=(), min_len=1, drop_numeric=False)  # noqa: E731
        scan = noop(lambda: docs().select("text"))
        tokens = noop(lambda: docs().select(tok().alias("t")))
        shingles = noop(lambda: docs().select(portable_hashed_shingles(tok(), JACCARD_N).alias("s")))
        ents = noop(lambda: docs().select(extract_entity_codes_expr("text", DOC_ALIASES).alias("e")))
        out.update(tokenize=tokens - scan, shingle=shingles - tokens, entities=ents - scan)
    return out


def _measure(args, work: str):
    """Set up, run the timed passes and the checks; returns (input
    sizes, set-up phases, metrics, metrics only printed, runner)."""
    from perfbench import gen, workloads
    from perfbench.hostspeed import PROBE_WARMUP, probe
    from perfbench.proctree import cpu_ticks, steal_share
    from perfbench.trace import Tracer, read_event_log

    from bigdataproject_spark.session import get_spark

    trace = bool(args.trace)
    _environment(work)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    tracer = Tracer(trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=_spark_conf(work, trace))
        t1 = time.perf_counter()
        sizes = gen.generate(args.workload, args.seed, in_dir)
        wl = workloads.make(args.workload, spark, in_dir, out_dir, args.seed)
        t2 = time.perf_counter()
        wl.prepare()
        t3 = time.perf_counter()
        tracer.wrap_sources()
        runner = Runner(spark, wl, tracer)
        warm = runner.run_pass(0)  # untimed: pass 0; timed passes count from 1
        phases = {"start": t1 - t0, "generate": t2 - t1, "prepare": t3 - t2, "warm": warm}
        for _ in range(PROBE_WARMUP):
            probe(spark, int(CPUS))

        pass_walls: list[float] = []
        ticks = cpu_ticks()
        t_start = time.perf_counter()
        while len(pass_walls) < wl.min_passes or time.perf_counter() - t_start < args.seconds:
            pass_walls.append(runner.run_pass(len(pass_walls) + 1))
        runner.steal = steal_share(ticks, cpu_ticks())
        tracer.unwrap_sources()
        t0 = time.perf_counter()
        runner.problems.extend(wl.finish())
        phases["final_check"] = time.perf_counter() - t0
        probes = layer_probes(spark, args.workload, in_dir) if trace else {}
    finally:
        if spark is not None:
            _stop_spark(spark)

    if trace:
        totals = read_event_log(os.path.join(work, "eventlog"))
        _write_spans(tracer, totals, args)
        metrics = per_layer(phases, pass_walls, runner, totals, probes)
        shown = {}
    else:
        setup_s = sum(phases[k] for k in ("start", "generate", "prepare", "warm"))
        metrics = end_to_end(setup_s, pass_walls, runner)
        shown = tails(runner)
    return sizes, phases, metrics, shown, runner


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    import bigdataproject_spark  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    try:
        sizes, phases, metrics, shown, runner = _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(runner.problems)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} inputs={json.dumps(sizes)}")
    print("phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
    print(f"host steal during the timed passes: {runner.steal:.1%} of cpu time")
    sc = runner.scale
    print(f"probe median: wall {median(sc.walls):.4f}s cpu {median(sc.cpus):.3f}s (n={len(sc.walls)});"
          f" factors: wall {sc.wall:.3f} cpu {sc.cpu:.3f}")
    timed = _measured(runner.records)
    for op in dict.fromkeys(r.name for r in timed):
        walls = sorted(r.wall_s for r in timed if r.name == op)
        print(f"op {op:28s} " + " ".join(f"{w:.3f}" for w in walls))
    for p in runner.problems:
        print(f"FAILED {p}")
    print(f"failed_ratio {failed / runner.attempted:.4f} (n={runner.attempted})")
    for name, (value, unit, n, how) in metrics.items():
        print(f"{name:40s} {value:12.4f} {unit:6s} n={n} {how}")
    for name, (value, unit, n, how) in shown.items():
        print(f"{name:40s} {value:12.4f} {unit:6s} n={n} {how} (printed only)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


def _write_spans(tracer, totals: dict, args) -> None:
    """Write the run's spans and per-group Spark totals once, at the end."""
    from dataclasses import asdict

    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({
            "spans": [asdict(s) for s in tracer.spans],
            "groups": [
                {"group": g, "description": d, **asdict(t)} for (g, d), t in sorted(
                    totals.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1])))
            ],
        }, f)


if __name__ == "__main__":
    sys.exit(main())
