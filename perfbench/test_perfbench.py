"""Tests of the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time

import pytest

from perfbench import gen, hostspeed, proctree, run, stats, workloads
from perfbench.trace import Tracer, read_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _hashes(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    ha, hb, hc = _hashes(a), _hashes(b), _hashes(c)
    assert ha == hb
    assert ha.keys() == hc.keys()
    assert all(ha[k] != hc[k] for k in ha if k not in ("region.parquet", "nation.parquet"))


def test_text_corpus_near_duplicate_share(tmp_path):
    import pyarrow.parquet as pq

    gen.generate("text_corpus", 3, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(docs) == gen.TEXT_ORIGINALS + gen.TEXT_NEAR_DUPS + gen.TEXT_EXACT_DUPS
    assert len(docs) - len(set(docs)) >= gen.TEXT_EXACT_DUPS * 0.8
    # every near-duplicate differs from some original in exactly the
    # substituted share of its positions
    toks = [d.split() for d in docs]
    near = 0
    for t in toks:
        k = max(1, round(gen.NEAR_DUP_TOKEN_FRACTION * len(t)))
        for o in toks:
            if len(o) == len(t) and sum(x != y for x, y in zip(o, t)) == k:
                near += 1
                break
    assert near >= gen.TEXT_NEAR_DUPS


def test_tail_leaves_ten_samples_beyond():
    for n, want in ((5, 100.0), (19, 100.0), (39, 100.0), (40, 75.0), (100, 90.0), (200, 95.0)):
        vals = [float(i) for i in range(1, n + 1)]
        pct, value = stats.tail(vals)
        assert pct == want, n
        if pct < 100.0:
            assert sum(v > value for v in vals) >= stats.TAIL_BEYOND
        assert value >= stats.percentile(vals, 50)


def test_percentile_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0], 50) == 1.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0


def _fake_runner(workload: str):
    tracer = Tracer(True)
    wl = type("W", (), {"name": workload})()
    r = run.Runner.__new__(run.Runner)
    r.wl, r.tracer, r.records, r.problems = wl, tracer, [], []
    r.attempted, r.peak_rss_mb = 0, 1.0
    r.scale = hostspeed.Scale([0.2, 0.25, 0.3], [0.5, 0.75, 1.0])
    for p in range(3):
        for op, kind in workloads.MIXES[workload].items():
            r.records.append(run.OpRecord(p, op, kind, 0.1, 0.2, 0.3, 0.0, 4, 100))
    return r


def _declared(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_metric_names_match_benchmark_json(workload):
    r = _fake_runner(workload)
    e2e = run.end_to_end(1.0, [1.0, 1.1], r)
    layers = run.per_layer({"start": 1.0, "warm": 2.0}, [1.0, 1.1], r, {}, {})
    assert list(e2e) == _declared("end_to_end")
    assert list(layers) == _declared("per_layer")
    for name in list(e2e) + list(layers):
        assert METRIC_NAME.fullmatch(name), name
    assert all(v[0] != 0 for v in e2e.values())


def test_host_scale_restates_times_for_the_reference_host():
    ref_w, ref_c = hostspeed.REF_WALL_S, hostspeed.REF_CPU_S
    # probes at twice the reference wall time (one outlier) and half its CPU
    sc = hostspeed.Scale([2 * ref_w, 2 * ref_w, 50 * ref_w], [ref_c / 2] * 3)
    assert sc.wall == pytest.approx(0.5) and sc.cpu == pytest.approx(2.0)
    r = _fake_runner("text_corpus")
    r.scale = sc
    e2e = run.end_to_end(10.0, [4.0, 6.0, 5.0], r)
    assert e2e["setup_s"][0] == pytest.approx(5.0)
    assert e2e["pass_s"][0] == pytest.approx(2.5)
    assert e2e["latency_p50_s"][0] == pytest.approx(0.15)
    # three reads of 0.3 s in each recorded pass
    assert e2e["read_s_per_pass"][0] == pytest.approx(0.45)
    assert e2e["cpu_s_per_pass"][0] == pytest.approx(0.3 * 2.0 * len(workloads.TEXT_MIX) * 2 / 3)


def test_benchmark_json_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"


def test_proc_tree_counts_live_and_reaped_children():
    me = os.getpid()
    before = proctree.tree_cpu_seconds(me)
    child = subprocess.Popen([sys.executable, "-c", _BURN + "time.sleep(30)\n"])
    try:
        deadline = time.monotonic() + 20
        while proctree.cpu_seconds(child.pid) < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in proctree.tree_pids(me)
        live = proctree.tree_cpu_seconds(me) - before
        assert live >= 0.5
        assert proctree.tree_peak_rss_mb(me) > proctree.peak_rss_mb(me) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    # once reaped, the child's time is counted in our cutime
    assert child.pid not in proctree.tree_pids(me)
    assert proctree.tree_cpu_seconds(me) - before >= 0.5
    assert proctree.tree_cpu_seconds(me, match="no-such-process") == 0.0


def test_steal_share():
    before = [100, 0, 10, 800, 0, 0, 0, 90, 0, 0]
    after = [150, 0, 20, 900, 0, 0, 0, 130, 0, 0]
    assert proctree.steal_share(before, after) == 40 / 200
    assert proctree.steal_share(before, before) == 0.0
    assert len(proctree.cpu_ticks()) >= 8


def test_event_log_totals_per_group(tmp_path):
    props = {"spark.jobGroup.id": "w/q/exec", "spark.job.description": "pass 1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 3, "Submission Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1500},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 250,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**21},
                          "Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 2**20}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    totals = read_event_log(str(tmp_path))
    g = totals[("w/q/exec", "pass 1")]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert g.cpu_s == 2.0 and g.gc_s == 0.25 and g.task_wait_s == 0.5
    assert g.shuffle_write_mb == 1.0 and g.shuffle_read_mb == 2.0 and g.input_mb == 1.0
    assert totals[(None, None)].jobs == 1


def test_tracer_disabled_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    t.wrap_sources()
    assert t.spans == [] and t._patched == []


def test_traced_fan_out_runs_no_job(tmp_path):
    """Recording fan_out's width starts no Spark job: on a single-split
    input fan_out repartitions, and reading the width from that output
    under adaptive execution would run its exchange."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdataproject_spark.session import get_spark
    from bigdataproject_spark.sources import readers

    pq.write_table(pa.table({"x": list(range(100))}), tmp_path / "t.parquet")
    spark = get_spark("perfbench-test", master="local[2]", extra_conf={
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
    })
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(group):
        # the listener bus is ordered: once a later job in another group
        # shows, every job of ``group`` has shown too
        sc.setJobGroup("sentinel", "")
        before = len(tracker.getJobIdsForGroup("sentinel"))
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while len(tracker.getJobIdsForGroup("sentinel")) == before and time.monotonic() < deadline:
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(group))

    tracer = Tracer(True)
    tracer.wrap_sources()
    try:
        df = spark.read.parquet(str(tmp_path / "t.parquet"))
        sc.setJobGroup("traced", "")
        out = readers.fan_out(df)
        assert out is not df
        assert tracer.named("sources.fan_out")[-1].attrs["partitions"] == 2
        assert jobs_in("traced") == []
        # the check can see such a job: executing the output's plan runs one
        sc.setJobGroup("untraced", "")
        out.rdd.getNumPartitions()
        assert jobs_in("untraced") != []
    finally:
        tracer.unwrap_sources()
        spark.stop()



def test_thread_cpu_counts_named_threads_only():
    import ctypes
    import threading

    named, go, burned, done = (threading.Event() for _ in range(4))

    def burn():
        # PR_SET_NAME (15) names the calling thread for the kernel
        ctypes.CDLL(None).prctl(15, b"pb-burner", 0, 0, 0)
        named.set()
        go.wait()
        t = time.thread_time()
        while time.thread_time() - t < 0.3:
            pass
        burned.set()
        done.wait()

    worker = threading.Thread(target=burn)
    worker.start()
    named.wait()
    me = os.getpid()
    before = proctree.thread_cpu_seconds(me, "pb-burn")
    go.set()
    t = time.thread_time()
    while time.thread_time() - t < 0.3:  # the main thread burns too, unnamed
        pass
    burned.wait()
    after = proctree.thread_cpu_seconds(me, "pb-burn")
    done.set()
    worker.join()
    assert len(after) == 1
    delta = sum(c - before.get(tid, 0.0) for tid, c in after.items())
    assert 0.25 <= delta <= 0.45
