"""The measurement harness shared by the tools (tools/sweeplib.py and
tools/sweep.py): the per-case watchdog's timeout, error and taint rows,
the warm-pass rule, the per-pass metric arithmetic and the fresh-JVM
chunk deal of ``sweep.py --chunks``."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import sweep  # noqa: E402
import sweeplib  # noqa: E402

ROW_KEYS = {
    "sec", "cpu_s", "py_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
    "jobs", "stages", "tasks",
}


def test_timeout_row_cancels_drains_and_leaks_no_thread(spark):
    def small():
        return spark.range(1000).selectExpr("sum(id)")

    sweeplib.force(small())  # warm, so the next case fits the timeout
    cases = {
        # hours of work; id % 7 keeps the sum from overflowing first
        "sweeplib-slow": lambda: spark.range(10**12).selectExpr("sum(id % 7)"),
        "sweeplib-next": small,
    }
    out, leaked = sweeplib.run_cases(spark, cases, timeout_s=4)
    slow, nxt = out["sweeplib-slow"], out["sweeplib-next"]
    assert slow["timeout"] is True
    assert "leaked_thread" not in slow
    assert leaked == []
    assert not [t for t in threading.enumerate() if t.name.startswith("sweep:")]
    assert spark.sparkContext.statusTracker().getActiveStageIds() == []
    # the cancelled case left nothing running, so the next row is trusted
    assert set(nxt) == ROW_KEYS


def test_raising_cases_give_error_rows(spark):
    def python_error():
        raise ValueError("no such table")

    cases = {
        "sweeplib-py-error": python_error,
        "sweeplib-spark-error": lambda: spark.range(1).selectExpr(
            "raise_error('sweep boom')"
        ),
        "sweeplib-after-error": lambda: spark.range(10),
    }
    out, leaked = sweeplib.run_cases(spark, cases, timeout_s=120)
    assert out["sweeplib-py-error"] == {"error": "ValueError: no such table"}
    assert set(out["sweeplib-spark-error"]) == {"error"}
    assert "sweep boom" in out["sweeplib-spark-error"]["error"]
    assert leaked == []
    assert set(out["sweeplib-after-error"]) == ROW_KEYS


@pytest.mark.parametrize("passes,builds", [(1, 1), (3, 4)])
def test_warm_pass_only_with_several_passes(spark, passes, builds):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10)

    out, _ = sweeplib.run_cases(spark, {"sweeplib-warm": build}, 120, passes)
    assert len(calls) == builds
    assert set(out["sweeplib-warm"]) == ROW_KEYS


def test_window_metrics_are_per_pass():
    t0 = dict.fromkeys(
        ("cpu_ns", "shuffle_write", "shuffle_read", "stages", "tasks", "jobs"), 0
    )
    t0["py_cpu_s"] = 10.0
    t1 = {
        "cpu_ns": 3_000_000_000, "shuffle_write": 3_000_000,
        "shuffle_read": 1_500_000, "stages": 6, "tasks": 7, "jobs": 3,
        "py_cpu_s": 11.5,
    }
    assert sweeplib.window_metrics(t0, t1, passes=3) == {
        "cpu_s": 1.0, "py_cpu_s": 0.5, "shuffle_write_mb": 1.0,
        "shuffle_read_mb": 0.5, "jobs": 1, "stages": 2, "tasks": 2.3,
    }


def test_measured_window_counts_the_python_workers_cpu(spark):
    """``executorCpuTime`` misses the Python workers; ``py_cpu_s`` is
    where a mapInPandas operator's own CPU shows."""

    def burn(batches):
        import time

        import pandas as pd

        start = time.process_time()
        while time.process_time() - start < 0.4:
            pass
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [1]})

    df = spark.range(0, 2, 1, 2)
    sweeplib.force(df.mapInPandas(burn, "n long"))  # start the workers
    n, row = sweeplib.measured(spark, lambda: df.mapInPandas(burn, "n long").count())
    assert n == 2
    assert set(row) == ROW_KEYS
    assert row["py_cpu_s"] >= 0.7  # two tasks x 0.4 CPU-s, tick-rounded
    assert row["jobs"] >= 1


@pytest.mark.parametrize("n_chunks", [1, 3, 10])
def test_chunks_deal_every_registry_name_by_salted_name_hash(n_chunks):
    from bigdataproject_spark.queries import registry

    names = sorted(registry())
    chunks = sweep.deal(names, n_chunks)
    assert len(chunks) == n_chunks
    assert sorted(n for c in chunks for n in c) == names
    for i, chunk in enumerate(chunks):
        assert chunk == sorted(chunk)
        for name in chunk:
            h = int(hashlib.md5(f"v3:{name}".encode()).hexdigest(), 16)
            assert h % n_chunks == i, name


def test_chunks_rerun_sweep_per_chunk_and_merge(monkeypatch, tmp_path):
    names = ["a", "b", "c", "d", "e"]
    chunks = [c for c in sweep.deal(names, 4) if c]
    assert len(chunks) >= 2
    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        chunk = cmd[cmd.index("--passes") + 2:]
        if chunk == chunks[-1]:  # the last chunk's JVM dies
            return SimpleNamespace(returncode=137, stdout="", stderr="Killed\n")
        line = {
            "queries": {n: {"sec": 1.0} for n in chunk},
            "leaked_threads": [],
            "control_sec": 0.5,
        }
        return SimpleNamespace(returncode=0, stdout=json.dumps(line), stderr="")

    monkeypatch.setattr(sweep.subprocess, "run", fake_run)
    args = SimpleNamespace(
        sf_dir=str(tmp_path), timeout=30.0, passes=2, chunks=4, names=names
    )
    out = sweep.sweep_chunks(args)
    assert [c[c.index("--passes") + 2:] for c in calls] == chunks
    assert all(c[1] == os.path.abspath(sweep.__file__) for c in calls)
    assert all(c[3:7] == ["--timeout", "30.0", "--passes", "2"] for c in calls)
    assert sorted(out["queries"]) == names
    for n in chunks[-1]:
        assert out["queries"][n]["error"].startswith("chunk died rc=137")
    assert out["control_sec_per_chunk"] == [0.5] * (len(chunks) - 1)
    assert out["total_sec"] == float(len(names) - len(chunks[-1]))
