"""The engine's Python worker module (``pyspark_graft_worker``) and the
session settings that select it.

* The stat guard: ``importlib.invalidate_caches()`` leaves an unchanged
  zip archive's directory as read, and re-reads a rewritten archive
  exactly once for all of its importers.
* ``python_worker_conf``: local sessions get the worker module and the
  checkout root on the workers' ``PYTHONPATH``, merged with the
  caller's; other masters get neither.
* The workers of a session run with the guard installed, and engine
  UDFs import the package from a driver started outside the checkout.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import pyspark_graft_worker
from bigdataproject_spark import session as session_mod
from bigdataproject_spark.session import REPO_ROOT, WORKER_MODULE, python_worker_conf

PKG = "graft_zip_probe"


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write a fresh archive and move it over ``path`` (a new inode)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{PKG}/{name}.py", src)
    os.replace(tmp, path)


def _importers(archive: str) -> list:
    return [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture()
def zip_pkg(tmp_path, monkeypatch):
    """An archive on sys.path holding package ``PKG``; yields (archive
    path, list of the paths the directory reader was called with)."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in [m for m in sys.modules if m == PKG or m.startswith(f"{PKG}.")]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]


def test_guard_rereads_an_archive_only_when_it_changes(zip_pkg):
    archive, reads = zip_pkg
    assert pyspark_graft_worker.install_zip_guard()
    assert importlib.import_module(f"{PKG}.a").A == 1
    importers = _importers(archive)
    assert len(importers) == 2  # the archive root and the package dir
    del reads[:]

    importlib.invalidate_caches()  # the archive's first stat: one read
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: no re-read

    _write_zip(archive, {"a": "A = 1\n", "b": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # one re-read shared by both importers
    assert importlib.import_module(f"{PKG}.b").B == 2
    assert all(f"{PKG}/b.py" in f._files for f in importers)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


def test_guard_keeps_stock_behaviour_for_an_archive_it_cannot_stat(zip_pkg):
    archive, reads = zip_pkg
    importlib.import_module(f"{PKG}.a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    importers = _importers(archive)
    # stock: a failed read empties the importer's directory
    assert importers and all(f._files == {} for f in importers)
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.parametrize("layout", ["no directory reader", "lazy directory"])
def test_guard_is_not_installed_without_the_zipimport_internals(monkeypatch, layout):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lambda self: None)
    if layout == "no directory reader":
        monkeypatch.delattr(zipimport, "_read_directory")
    else:  # CPython >= 3.13 reads the directory on demand
        monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    assert pyspark_graft_worker.install_zip_guard() is False
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "stat_guarded")
    monkeypatch.undo()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_local_master_gets_worker_module_and_checkout_root():
    assert python_worker_conf("local[4]", {}) == {
        "spark.python.worker.module": WORKER_MODULE,
        "spark.executorEnv.PYTHONPATH": REPO_ROOT,
    }
    assert python_worker_conf("local", {})["spark.python.worker.module"] == WORKER_MODULE
    assert os.path.isfile(os.path.join(REPO_ROOT, f"{WORKER_MODULE}.py"))


def test_caller_pythonpath_is_kept_and_caller_worker_module_wins():
    caller = {
        "spark.executorEnv.PYTHONPATH": f"/srv/a{os.pathsep}/srv/b",
        "spark.python.worker.module": "pyspark.worker",
    }
    assert python_worker_conf("local[*]", caller) == {
        "spark.python.worker.module": "pyspark.worker",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/srv/a", "/srv/b", REPO_ROOT]),
    }
    already = {"spark.executorEnv.PYTHONPATH": f"{REPO_ROOT}{os.pathsep}/srv/a"}
    assert python_worker_conf("local[2]", already)["spark.executorEnv.PYTHONPATH"] == (
        already["spark.executorEnv.PYTHONPATH"]
    )


@pytest.mark.parametrize("master", ["yarn", "spark://host:7077", "k8s://https://h:6443", "local-cluster[2,1,1024]"])
def test_non_local_master_gets_neither_setting(master):
    caller = {"spark.executorEnv.PYTHONPATH": "/srv/a"}
    assert python_worker_conf(master, caller) == {}
    conf = session_mod._resolve_conf(caller, master)
    assert conf["spark.executorEnv.PYTHONPATH"] == "/srv/a"
    assert "spark.python.worker.module" not in conf


def test_resolve_conf_composes_the_worker_settings_last():
    conf = session_mod._resolve_conf({"spark.executorEnv.PYTHONPATH": "/srv/a"}, "local[4]")
    assert conf["spark.python.worker.module"] == WORKER_MODULE
    assert conf["spark.executorEnv.PYTHONPATH"] == f"/srv/a{os.pathsep}{REPO_ROOT}"


def test_session_workers_run_with_the_guard(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({
            "guard": [bool(getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False))],
            "module": [WORKER_MODULE in sys.modules],
        })

    rows = spark.range(0, 4, 1, 2).mapInPandas(probe, "guard boolean, module boolean").collect()
    assert len(rows) == 2
    assert all(r.guard and r.module for r in rows)


_BLAS_FROM_ELSEWHERE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from bigdataproject_spark.session import get_spark
from bigdataproject_spark.operators.simsearch import brute_force_topk

spark = get_spark("worker-cwd", master="local[2]", extra_conf={"spark.sql.shuffle.partitions": "2"})
corpus = spark.createDataFrame(
    [(i, [float(i % 3), 1.0, float(i)]) for i in range(6)], "id long, v array<double>"
)
out = {
    impl: sorted(list(r) for r in brute_force_topk(
        corpus, corpus, id_col="id", vec_col="v", k=2, impl=impl
    ).collect())
    for impl in ("blas", "native")
}
print("ROWS " + json.dumps(out))
spark.stop()
"""


def test_blas_udf_runs_from_a_driver_outside_the_checkout(tmp_path):
    """The blas scan pickles a package helper by reference, so its
    workers must import ``bigdataproject_spark`` even when neither the
    driver's working directory nor its environment points at it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _BLAS_FROM_ELSEWHERE, REPO_ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[0][5:])
    assert len(out["blas"]) == 12  # 6 queries x top-2, self excluded
    assert out["blas"] == out["native"]
    assert [r[0] for r in out["blas"]] == [q for q in range(6) for _ in range(2)]
    assert all(r[0] != r[1] and r[3] in (1, 2) for r in out["blas"])
