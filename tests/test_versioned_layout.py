"""Unit coverage of the versioned-table primitives themselves
(operators/versioned.py) — the crash shapes the integration tests
don't isolate: orphan (complete-but-unpublished) generations, corrupt
or dangling pointer files, and publish-time GC's keep set."""

from __future__ import annotations

import os
import shutil

import pytest

from bigdataproject_spark.operators.versioned import (
    TableMissingError,
    complete_versions,
    pointer_version,
    publish_version,
    table_overwrite_target,
    table_read_dir,
    versioned_dir,
)


@pytest.fixture()
def root(spark, tmp_path):
    """An index root with a legacy table plus helpers to mint complete
    generation dirs from the same 3-row frame."""
    p = str(tmp_path / "idx")
    df = spark.range(3).toDF("id")
    df.write.parquet(f"{p}/t")

    def gen(v: int, publish: bool = False, prev: str | None = None):
        df.write.mode("overwrite").parquet(versioned_dir(p, "t", v))
        if publish:
            publish_version(spark, p, "t", v, prev)

    return p, gen


def test_orphan_generation_is_skipped_not_served(spark, root):
    """Crash after the next generation's write but BEFORE publish: the
    pointer still names the old state, readers must keep resolving it
    (the orphan was never announced), and the next rewrite must target
    the generation AFTER the orphan (a pointer-less reader could be
    mid-resolve on it — never overwrite)."""
    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    gen(2)  # orphan: complete on disk, never published
    assert pointer_version(spark, p, "t") == 1
    assert complete_versions(spark, p, "t") == [1, 2]
    assert table_read_dir(spark, p, "t") == versioned_dir(p, "t", 1)
    tgt, ver = table_overwrite_target(spark, p, "t")
    assert (tgt, ver) == (versioned_dir(p, "t", 3), 3)


def test_corrupt_pointer_falls_to_newest_complete(spark, root):
    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    with open(f"{p}/t.version", "w") as f:
        f.write("not-a-number")
    assert pointer_version(spark, p, "t") is None
    assert table_read_dir(spark, p, "t") == versioned_dir(p, "t", 1)


def test_dangling_pointer_falls_to_newest_complete(spark, root):
    """The pointer names a generation whose directory is gone (e.g. a
    manual cleanup): resolution must not error on the dangling name."""
    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    gen(2, publish=True, prev=versioned_dir(p, "t", 1))
    shutil.rmtree(versioned_dir(p, "t", 2))
    assert pointer_version(spark, p, "t") == 2
    assert table_read_dir(spark, p, "t") == versioned_dir(p, "t", 1)


def test_incomplete_generation_never_resolves(spark, root):
    """A generation dir without _SUCCESS is a crashed write — invisible
    to readers and to the newest-complete fallback."""
    p, gen = root
    os.makedirs(versioned_dir(p, "t", 1))  # no _SUCCESS
    assert complete_versions(spark, p, "t") == []
    assert table_read_dir(spark, p, "t") == f"{p}/t"  # legacy wins


def test_publish_gc_keeps_exactly_new_and_grace(spark, tmp_path):
    p2 = str(tmp_path / "idx")
    df = spark.range(3).toDF("id")
    df.write.parquet(f"{p2}/t")
    df.write.parquet(versioned_dir(p2, "t", 1))
    publish_version(spark, p2, "t", 1, f"{p2}/t")
    assert os.path.isdir(f"{p2}/t")  # grace copy survives this cycle
    df.write.parquet(versioned_dir(p2, "t", 2))
    publish_version(spark, p2, "t", 2, versioned_dir(p2, "t", 1))
    assert not os.path.isdir(f"{p2}/t")  # GC'd on the NEXT cycle
    assert os.path.isdir(versioned_dir(p2, "t", 1))  # new grace copy
    assert os.path.isdir(versioned_dir(p2, "t", 2))
    assert pointer_version(spark, p2, "t") == 2


def test_missing_table_raises(spark, tmp_path):
    with pytest.raises(TableMissingError):
        table_read_dir(spark, str(tmp_path / "nothing"), "t")


def test_orphan_gets_one_grace_cycle_then_dies(spark, root):
    """A complete-but-unpublished orphan (crash between write and
    publish) must survive the NEXT publish's GC — a pointer-less
    reader's newest-complete fallback could be resolving it — and be
    collected one cycle later, so orphans never accumulate."""
    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    gen(2)  # the orphan
    gen(3, publish=True, prev=versioned_dir(p, "t", 1))
    assert os.path.isdir(versioned_dir(p, "t", 2))  # grace granted
    assert not os.path.isdir(f"{p}/t")  # older-than-prev still GC'd
    gen(4, publish=True, prev=versioned_dir(p, "t", 3))
    assert not os.path.isdir(versioned_dir(p, "t", 2))  # one cycle only
    assert not os.path.isdir(versioned_dir(p, "t", 1))
    assert os.path.isdir(versioned_dir(p, "t", 3))


def test_legacy_dir_survives_first_publish_after_crashed_rewrite(
    spark, root
):
    """A crashed FIRST compaction (complete v1 written, never
    published) supersedes the legacy dir for newest-complete readers —
    but a reader that resolved legacy beforehand can still be
    scanning. The re-run's publish (v2, prev=v1) is the first publish
    this table ever had: the legacy dir gets the standard one-cycle
    grace instead of dying on it."""
    p, gen = root
    gen(1)  # crash: complete but unpublished
    gen(2, publish=True, prev=versioned_dir(p, "t", 1))
    assert os.path.isdir(f"{p}/t")  # grace on the FIRST publish
    assert os.path.isdir(versioned_dir(p, "t", 1))
    gen(3, publish=True, prev=versioned_dir(p, "t", 2))
    assert not os.path.isdir(f"{p}/t")  # collected one cycle later
    assert not os.path.isdir(versioned_dir(p, "t", 1))


def test_n_parquet_files_skips_temporary_trees(spark, tmp_path):
    """Part files stranded under a crashed write's _temporary tree have
    a NON-hidden immediate parent (cell=7) — the counter must still
    skip them (any hidden path component), or the file-count compaction
    trigger fires on every batch after one crash."""
    from bigdataproject_spark.operators.versioned import n_parquet_files

    d = str(tmp_path / "t")
    spark.range(3).toDF("id").write.parquet(d)
    live = n_parquet_files(spark, d)
    assert live > 0
    stranded = f"{d}/_temporary/0/attempt_1/cell=7"
    os.makedirs(stranded)
    spark.range(2).toDF("id").write.mode("overwrite").parquet(
        f"{stranded}/inner"
    )
    assert n_parquet_files(spark, d) == live  # unchanged


def _walk_count(spark, dirpath: str) -> int:
    """Reference: the recursive Hadoop walk the counter replaced —
    ``.parquet`` files with no hidden directory below the root."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dirpath)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return 0
    root = p.toUri().getPath().rstrip("/")
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        fp = it.next().getPath()
        if not fp.getName().endswith(".parquet"):
            continue
        rel = fp.toUri().getPath()[len(root):].lstrip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")[:-1]):
            continue
        n += 1
    return n


def test_n_parquet_files_listing_cases(spark, tmp_path):
    """The counter skips a ``_centroids`` subdirectory and visible
    non-parquet files, sees a file the filesystem copied in after a
    first count (no stale listing), and reads a missing dir as 0."""
    from bigdataproject_spark.operators.versioned import n_parquet_files

    d = str(tmp_path / "cells")
    cells = spark.range(8).selectExpr("id", "id % 2 AS cell").repartition(2)
    cells.write.partitionBy("cell").parquet(d)
    live = n_parquet_files(spark, d)
    assert live == _walk_count(spark, d) > 0
    spark.range(2).coalesce(1).write.parquet(f"{d}/_centroids")
    with open(f"{d}/notes.txt", "w") as f:
        f.write("not a part file\n")
    assert n_parquet_files(spark, d) == _walk_count(spark, d) == live
    part = next(
        f for f in sorted(os.listdir(f"{d}/cell=0")) if f.endswith(".parquet")
    )
    shutil.copy(f"{d}/cell=0/{part}", f"{d}/cell=0/copied-{part}")
    assert n_parquet_files(spark, d) == _walk_count(spark, d) == live + 1
    assert n_parquet_files(spark, str(tmp_path / "missing")) == 0


def test_n_parquet_files_equals_walk_on_both_indexes(spark, tmp_path):
    """Equal to the recursive walk on a compacted IVF index (cells and
    stats generations, old and new) and on the dedup index's bands and
    shingles tables, before and after their compaction."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.dedup import hashed_word_shingles
    from bigdataproject_spark.operators.dedup_index import (
        accept_batch,
        compact_index,
        write_minhash_index,
    )
    from bigdataproject_spark.operators.simsearch import (
        ivf_append_index,
        ivf_compact_index,
        ivf_write_index_from_centroids,
    )
    from bigdataproject_spark.operators.versioned import n_parquet_files

    kw = dict(id_col="vec_id", vec_col="embedding")
    ivf = str(tmp_path / "ivf")
    vecs = "vec_id long, embedding array<double>"
    ivf_write_index_from_centroids(
        spark.createDataFrame([(i, [float(i % 5), 1.0]) for i in range(40)], vecs),
        ivf, [(c, [float(c), 1.0]) for c in range(3)], **kw,
    )
    for b in range(2):
        ivf_append_index(
            spark.createDataFrame(
                [(100 * (b + 1) + i, [float(i % 4), 1.0]) for i in range(10)], vecs
            ),
            ivf, **kw,
        )
    ivf_compact_index(spark, ivf)
    ivf_dirs = [
        f"{ivf}/{name}"
        for name in sorted(os.listdir(ivf))
        if name.startswith(("cells", "stats")) and os.path.isdir(f"{ivf}/{name}")
    ]
    assert len(ivf_dirs) == 4  # gen 0 (the grace copy) + gen 1, per table

    def docs(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tokens = F.filter(F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != "")
        return df.withColumn("tokens", tokens).withColumn(
            "shingles", hashed_word_shingles("tokens", 3)
        )

    dd = str(tmp_path / "dedup")
    dkw = dict(id_col="doc_id", shingles_col="shingles")
    write_minhash_index(
        docs([(1, "the old sailor and the young cook set out to sea at dawn")]),
        dd,
        **dkw,
    )
    accept_batch(
        spark, docs([(2, "a distinct text about winter storage of root vegetables")]),
        dd, threshold=0.8, **dkw,
    )
    dedup_dirs = [f"{dd}/bands", f"{dd}/shingles"]
    counts = [(d, n_parquet_files(spark, d), _walk_count(spark, d)) for d in dedup_dirs]
    compact_index(spark, dd)
    dedup_dirs += [f"{dd}/bands-v1", f"{dd}/shingles-v1"]
    for d in ivf_dirs + dedup_dirs:
        counts.append((d, n_parquet_files(spark, d), _walk_count(spark, d)))
    for d, got, want in counts:
        assert got == want > 0, d


class _FakeJavaExc:
    def __init__(self, name, cause=None):
        self._name, self._cause = name, cause

    def getClass(self):
        class _C:
            def __init__(self, n):
                self._n = n

            def getName(self):
                return self._n

        return _C(self._name)

    def getCause(self):
        return self._cause


class _FakePy4JError(Exception):
    def __init__(self, java_name):
        super().__init__(java_name)
        self.java_exception = _FakeJavaExc(java_name)


def test_pointer_vanished_mid_read_is_absent(spark, root, monkeypatch):
    """r8-end driver ADVICE: only 'the pointer is effectively absent'
    failures (FileNotFound — deleted between exists() and open() by a
    flip fallback; local checksum mismatch on a half-replaced file) may
    degrade to the newest-complete fallback."""
    import bigdataproject_spark.operators.versioned as V

    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    for name in (
        "java.io.FileNotFoundException",
        "org.apache.hadoop.fs.ChecksumException",
    ):
        monkeypatch.setattr(
            V, "read_tiny_file",
            lambda fs, pp, cap=64, _n=name: (_ for _ in ()).throw(
                _FakePy4JError(_n)
            ),
        )
        assert V.pointer_version(spark, p, "t") is None
        assert V.table_read_dir(spark, p, "t") == versioned_dir(p, "t", 1)


def test_pointer_transient_io_error_propagates(spark, root, monkeypatch):
    """A genuine transient IO failure must NOT be swallowed as 'no
    pointer' — falling back could silently serve a complete-but-
    unpublished orphan generation. One retry, then raise."""
    import pytest

    import bigdataproject_spark.operators.versioned as V

    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    gen(2)  # complete orphan the broad-swallow bug would have served
    calls = []

    def _flaky(fs, pp, cap=64):
        calls.append(1)
        raise _FakePy4JError("java.io.IOException")

    monkeypatch.setattr(V, "read_tiny_file", _flaky)
    with pytest.raises(Exception):
        V.pointer_version(spark, p, "t")
    assert len(calls) == 2  # one retry before propagating

    # a transient fault that clears on the retry resolves normally
    calls.clear()
    from bigdataproject_spark.operators.lease import read_tiny_file as _real

    def _once(fs, pp, cap=64):
        calls.append(1)
        if len(calls) == 1:
            raise _FakePy4JError("java.io.IOException")
        return _real(fs, pp, cap)

    monkeypatch.setattr(V, "read_tiny_file", _once)
    assert V.pointer_version(spark, p, "t") == 1


def test_two_publish_snapshot_expiry_contract(spark, root):
    """The grace-window contract, pinned from the LOSS side: a reader's
    resolution survives exactly ONE subsequent publish (its generation
    is the previous-live grace copy), and is GC'd by the SECOND — the
    window the cadence fields (publish_cadence / ivf_index_drift
    generation+age) exist to alarm on. If this test ever starts
    failing because the old generation survives longer, the disk-cost
    bound in the module docstring changed too."""
    import os

    p, gen = root
    gen(1, publish=True, prev=f"{p}/t")
    held = table_read_dir(spark, p, "t")
    assert held == versioned_dir(p, "t", 1)

    gen(2, publish=True, prev=versioned_dir(p, "t", 1))
    # one publish later: the held resolution still reads fine (grace)
    assert os.path.isdir(held)
    assert spark.read.parquet(held).count() == 3

    gen(3, publish=True, prev=versioned_dir(p, "t", 2))
    # two publishes later: the held generation is gone — the documented
    # snapshot-expiry loss a too-fast compaction cadence causes
    assert not os.path.isdir(held)
    assert table_read_dir(spark, p, "t") == versioned_dir(p, "t", 3)
