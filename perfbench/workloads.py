"""The workloads: their operations, and how each output is checked.

Every operation is ``build`` (driver-side construction through the
engine's public entry point) followed by ``run`` (execution), then a
``check`` the runner calls outside the timed window. Operations are
reads, whose result comes back to the client, or writes, which persist
data through the engine's writers or the IVF index layout.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

from perfbench import gen

TEXT_MIX = {
    "word_count": "read",
    "graph_edges": "read",
    "dedup_exact": "write",
    "dedup_minhash_lsh": "write",
    "text_quality_langid": "write",
    "span_dedup_report": "read",
}
VECTOR_OPS = {"ivf_search": "read", "ivf_append": "write", "ivf_compact": "write"}

MIXES = {"text_corpus": TEXT_MIX, "vector_index": VECTOR_OPS}
# Operations with per-op metrics in a traced run: those of every
# workload, so each run prints the same keys.
TRACED_OPS = [op for mix in MIXES.values() for op in mix]


IVF_CENTROIDS = 16
IVF_KMEANS_ITERS = 2
IVF_PROBE = 4
IVF_K = 10
RECALL_SAMPLE = 10
MIN_RECALL = 0.9

# The tables each workload's operations read.
INPUT_TABLES = {
    "text_corpus": ["documents"],
    "vector_index": ["embeddings", "queries"],
}


@dataclass
class Op:
    name: str
    kind: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as ``oracle.compare`` sees them: columns ordered by name,
    cells normalized, rows sorted."""
    from bigdataproject_spark.oracle import _norm_cell, _sort_key

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows), key=_sort_key
    )


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class QueryMix:
    """text_corpus: registry queries against their oracles, read ops
    collected, write ops persisted with ``writers.write_parquet`` and
    read back for the check."""

    def __init__(self, name: str, mix: dict[str, str], spark, in_dir: str, out_dir: str, seed: int):
        from bigdataproject_spark.queries import registry
        from bigdataproject_spark.queries_pipeline import EXTRA_PARITY

        reg = {**EXTRA_PARITY, **registry()}
        self.name, self.mix, self.spark = name, mix, spark
        self.in_dir, self.out_dir, self.seed = in_dir, out_dir, seed
        self.queries = {q: reg[q] for q in mix}
        # timed passes per run, so every run takes medians over as many
        self.min_passes = 3
        # host-speed probes after each timed op (see hostspeed)
        self.probes_per_op = 1
        self._oracle: dict[str, tuple[list[str], str, list[tuple]]] = {}

    def prepare(self) -> None:
        pass

    def oracle(self, q: str) -> tuple[list[str], str, list[tuple]]:
        if q not in self._oracle:
            from bigdataproject_spark.oracle import run_oracle

            cols, rows = run_oracle(self.queries[q].oracle, self.in_dir)
            canon = _canonical(cols, rows)
            self._oracle[q] = (sorted(cols), _digest(canon), canon)
        return self._oracle[q]

    def _verify(self, q: str, cols: list[str], rows: list[tuple]) -> str | None:
        o_cols, o_digest, o_rows = self.oracle(q)
        if sorted(cols) != o_cols:
            return f"{q}: columns {sorted(cols)} != oracle {o_cols}"
        canon = _canonical(cols, rows)
        if _digest(canon) == o_digest:
            return None
        if len(canon) != len(o_rows):
            return f"{q}: {len(canon)} rows != oracle {len(o_rows)}"
        bad = next(i for i, (a, b) in enumerate(zip(canon, o_rows)) if a != b)
        return f"{q}: row {bad} {canon[bad]!r} != oracle {o_rows[bad]!r}"

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(q, pass_no) for q in self.mix]

    def _op(self, q: str, pass_no: int) -> Op:
        fn = self.queries[q].fn

        def build():
            return fn(self.spark, self.in_dir)

        if self.mix[q] == "read":
            def run(df):
                return df, df.collect()

            def check(res):
                df, rows = res
                return self._verify(q, df.columns, [tuple(r) for r in rows])
        else:
            path = os.path.join(self.out_dir, q, f"p{pass_no}")

            def run(df):
                from bigdataproject_spark.sources.writers import write_parquet

                write_parquet(df, path)
                return path

            def check(res):
                t = pq.read_table(res)
                rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
                shutil.rmtree(res, ignore_errors=True)
                return self._verify(q, t.column_names, rows)

        return Op(q, self.mix[q], build, run, check)

    def finish(self) -> list[str]:
        return []


def _index_files(idx: str, read_dir: str) -> list[str]:
    """Parquet files a scan of ``read_dir`` reads (no hidden path
    component below it, as ``versioned.n_parquet_files`` counts)."""
    out = []
    for p in glob.glob(os.path.join(read_dir, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(p, read_dir).split(os.sep)[:-1]
        if not any(seg.startswith(("_", ".")) for seg in rel):
            out.append(p)
    return out


class VectorIndex:
    """vector_index: an IVF index built in set-up, then per pass an
    append batch, two search batches, which read the appended files as
    well, and a compaction."""

    name = "vector_index"
    min_passes = 2
    probes_per_op = 2

    def __init__(self, spark, in_dir: str, out_dir: str, seed: int):
        self.spark, self.in_dir, self.seed = spark, in_dir, seed
        self.idx = os.path.join(out_dir, "ivf")
        self.appended = self.batches_used = 0
        self.indexed_at_last_search = 0
        self.last_search: list = []

    def _path(self, name: str) -> str:
        return os.path.join(self.in_dir, f"{name}.parquet")

    def _kw(self) -> dict:
        return {"id_col": "vec_id", "vec_col": "embedding"}

    def read_dir(self) -> str:
        from bigdataproject_spark.operators.versioned import table_read_dir

        return table_read_dir(self.spark, self.idx, "cells")

    def indexed_rows(self) -> int:
        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in _index_files(self.idx, self.read_dir())
        )

    def index_stats(self) -> tuple[int, int]:
        """(parquet files a search scans, bytes of the whole index
        generation it reads, centroids included)."""
        d = self.read_dir()
        files = _index_files(self.idx, d)
        size = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        )
        return len(files), size

    def prepare(self) -> None:
        from bigdataproject_spark.operators.simsearch import ivf_write_index

        shutil.rmtree(self.idx, ignore_errors=True)
        ivf_write_index(
            self.spark.read.parquet(self._path("embeddings")), self.idx,
            n_centroids=IVF_CENTROIDS, seed=self.seed, max_iter=IVF_KMEANS_ITERS,
            **self._kw(),
        )
        got = self.indexed_rows()
        if got != gen.VEC_BASE:
            raise RuntimeError(f"index build: {got} rows indexed, expected {gen.VEC_BASE}")

    def ops(self, pass_no: int) -> list[Op]:
        return [self._append(), self._search(), self._search(), self._compact()]

    def _expected_rows(self) -> int:
        return gen.VEC_BASE + self.appended * gen.VEC_APPEND

    def _search(self) -> Op:
        from bigdataproject_spark.operators.simsearch import ivf_topk_indexed

        def build():
            q = self.spark.read.parquet(self._path("queries"))
            return ivf_topk_indexed(
                self.spark, self.idx, q, k=IVF_K, n_probe=IVF_PROBE,
                exclude_self=False, **self._kw(),
            )

        def run(df):
            return df.collect()

        def check(rows):
            self.last_search = rows
            self.indexed_at_last_search = self.appended
            per_q: dict[int, list[int]] = {}
            for r in rows:
                per_q.setdefault(r["q_id"], []).append(r["rank"])
            if len(per_q) != gen.VEC_QUERIES:
                return f"ivf_search: {len(per_q)} queries answered of {gen.VEC_QUERIES}"
            bad = [q for q, ranks in per_q.items() if sorted(ranks) != list(range(1, IVF_K + 1))]
            if bad:
                return f"ivf_search: query {bad[0]} ranks {sorted(per_q[bad[0]])}"
            top = self._expected_rows()
            if any(r["neighbor_id"] >= top for r in rows):
                return "ivf_search: neighbor id outside the indexed rows"
            return None

        return Op("ivf_search", "read", build, run, check)

    def _append(self) -> Op:
        from bigdataproject_spark.operators.simsearch import ivf_append_index

        if self.batches_used >= gen.VEC_APPEND_BATCHES:
            raise RuntimeError("vector_index ran out of generated append batches")
        batch = self._path(f"append_{self.batches_used:03d}")
        self.batches_used += 1

        def build():
            return self.spark.read.parquet(batch)

        def run(df):
            return ivf_append_index(df, self.idx, **self._kw())

        def check(_report):
            self.appended += 1
            got, want = self.indexed_rows(), self._expected_rows()
            return None if got == want else f"ivf_append: {got} rows indexed, expected {want}"

        return Op("ivf_append", "write", build, run, check)

    def _compact(self) -> Op:
        from bigdataproject_spark.operators.simsearch import ivf_compact_index

        def run(_):
            return ivf_compact_index(self.spark, self.idx)

        def check(_report):
            got, want = self.indexed_rows(), self._expected_rows()
            return None if got == want else f"ivf_compact: {got} rows indexed, expected {want}"

        return Op("ivf_compact", "write", lambda: None, run, check)

    def finish(self) -> list[str]:
        """Recall of the last search batch against ``brute_force_topk``
        over the same indexed rows, on a seeded sample of queries."""
        from pyspark.sql import functions as F

        from bigdataproject_spark.operators.simsearch import brute_force_topk

        sample = sorted(
            random.Random(self.seed).sample(range(gen.VEC_QUERIES), RECALL_SAMPLE)
        )
        ids = [gen.QUERY_ID_BASE + i for i in sample]
        paths = [self._path("embeddings")] + [
            self._path(f"append_{b:03d}") for b in range(self.indexed_at_last_search)
        ]
        corpus = self.spark.read.parquet(*paths).select("vec_id", "embedding")
        q = self.spark.read.parquet(self._path("queries")).filter(F.col("vec_id").isin(ids))
        truth: dict[int, set[int]] = {}
        for r in brute_force_topk(corpus, q, k=IVF_K, exclude_self=False, **self._kw()).collect():
            truth.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        found: dict[int, set[int]] = {}
        for r in self.last_search:
            if r["q_id"] in truth:
                found.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & found.get(q, set())) for q in truth)
        recall = hits / (IVF_K * len(ids))
        if recall < MIN_RECALL:
            return [f"ivf_search recall {recall:.3f} < {MIN_RECALL} on {len(ids)} sampled queries"]
        return []


def make(name: str, spark, in_dir: str, out_dir: str, seed: int):
    if name == "text_corpus":
        return QueryMix(name, TEXT_MIX, spark, in_dir, out_dir, seed)
    if name == "vector_index":
        return VectorIndex(spark, in_dir, out_dir, seed)
    raise ValueError(f"unknown workload {name!r}")
