"""IVF ANN: probing all cells must equal brute force exactly; partial
probe trades bounded recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataproject_spark.operators.simsearch import (
    brute_force_topk,
    ivf_topk_indexed,
    ivf_write_index,
)
from bigdataproject_spark.sources.readers import load_table


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.q_id, set()).add(r.neighbor_id)
    return out


def test_partial_probe_recall(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(
        brute_force_topk(emb, q, id_col="vec_id", vec_col="embedding", k=10).collect()
    )
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(emb, idx, id_col="vec_id", vec_col="embedding", n_centroids=16)
    approx = _topk_sets(
        ivf_topk_indexed(
            spark, idx, q, id_col="vec_id", vec_col="embedding", k=10,
            n_probe=6,
        ).collect()
    )
    recalls = [
        len(exact[qid] & approx.get(qid, set())) / len(exact[qid]) for qid in exact
    ]
    # random synthetic embeddings are the worst case for IVF (no cluster
    # structure); still require a meaningful floor
    assert sum(recalls) / len(recalls) >= 0.5


def test_tiny_corpus_clamps_centroids(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(
        emb.filter(F.col("vec_id") < 4), idx, id_col="vec_id",
        vec_col="embedding", n_centroids=16,
    )
    out = ivf_topk_indexed(
        spark, idx, emb.filter(F.col("vec_id") < 2),
        id_col="vec_id", vec_col="embedding", k=5, n_probe=4,
    )
    assert out.count() > 0  # k clamped to corpus size instead of throwing


def test_sampleq_full_probe_equals_brute_force(spark, sf_dir):
    """The sample-quantizer IVF (the hash-checked registry variant) must
    also collapse to exact brute force when every cell is probed, and
    its assignment plan must stay map-side (no shuffle of the corpus
    for cell assignment)."""
    from bigdataproject_spark.operators.simsearch import ivf_topk_sampleq

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    full = ivf_topk_sampleq(
        emb, q, id_col="vec_id", vec_col="embedding", k=5,
        n_centroids=8, n_probe=8,
    )
    e = sorted((r.q_id, r.rank, r.neighbor_id, r.cosine) for r in exact.collect())
    f = sorted((r.q_id, r.rank, r.neighbor_id, r.cosine) for r in full.collect())
    assert e == f


def test_sampleq_empty_corpus(spark, sf_dir):
    from bigdataproject_spark.operators.simsearch import ivf_topk_sampleq

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk_sampleq(
        emb.limit(0), emb.limit(3), id_col="vec_id", vec_col="embedding", k=5
    )
    assert out.count() == 0
    assert out.columns == ["q_id", "neighbor_id", "cosine", "rank"]


def test_ivf_indexed_prunes_and_full_probe_is_exact(spark, sf_dir, tmp_path):
    """The materialized IVF layout must (a) scan only probed cells via
    PARTITION pruning — not a post-scan data filter — and (b) reproduce
    exact brute force when every cell is probed."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(emb, idx, id_col="vec_id", vec_col="embedding", n_centroids=8)

    import os

    cell_dirs = {d for d in os.listdir(f"{idx}/cells") if d.startswith("cell=")}
    assert len(cell_dirs) > 1  # real Hive layout

    narrow = ivf_topk_indexed(
        spark, idx, queries, id_col="vec_id", vec_col="embedding", k=5, n_probe=2
    )
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "PartitionFilters: [isnotnull(cell" in plan
    # the cell predicate must prune partitions, not filter rows post-scan
    assert "PushedFilters: [In(cell" not in plan

    full = ivf_topk_indexed(
        spark, idx, queries, id_col="vec_id", vec_col="embedding", k=5,
        n_probe=len(cell_dirs),
    )
    brute = brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5
    )
    a = sorted((r.q_id, r.rank, r.neighbor_id, r.cosine) for r in full.collect())
    b = sorted((r.q_id, r.rank, r.neighbor_id, r.cosine) for r in brute.collect())
    assert a == b


def test_index_centroids_read_the_part_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The centroid table paired with a cells generation lives in
    ``_centroids``, whose leading ``_`` keeps it out of the cells scan.
    Read as a root path, Spark's file index treats that leaf as hidden
    (``All paths were ignored``), so the collect reads the part files:
    no root path of the relation has a hidden leaf, and the rows equal
    the written centroids."""
    from pyspark.sql.readwriter import DataFrameReader

    from bigdataproject_spark.operators.simsearch import (
        _collect_index_centroids,
        ivf_write_index_from_centroids,
        sample_centroids,
    )
    from bigdataproject_spark.operators.versioned import table_read_dir

    emb = load_table(spark, sf_dir, "embeddings")
    ctrs = sample_centroids(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "ivf_index")
    ivf_write_index_from_centroids(
        emb, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    cells = table_read_dir(spark, idx, "cells")

    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        df = real(self, *paths, **kw)
        reads.append(df)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    got = _collect_index_centroids(spark, idx, cells)
    monkeypatch.undo()

    assert got == sorted(ctrs)
    (df,) = reads
    roots = df._jdf.queryExecution().analyzed().relation().location().rootPaths()
    leaves = [roots.apply(i).getName() for i in range(roots.length())]
    assert leaves
    assert not [n for n in leaves if n.startswith(("_", "."))]


def test_ivf_write_index_empty_corpus_raises(spark, sf_dir, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import ivf_write_index
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        ivf_write_index(
            emb, str(tmp_path / "idx"), id_col="vec_id", vec_col="embedding"
        )


def test_ivf_indexed_blas_equals_native(spark, sf_dir, tmp_path):
    """impl='blas' (cogrouped matmul + per-cell partial top-k) must
    return the same ranked neighbors as the native join path, at
    partial AND full probe, with and without self-exclusion."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import (
        ivf_topk_indexed,
        ivf_write_index,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 17 == 0)
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(emb, idx, id_col="vec_id", vec_col="embedding", n_centroids=8)

    for n_probe in (2, 8):
        for excl in (True, False):
            kw = dict(
                id_col="vec_id", vec_col="embedding", k=5,
                n_probe=n_probe, exclude_self=excl,
            )
            a = [
                (r.q_id, r.rank, r.neighbor_id, r.cosine)
                for r in ivf_topk_indexed(
                    spark, idx, queries, impl="native", **kw
                ).collect()
            ]
            b = [
                (r.q_id, r.rank, r.neighbor_id, r.cosine)
                for r in ivf_topk_indexed(
                    spark, idx, queries, impl="blas", **kw
                ).collect()
            ]
            assert a == b, (n_probe, excl)


def test_impl_auto_resolution():
    """impl='auto' picks blas when its dependencies import, never
    raises for the three accepted spellings, and rejects anything else
    loudly. Guarded: on a JVM-only deployment (no numpy/pandas/
    pyarrow) auto legitimately resolves native and the blas-side
    asserts don't apply."""
    import pytest

    from bigdataproject_spark.operators.simsearch import _resolve_impl

    for dep in ("numpy", "pandas", "pyarrow"):
        pytest.importorskip(dep)
    assert _resolve_impl("auto", "t") == "blas"
    assert _resolve_impl("native", "t") == "native"
    assert _resolve_impl("blas", "t") == "blas"
    with pytest.raises(ValueError, match="unknown impl"):
        _resolve_impl("gpu", "t")


def test_impl_auto_degrades_for_unsupported_id_types():
    """impl='auto' must pick native when the caller's id type is not
    Arrow-carriable — a user with an exotic id column gets the working
    plan, not a mid-query serialization error; explicit impl='blas'
    keeps raising its loud TypeError instead."""
    import pytest

    from bigdataproject_spark.operators.simsearch import _resolve_impl

    for dep in ("numpy", "pandas", "pyarrow"):
        pytest.importorskip(dep)
    assert _resolve_impl("auto", "t", id_types=("bigint", "string")) == "blas"
    assert (
        _resolve_impl("auto", "t", id_types=("struct<a:int>", "bigint"))
        == "native"
    )
    assert _resolve_impl("auto", "t", id_types=("decimal(38,0)",)) == "native"


def test_query_batch_splits_guard(spark, sf_dir):
    """The probe-plan byte guard: big budget → one batch; tiny budget →
    proportional split count; non-positive budget → explicit error."""
    import pytest

    from bigdataproject_spark.operators.simsearch import _query_batch_splits
    from bigdataproject_spark.sources.readers import load_table

    q = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = q.selectExpr("vec_id as q_id", "embedding as qv")
    assert _query_batch_splits(q, n_probe=4, broadcast_max_bytes=1 << 40) == 1
    small = _query_batch_splits(q, n_probe=1, broadcast_max_bytes=1 << 12)
    assert small > 1
    # n_probe scales the estimate linearly: more probes → at least as
    # many batches for the same budget
    assert (
        _query_batch_splits(q, n_probe=8, broadcast_max_bytes=1 << 12) >= small
    )
    with pytest.raises(ValueError, match="broadcast_max_bytes"):
        _query_batch_splits(q, n_probe=1, broadcast_max_bytes=0)

    # NON-file frames (createDataFrame → LogicalRDD) have no Catalyst
    # size — the sentinel must trigger the count×row-bytes fallback,
    # never a astronomically-split batch loop (the hang this guards)
    local = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0] if i % 3 else None) for i in range(30)],
        "q_id bigint, qv array<double>",
    )
    n = _query_batch_splits(local, n_probe=4, broadcast_max_bytes=256 << 20)
    assert n == 1
    # tiny budget: splits proportional to the sampled estimate, small
    n_small = _query_batch_splits(local, n_probe=4, broadcast_max_bytes=512)
    assert 1 < n_small < 100
    # empty non-file frame → single (empty) batch
    assert (
        _query_batch_splits(
            local.limit(0), n_probe=4, broadcast_max_bytes=512
        )
        == 1
    )


def test_ivf_indexed_batched_equals_unbatched(spark, sf_dir, tmp_path):
    """Forcing the auto-batch path (tiny broadcast budget → many q_id
    hash batches) must return exactly the single-batch result, both
    impls — per-query results are independent, so the union is exact."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import (
        _query_batch_splits,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 11 == 0)
    idx = str(tmp_path / "ivf_index")
    ivf_write_index(emb, idx, id_col="vec_id", vec_col="embedding", n_centroids=8)

    # budget sized to force a HANDFUL of batches (≈4), not thousands —
    # derived from the same MEASURED estimate the guard's tier-2 uses
    from bigdataproject_spark.operators.simsearch import _measured_query_bytes

    qproj = queries.selectExpr("vec_id as q_id", "embedding as qv")
    budget = max(1, _measured_query_bytes(qproj, n_probe=3) // 3)
    n_splits = _query_batch_splits(qproj, n_probe=3, broadcast_max_bytes=budget)
    assert 1 < n_splits <= 8  # the splitter actually engages, boundedly

    for impl in ("native", "blas"):
        kw = dict(id_col="vec_id", vec_col="embedding", k=5, n_probe=3, impl=impl)
        # sorted(): search results are (q_id, rank)-keyed, unordered
        # frames since the r12 presentation-sort removal
        ref = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(spark, idx, queries, **kw).collect()
        )
        batched = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(
                spark, idx, queries, broadcast_max_bytes=budget, **kw
            ).collect()
        )
        assert batched == ref, impl


def test_blas_null_heavy_corpus_equals_native(spark):
    """A corpus where most vectors are NULL or zero-norm must return the
    native path's exact result through the blas scan — and do it via the
    capped vectorized emission, not a per-bad-row Python loop."""
    from bigdataproject_spark.operators.simsearch import brute_force_topk

    rows = []
    for i in range(120):
        if i % 3 == 1:
            vec = None  # NULL vector
        elif i % 3 == 2:
            vec = [0.0, 0.0, 0.0, 0.0]  # zero norm
        else:
            vec = [float(i % 7 + 1), float(i % 5), float(i % 3), 1.0]
        rows.append((i, vec))
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # queries include good AND bad vectors (bad query → NULL-cosine tail)
    queries = corpus.filter(F.col("vec_id") < 9)
    for excl in (True, False):
        kw = dict(id_col="vec_id", vec_col="embedding", k=4, exclude_self=excl)
        a = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(corpus, queries, **kw).collect()
        )
        b = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(corpus, queries, impl="blas", **kw).collect()
        )
        assert a == b, excl


def test_null_tail_candidates_capped_and_complete():
    """Unit bounds for the vectorized bad-row emission: at most
    (k+1)·|queries| pairs, every query sees the k smallest bad ids it
    could rank (self-exclusion honored), no Python-level row loop
    required for correctness."""
    import numpy as np

    from bigdataproject_spark.operators.simsearch import _null_tail_candidates

    qids = np.array([3, 50, 1000])
    bad = np.array([7, 3, 99, 2, 41, 8, 5, 6])  # includes a self (3)
    k = 3
    out = _null_tail_candidates(qids, bad, k=k, exclude_self=True)
    assert out is not None
    q_arr, n_arr = out
    assert len(q_arr) <= (k + 1) * len(qids)
    for q in qids:
        mine = sorted(n_arr[q_arr == q])
        expect = sorted(x for x in bad if x != q)[:k]
        # the k smallest bad ids this query could rank are all present
        assert mine[:k] == expect
        assert q not in mine
    # empty inputs → None
    assert _null_tail_candidates(qids, np.array([]), k=k, exclude_self=True) is None
    assert (
        _null_tail_candidates(np.array([]), bad, k=k, exclude_self=False) is None
    )


def test_bad_corpus_duplicate_self_ids_not_evicted():
    """r5 review fix: duplicate copies of a query's own id in the bad
    set must not consume cap slots — the cap is k + max multiplicity,
    so the k-th smallest non-self bad id always survives (the old fixed
    k+1 cap dropped it when the self id appeared twice)."""
    import numpy as np

    from bigdataproject_spark.operators.simsearch import _null_tail_candidates

    qids = np.array([3])
    bad = np.array([3, 3, 4, 5, 6, 7])  # self id twice, then k larger ids
    k = 3
    q_arr, n_arr = _null_tail_candidates(qids, bad, k=k, exclude_self=True)
    assert sorted(n_arr[q_arr == 3])[:k] == [4, 5, 6]
    # exclude_self=False needs no slack: exactly the k smallest ids
    q_arr, n_arr = _null_tail_candidates(qids, bad, k=k, exclude_self=False)
    assert sorted(n_arr[q_arr == 3]) == [3, 3, 4]


def test_blas_duplicate_null_self_rows_equal_native(spark):
    """End-to-end shape of the same review finding: a corpus holding a
    query's own id more than once among its NULL-vector rows — the blas
    scan must still return the native path's exact NULL tail."""
    from bigdataproject_spark.operators.simsearch import brute_force_topk

    corpus_rows = (
        [(5, None), (5, None), (6, None), (7, None), (8, None), (9, None)]
        + [(i, [float(i % 7 + 1), float(i % 5), 1.0]) for i in range(20, 26)]
    )
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id bigint, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(5, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<double>"
    )
    kw = dict(id_col="vec_id", vec_col="embedding", k=8, exclude_self=True)
    a = sorted(
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in brute_force_topk(corpus, queries, **kw).collect()
    )
    b = sorted(
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in brute_force_topk(corpus, queries, impl="blas", **kw).collect()
    )
    assert a == b
    assert 5 not in [n for (_, _, n, _) in a]  # both self copies excluded
    # k=8 over 6 good rows + the NULL tail: the two smallest non-self
    # bad ids fill ranks 7-8 (the old k+1 cap would have lost id 7)
    assert {6, 7} <= {n for (_, _, n, _) in a}


def test_native_search_batched_equals_unbatched(spark, sf_dir):
    """r5 review fix: the NATIVE brute/lsh paths pin F.broadcast(q) —
    the same driver-side materialization as the blas collect — so they
    now run through the same byte guard. A budget that forces several
    q_id-hash batches must return exactly the single-batch result."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import (
        _measured_query_bytes,
        brute_force_topk,
        lsh_bucket_topk,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 11 == 0)
    qproj = queries.selectExpr("vec_id as q_id", "embedding as qv")
    budget = max(1, _measured_query_bytes(qproj, n_probe=1) // 3)
    for fn, extra in ((brute_force_topk, {}), (lsh_bucket_topk, {"n_bits": 4})):
        kw = dict(id_col="vec_id", vec_col="embedding", k=5, **extra)
        ref = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in fn(emb, queries, **kw).collect()
        )
        batched = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in fn(
                emb, queries, broadcast_max_bytes=budget, **kw
            ).collect()
        )
        assert batched == ref, fn.__name__


def test_blas_null_heavy_queries_equals_native(spark):
    """r6: a MOSTLY-NULL query table (the mirror of the null-heavy
    corpus case) must return the native path's exact result through the
    blas scan, via the vectorized null-tail helper — no per-query
    Python sort loop."""
    from bigdataproject_spark.operators.simsearch import brute_force_topk

    corpus = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5), 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    # 10 queries, 8 of them NULL/zero-norm
    q_rows = []
    for i in range(10):
        if i in (0, 5):
            q_rows.append((i, [1.0, float(i), 2.0]))
        elif i % 2:
            q_rows.append((i, None))
        else:
            q_rows.append((i, [0.0, 0.0, 0.0]))
    queries = spark.createDataFrame(
        q_rows, "vec_id bigint, embedding array<double>"
    )
    for excl in (True, False):
        kw = dict(id_col="vec_id", vec_col="embedding", k=5, exclude_self=excl)
        a = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(corpus, queries, **kw).collect()
        )
        b = sorted(
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(corpus, queries, impl="blas", **kw).collect()
        )
        assert a == b, excl
    # every bad query still gets a full NULL-cosine tail of k smallest ids
    by_q = {}
    for (qi, rk, ni, co) in a:
        by_q.setdefault(qi, []).append((rk, ni, co))
    assert sorted(n for _, n, _ in by_q[1]) == [0, 1, 2, 3, 4][: len(by_q[1])]
    assert all(c is None for _, _, c in by_q[1])


def test_measured_query_bytes_memoized(spark, monkeypatch):
    """r6: the tier-2 measured estimate is memoized on the analyzed
    plan's semanticHash — a second identical search pays ZERO extra
    measurement jobs (the uncached path would raise here), while a
    semantically different plan misses the cache."""
    from bigdataproject_spark.operators import simsearch

    local = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(20)],
        "q_id bigint, qv array<double>",
    )
    simsearch.clear_measured_query_cache(spark)
    first = simsearch._measured_query_bytes(local, n_probe=4)
    assert first > 0

    def _boom(q):
        raise AssertionError("uncached measurement re-ran")

    monkeypatch.setattr(simsearch, "_query_row_stats_uncached", _boom)
    # identical plan → cache hit, no job, same value
    assert simsearch._measured_query_bytes(local, n_probe=4) == first
    # n_probe scales the SAME cached stats — still no measurement job
    assert simsearch._measured_query_bytes(local, n_probe=8) == 2 * first
    # a semantically different plan must MISS (and here, loudly re-measure)
    import pytest

    with pytest.raises(AssertionError, match="re-ran"):
        simsearch._measured_query_bytes(
            local.filter("q_id < 10"), n_probe=4
        )
    monkeypatch.undo()
    assert simsearch.clear_measured_query_cache(spark) >= 1
    # cleared → recompute works again
    assert simsearch._measured_query_bytes(local, n_probe=4) == first


def test_blas_unequal_vector_lengths_raise_native_ranks_null(spark, tmp_path):
    """The blas matmul needs one vector length per probed cell: a
    mixed 4-d/8-d query table against an 8-d index raises a ValueError
    naming both lengths (as does a 4-d-only table meeting the 8-d
    corpus), while native scores the unequal-length pairs as NULL
    cosines ranked last."""
    import pytest

    from bigdataproject_spark.operators.simsearch import (
        ivf_topk_indexed,
        ivf_write_index_from_centroids,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * j) % 7) + 1.0 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    ctrs = [(0, [1.0] * 8), (1, [5.0] * 8)]
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        corpus, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    mixed = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0]), (101, [2.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    short = mixed.filter(F.col("vec_id") == 100)
    kw = dict(id_col="vec_id", vec_col="embedding", k=3, n_probe=2)
    for q, msg in (
        (mixed, r"lengths 4 and 8"),
        (short, r"length 4 meet corpus vectors of length 8"),
    ):
        with pytest.raises(Exception, match=msg) as ei:
            ivf_topk_indexed(spark, idx, q, impl="blas", **kw).collect()
        assert "impl='native'" in str(ei.value)

    got = sorted(
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in ivf_topk_indexed(spark, idx, mixed, impl="native", **kw).collect()
    )
    short_rows = [g for g in got if g[0] == 100]
    assert [(g[1], g[2], g[3]) for g in short_rows] == [
        (1, 0, None), (2, 1, None), (3, 2, None)
    ]
    assert all(g[3] is not None for g in got if g[0] == 101)
    assert len(got) == 6
