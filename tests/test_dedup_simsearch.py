"""Invariant tests for dedup + similarity-search operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataproject_spark.functions.tokenize import tokenize_expr
from bigdataproject_spark.operators.dedup import (
    _DEDUP_CACHES,
    drop_exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_lsh_dedup_pairs,
    release_dedup_caches,
    simhash_table,
)
from bigdataproject_spark.operators.simsearch import brute_force_topk, lsh_bucket_topk
from bigdataproject_spark.sources.readers import load_table
from string_shingles import word_shingles


def _toks(c):
    return tokenize_expr(c, stopwords=(), min_len=1, drop_numeric=False)


def test_drop_exact_duplicates(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, text="hello world"),
            Row(id=2, text="Hello   WORLD"),  # same after normalization
            Row(id=3, text="different"),
        ]
    )
    kept = drop_exact_duplicates(df, id_col="id", text_col="text")
    assert sorted(r.id for r in kept.collect()) == [1, 3]


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(t=["a", "b", "c", "d"])])
    sh = df.select(word_shingles("t", 3)).collect()[0][0]
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([Row(t=["a", "b"])])
    assert short.select(word_shingles("t", 3)).collect()[0][0] == []


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(id=2, text="the quick brown fox jumps over the lazy dog"),
            Row(id=3, text="completely different words in this sentence here"),
        ]
    ).withColumn("sh", word_shingles(_toks("text"), 3))
    pairs = jaccard_pairs(df, id_col="id", shingles_col="sh", threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b, pairs[0].jaccard) == (1, 2, 1.0)


def test_jaccard_prefix_filter_matches_brute_force(spark):
    """The prefix-filtered candidate join must return EXACTLY the pairs a
    brute-force all-pairs Jaccard returns, at every threshold — the
    prefix-filter theorem gives recall 1.0; this pins the implementation
    (ceil nudge, length filter, canonical ordering) against it."""
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox leaps over the lazy dog today",
        "a completely different document about spark and parquet files",
        "a completely different document about spark and arrow files",
        "tiny doc",  # < n tokens -> zero shingles, must never pair
        "",
    ]
    df = spark.createDataFrame(
        [Row(id=i, text=t) for i, t in enumerate(texts)]
    ).withColumn("sh", word_shingles(_toks("text"), 3))
    rows = {r.id: set(r.sh) for r in df.select("id", "sh").collect()}

    def brute(th):
        # inverted-index contract: only pairs sharing >= 1 shingle surface
        out = set()
        for a in rows:
            for b in rows:
                if a < b and rows[a] & rows[b]:
                    # r11: jaccard is the unrounded int-ratio division
                    j = len(rows[a] & rows[b]) / len(rows[a] | rows[b])
                    if j >= th:
                        out.add((a, b, j))
        return out

    for th in (0.0, 0.3, 0.5, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in jaccard_pairs(
                df, id_col="id", shingles_col="sh", threshold=th
            ).collect()
        }
        assert got == brute(th), f"threshold {th}"


def test_minhash_lsh_finds_exact_dup(spark):
    """An identical pair has identical minhash signatures → collides in
    every band → must be found with jaccard 1.0."""
    df = spark.createDataFrame(
        [
            Row(id=1, text="one two three four five six seven eight nine ten"),
            Row(id=2, text="one two three four five six seven eight nine ten"),
            Row(id=3, text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ]
    ).withColumn("sh", word_shingles(_toks("text"), 3))
    pairs = minhash_lsh_dedup_pairs(
        df, id_col="id", shingles_col="sh", threshold=0.9
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_lsh_candidates_subset_of_pairs(spark, sf_dir):
    """LSH candidates ⊆ all pairs and each candidate shares ≥1 band —
    sanity on the real documents table."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .limit(100)
        .withColumn("sh", word_shingles(_toks("text"), 3))
    )
    cands = lsh_candidate_pairs(docs, id_col="doc_id", shingles_col="sh")
    for r in cands.limit(5).collect():
        assert r.id_a < r.id_b


def test_simhash_identical_tokens_equal(spark):
    df = spark.createDataFrame(
        [Row(id=1, t=["a", "b", "c"]), Row(id=2, t=["a", "b", "c"]), Row(id=3, t=["x", "y"])]
    )
    out = {r.id: r.fp for r in simhash_table(df, id_col="id", tokens="t").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_brute_force_topk_self_best(spark, sf_dir):
    """Without self-exclusion the best neighbor of any query is itself
    (cosine 1.0)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    top = brute_force_topk(
        emb, q, id_col="vec_id", vec_col="embedding", k=1, exclude_self=False
    ).collect()
    for r in top:
        assert r.neighbor_id == r.q_id and abs(r.cosine - 1.0) < 1e-6


def test_lsh_topk_subset_of_brute(spark, sf_dir):
    """LSH results are drawn from the same similarity function: any
    (q, neighbor) in the LSH result has the same cosine as brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    brute = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(
            emb, q, id_col="vec_id", vec_col="embedding", k=500
        ).collect()
    }
    lsh = lsh_bucket_topk(emb, q, id_col="vec_id", vec_col="embedding", k=5).collect()
    for r in lsh:
        key = (r.q_id, r.neighbor_id)
        if key in brute:  # brute k=500 may truncate at big SF
            assert abs(brute[key] - r.cosine) < 1e-9


def test_simhash_neardup_pairs(spark):
    from bigdataproject_spark.operators.dedup import simhash_neardup_pairs

    # near-identical docs (1 token differs in 12) → small hamming; the
    # unrelated doc → far from both.
    base = "w%d " * 12
    docs = [
        (1, (base % tuple(range(12))).split()),
        (2, (base % tuple(range(12))).split()[:-1] + ["zzz"]),
        (3, ["completely", "different", "tokens", "here", "and", "more"]),
    ]
    df = spark.createDataFrame(docs, "id int, toks array<string>")
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_neardup_pairs(
            df, id_col="id", tokens="toks", max_hamming=16, bands=30
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] <= 16
    assert (1, 3) not in out and (2, 3) not in out
    for bands, max_hamming in ((32, 3), (0, 3), (4, 4)):
        with pytest.raises(ValueError, match="bands"):
            simhash_neardup_pairs(
                df, id_col="id", tokens="toks", max_hamming=max_hamming, bands=bands
            )


def test_simhash_neardup_exact_duplicates(spark):
    from bigdataproject_spark.operators.dedup import simhash_neardup_pairs

    docs = [(1, ["a", "b", "c"]), (2, ["a", "b", "c"]), (3, ["x", "y", "z"])]
    df = spark.createDataFrame(docs, "id int, toks array<string>")
    out = simhash_neardup_pairs(
        df, id_col="id", tokens="toks", max_hamming=3, bands=4
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]


def test_cosine_from_norms_bit_identical(spark):
    """The hoisted-norm cosine must equal cosine_similarity BIT-FOR-BIT
    (same expression tree, only the evaluation count differs) — this is
    what lets the join operators hoist norms per-row without any
    oracle-parity risk."""
    import random

    from bigdataproject_spark.functions.vectors import (
        cosine_from_norms,
        cosine_similarity,
        l2_norm,
    )

    rng = random.Random(7)
    rows = [
        Row(a=[rng.uniform(-1, 1) for _ in range(16)],
            b=[rng.uniform(-1, 1) for _ in range(16)])
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows)
    got = df.select(
        cosine_similarity("a", "b").alias("c_hof"),
        cosine_from_norms("a", "b", l2_norm("a"), l2_norm("b")).alias("c_fix"),
    ).collect()
    for r in got:
        assert r.c_hof == r.c_fix  # exact equality, not approx


def test_embedding_neardup_paths_agree(spark, sf_dir):
    """The salted shuffle path (build side over the broadcast byte
    threshold) must return exactly the same pairs as the broadcast path,
    and its plan must shuffle on the composite key instead of
    broadcasting the corpus."""
    from bigdataproject_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.2)
    via_broadcast = embedding_neardup_pairs(
        emb, **kw, impl="native", broadcast_max_bytes=2**60
    )
    via_shuffle = embedding_neardup_pairs(
        emb, **kw, impl="native", broadcast_max_bytes=0, num_subblocks=4
    )
    via_blas = embedding_neardup_pairs(emb, **kw, num_subblocks=4)
    a = sorted((r.id_a, r.id_b, r.cosine) for r in via_broadcast.collect())
    b = sorted((r.id_a, r.id_b, r.cosine) for r in via_shuffle.collect())
    c = sorted((r.id_a, r.id_b, r.cosine) for r in via_blas.collect())
    assert a == b
    assert len(a) > 0  # non-vacuous at sf0.001+
    # BLAS path: same pair set; cosines equal to 6dp (the emitted
    # rounding) — summation order may differ in the last ulp.
    assert [(p, q) for p, q, _ in a] == [(p, q) for p, q, _ in c]
    for (_, _, x), (_, _, y) in zip(a, c):
        assert abs(x - y) < 2e-6
    plan = via_shuffle._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_sub" in plan  # composite sub-block key reached the join
    blas_plan = via_blas._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in blas_plan  # Arrow cogroup reached


def test_embedding_neardup_blas_nonbigint_ids(spark):
    """impl='blas' must carry the id column's Spark type into its output
    schema (string ids here) and match the native path exactly; an
    unsupported id type (float) must raise up front, not coerce."""
    from bigdataproject_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        Row(id=f"doc-{i}", v=[float(i == j) * 0.9 + 0.1 for j in range(4)])
        for i in range(4)
    ]
    df = spark.createDataFrame(rows)
    kw = dict(id_col="id", vec_col="v", block_col=None, threshold=0.1)
    blas = embedding_neardup_pairs(df, **kw, num_subblocks=2)
    assert dict(blas.dtypes)["id_a"] == "string"
    native = embedding_neardup_pairs(df, **kw, impl="native")
    a = sorted((r.id_a, r.id_b) for r in blas.collect())
    b = sorted((r.id_a, r.id_b) for r in native.collect())
    assert a == b and len(a) > 0

    bad = df.select(F.col("id").cast("double").alias("id"), "v")
    with pytest.raises(TypeError, match="unsupported id column type"):
        embedding_neardup_pairs(
            bad, id_col="id", vec_col="v", block_col=None, threshold=0.1
        ).collect()


def test_collapse_branches_agree(spark, monkeypatch):
    """The collapse/expand path and the direct path of
    collapse_identical_pairs must return identical pair sets for every
    near-dup operator — expansion is supposed to be lossless, and the
    adaptive gate must only ever change the physical shape."""
    import bigdataproject_spark.operators.dedup as dd
    from bigdataproject_spark.operators.dedup import simhash_neardup_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox leaps over the lazy dog today",
        "a completely different document about spark and parquet files",
        "tiny doc",
        "",
    ]
    # duplicate-heavy: 5 copies of each text, distinct-ratio 0.2
    df = spark.createDataFrame(
        [Row(id=i * 10 + c, text=t) for i, t in enumerate(texts) for c in range(5)]
    ).withColumn("sh", word_shingles(_toks("text"), 3))

    def run_all():
        jac = {
            (r.id_a, r.id_b, r.jaccard)
            for r in jaccard_pairs(
                df, id_col="id", shingles_col="sh", threshold=0.3
            ).collect()
        }
        mh = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_dedup_pairs(
                df, id_col="id", shingles_col="sh", threshold=0.3
            ).collect()
        }
        sim = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_neardup_pairs(
                df, id_col="id", tokens=_toks("text"), max_hamming=3
            ).collect()
        }
        return jac, mh, sim

    def run_branch(ratio):
        # the gate takes the direct path when d >= ratio * n; only the
        # collapse path caches the keyed (id, obj, k) frame
        monkeypatch.setattr(dd, "COLLAPSE_DISTINCT_RATIO", ratio)
        release_dedup_caches(spark)
        out = run_all()
        cached = _DEDUP_CACHES.get(id(spark.sparkContext), [])
        return out, any(f.columns == ["id", "obj", "k"] for f in cached)

    direct, direct_keyed = run_branch(-1.0)  # d >= -n always: direct
    collapsed, collapse_keyed = run_branch(2.0)  # d >= 2n never: collapse
    assert (direct_keyed, collapse_keyed) == (False, True)
    assert collapsed == direct
    jac, _, sim = collapsed
    # non-vacuous: every 5-copy group with shingles/tokens must produce
    # all C(5,2)=10 intra pairs (3 texts have >=3 tokens; "tiny doc" and
    # "" have no shingles but do fingerprint)
    assert sum(1 for a, b, j in jac if a // 10 == b // 10 and j == 1.0) == 3 * 10
    assert sum(1 for a, b, h in sim if a // 10 == b // 10 and h == 0) >= 4 * 10


def test_word_shingles_null_tokens(spark):
    """NULL token arrays must shingle to [], not NULL (review regression:
    the zip_with chain propagated NULL, making size() = -1 downstream).
    NULL token ELEMENTS are dropped before windowing by all three
    kernels, so they shingle the same windows: each hashed kernel's set
    is its hash of the string shingles."""
    from pyspark.sql import Row

    from bigdataproject_spark.operators.dedup import (
        hashed_word_shingles,
        portable_hash48,
        portable_hashed_shingles,
    )

    df = spark.createDataFrame(
        [
            Row(i=1, tokens=None),
            Row(i=2, tokens=["a", "b", "c", "d"]),
            Row(i=3, tokens=["a", None, "b", "c", "d"]),
            Row(i=4, tokens=[None, "a", None, "b", None]),
        ],
        "i long, tokens array<string>",
    )
    words = word_shingles("tokens", 3)
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            F.size(words).alias("s"),
            F.size(portable_hashed_shingles("tokens", 3)).alias("h"),
            portable_hashed_shingles("tokens", 3).alias("p"),
            F.transform(words, portable_hash48).alias("p_ref"),
            hashed_word_shingles("tokens", 3).alias("x"),
            F.transform(
                words,
                lambda s: F.xxhash64(*[F.split(s, " ")[j] for j in range(3)]),
            ).alias("x_ref"),
        ).collect()
    }
    assert (rows[1]["s"], rows[1]["h"]) == (0, 0)
    assert (rows[2]["s"], rows[2]["h"]) == (2, 2)
    assert rows[3]["s"] == 2  # windows of a b c d
    assert rows[4]["s"] == 0  # two tokens left: no window
    for i, r in rows.items():
        assert sorted(r["p"]) == sorted(r["p_ref"]), i
        assert sorted(r["x"]) == sorted(r["x_ref"]), i


def test_embedding_blas_null_block_matches_native(spark):
    """Rows with a NULL block value pair with nothing — identical in the
    BLAS cogroup path and the native join path (review regression: a
    groupBy key pools NULLs, a join predicate drops them)."""
    from pyspark.sql import Row

    from bigdataproject_spark.operators.dedup import embedding_neardup_pairs

    rows = [
        Row(id=1, v=[1.0, 0.0], blk="x"),
        Row(id=2, v=[1.0, 0.01], blk="x"),
        Row(id=3, v=[1.0, 0.0], blk=None),
        Row(id=4, v=[1.0, 0.001], blk=None),
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>, blk string")
    kw = dict(id_col="id", vec_col="v", block_col="blk", threshold=0.5)
    blas = sorted(
        (r.id_a, r.id_b) for r in embedding_neardup_pairs(df, **kw).collect()
    )
    native = sorted(
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(df, **kw, impl="native").collect()
    )
    assert blas == native == [(1, 2)]  # null-block rows pair with nothing


def test_brute_force_blas_equals_native(spark, sf_dir):
    """brute_force_topk(impl='blas') is the same exact search through
    the corpus-in-place matmul — identical ranked output."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.simsearch import brute_force_topk
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 23 == 0)
    for excl in (True, False):
        a = [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(
                emb, queries, id_col="vec_id", vec_col="embedding", k=7,
                exclude_self=excl,
            ).collect()
        ]
        b = [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(
                emb, queries, id_col="vec_id", vec_col="embedding", k=7,
                exclude_self=excl, impl="blas",
            ).collect()
        ]
        assert a == b, excl


def test_brute_force_blas_null_and_zero_vectors(spark):
    """Pathological embeddings — NULL vectors and zero-norm vectors —
    must behave identically in both impls: the native path emits them
    as null-cosine tail rows (desc ranks NULL last), and a NULL/zero
    QUERY gets its neighbors ranked by id at null cosine."""
    from bigdataproject_spark.operators.simsearch import brute_force_topk

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),   # zero norm
            (4, None),         # null vector
            (5, [0.5, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    for excl in (True, False):
        a = [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(
                emb, emb, id_col="vec_id", vec_col="embedding", k=5,
                exclude_self=excl,
            ).collect()
        ]
        b = [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in brute_force_topk(
                emb, emb, id_col="vec_id", vec_col="embedding", k=5,
                exclude_self=excl, impl="blas",
            ).collect()
        ]
        assert a == b, excl


def test_blas_unknown_impl_fails_fast(spark):
    import pytest

    from bigdataproject_spark.operators.simsearch import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        brute_force_topk(
            emb, emb, id_col="vec_id", vec_col="embedding", impl="BLAS"
        )


def test_release_search_broadcasts(spark):
    from bigdataproject_spark.operators.simsearch import (
        brute_force_topk,
        release_search_broadcasts,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 20)],
        "vec_id long, embedding array<float>",
    )
    brute_force_topk(
        emb, emb.limit(3), id_col="vec_id", vec_col="embedding", k=3,
        impl="blas",
    ).collect()
    assert release_search_broadcasts(spark) >= 1
    assert release_search_broadcasts(spark) == 0


def test_lsh_bucket_blas_equals_native(spark, sf_dir):
    from bigdataproject_spark.operators.simsearch import lsh_bucket_topk
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 19 == 0)
    a = [
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in lsh_bucket_topk(
            emb, queries, id_col="vec_id", vec_col="embedding", k=5, n_bits=4
        ).collect()
    ]
    b = [
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in lsh_bucket_topk(
            emb, queries, id_col="vec_id", vec_col="embedding", k=5, n_bits=4,
            impl="blas",
        ).collect()
    ]
    assert a == b


def test_df_cap_survives_direct_gate_duplicate_cluster(spark):
    """r5 review fix: with max_shingle_df set, jaccard_pairs must
    force-collapse — on the direct path a mostly-distinct corpus whose
    one exact-duplicate cluster exceeds the cap would push every cluster
    shingle past the df cap and silently lose ALL of the cluster's
    J=1.0 pairs."""
    from bigdataproject_spark.operators.dedup import jaccard_pairs

    # 60 distinct docs (>95% distinct overall counts the copies too, so
    # craft: 200 distinct + 6 copies of one doc → 97% distinct → the
    # adaptive gate would pick the direct path)
    rows = [(i, f"unique text number {i} with filler words") for i in range(200)]
    rows += [(1000 + j, "the repeated boilerplate text body") for j in range(6)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    from bigdataproject_spark.operators.dedup import hashed_word_shingles
    from pyspark.sql import functions as F

    toks = F.split(F.lower("text"), r"\s+")
    keyed = docs.select("doc_id", hashed_word_shingles(toks, 3).alias("sh"))
    pairs = jaccard_pairs(
        keyed,
        id_col="doc_id",
        shingles_col="sh",
        threshold=0.5,
        max_shingle_df=4,  # smaller than the 6-copy cluster
    ).collect()
    cluster = {
        (r.id_a, r.id_b) for r in pairs if r.id_a >= 1000 and r.id_b >= 1000
    }
    assert len(cluster) == 15  # C(6,2) intra-cluster pairs, all J=1.0
    assert all(
        abs(r.jaccard - 1.0) < 1e-9 for r in pairs
        if (r.id_a, r.id_b) in cluster
    )


def test_drop_exact_duplicates_keeps_all_null_texts(spark):
    """r5 review fix: NULL texts pool into one NULL-digest group, but
    they share no content — every NULL-text row must survive."""
    from bigdataproject_spark.operators.dedup import drop_exact_duplicates

    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None), (5, None), (6, "x")],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r.doc_id
        for r in drop_exact_duplicates(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    )
    assert kept == [1, 3, 4, 5, 6]


def test_release_dedup_caches(spark):
    """Tracked persists are released on demand so a long-lived session
    running many dedup calls does not pin caches forever."""
    from bigdataproject_spark.operators.dedup import (
        jaccard_pairs,
        release_dedup_caches,
    )
    from pyspark.sql import functions as F
    from bigdataproject_spark.operators.dedup import hashed_word_shingles

    docs = spark.createDataFrame(
        [(i, f"doc {i} words and more words {i % 3}") for i in range(30)],
        "doc_id bigint, text string",
    )
    keyed = docs.select(
        "doc_id",
        hashed_word_shingles(F.split(F.lower("text"), r"\s+"), 2).alias("sh"),
    )
    jaccard_pairs(
        keyed, id_col="doc_id", shingles_col="sh", threshold=0.9
    ).count()
    assert release_dedup_caches(spark) > 0
    assert release_dedup_caches(spark) == 0  # idempotent drain


def test_expr_built_signatures_match_column_api(spark):
    """r12 optimization: lsh_band_rows builds its k member aggregates
    and band hashes as F.expr SQL strings (one py4j round trip each —
    the column-API construction of 32 aggs measured 1.5 s of pure
    driver latency per query build). The parsed expressions must stay
    value-identical to the column-API originals for BOTH shingle
    element types — integral shingles enter the field as they are,
    string shingles through an xxhash64 base — or the family silently
    drifts from its DuckDB oracle."""
    from pyspark.sql import functions as F

    from bigdataproject_spark.operators.dedup import (
        MINHASH_P,
        lsh_band_rows,
        minhash_coefficients,
    )

    docs = spark.createDataFrame(
        [(i, [((i * 7 + j * 13) % 97) + 1 for j in range(5 + i % 4)]) for i in range(40)],
        "id bigint, sh array<bigint>",
    )
    num_hashes, bands = 8, 4
    coeffs = minhash_coefficients(num_hashes)

    # column-API reference, built inline exactly as the operator did
    # before the expr-string rewrite
    posting = docs.filter(F.size("sh") > 0).select("id", F.explode("sh").alias("s"))
    refs = {}
    for arm, base_col in (
        ("bigint", F.col("s") % F.lit(MINHASH_P)),
        ("string", F.xxhash64(F.col("s").cast("string")) % F.lit(MINHASH_P)),
    ):
        based = posting.select("id", base_col.alias("base"))
        aggs = [
            F.min((F.lit(a) * F.col("base") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        refs[arm] = {r["id"]: tuple(r[f"h{i}"] for i in range(num_hashes))
                     for r in based.groupBy("id").agg(*aggs).collect()}

    for arm, shingles in (
        ("bigint", docs),
        ("string", docs.select("id", F.transform("sh", lambda x: x.cast("string")).alias("sh"))),
    ):
        rows = lsh_band_rows(
            shingles, id_col="id", shingles_col="sh",
            num_hashes=num_hashes, bands=bands,
        ).collect()
        # every (id, band) present exactly once, and the band hash is a
        # pure function of the reference signature values
        seen = {}
        for r in rows:
            seen.setdefault(r.id, {})[r.band_id] = r.band_hash
        assert set(seen) == set(refs[arm])
        rpb = num_hashes // bands
        for i, by_band in seen.items():
            sig = refs[arm][i]
            assert len(by_band) == bands
            for b in range(bands):
                expect = "|".join(str(sig[b * rpb + j]) for j in range(rpb))
                assert by_band[b] == expect, (arm, i, b)
