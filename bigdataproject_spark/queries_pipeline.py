"""Training-data-pipeline queries (north-star ops, BASELINE.json):
deduplication, similarity search, text analysis, multimodal plumbing —
over the ``documents`` and ``embeddings`` tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataproject_spark.contract import Query as _q
from bigdataproject_spark.functions.tokenize import tokenize_expr
from bigdataproject_spark.operators.dedup import (
    MINHASH_P,
    embedding_neardup_pairs,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_coefficients,
    minhash_lsh_dedup_pairs,
    portable_hashed_shingles,
    simhash_neardup_pairs,
)
from bigdataproject_spark.operators.decontam import ngram_contamination
from bigdataproject_spark.operators.sampling import stratified_sample_filter
from bigdataproject_spark.operators.multimodal import extract_features, to_media_assets
from bigdataproject_spark.operators.simsearch import (
    brute_force_topk,
    ivf_topk_sampleq,
    lsh_bucket_topk,
)
from bigdataproject_spark.operators.textstats import (
    BPEISH_PATTERN,
    DEFAULT_LANG_MARKERS,
    fingerprint_expr,
    lang_id_expr,
    quality_features,
    quality_score_expr,
    repetition_features,
    token_counts,
    winnowing_fingerprints,
)
from bigdataproject_spark.sources.readers import fan_out, load_table

# Tokens for dedup/fingerprint/lang-id: no stopword removal, keep 1-char
# tokens (content-identity must not depend on the analysis stopword list).
_raw_tokens = lambda c: tokenize_expr(  # noqa: E731
    c, stopwords=(), min_len=1, drop_numeric=False
)

# DuckDB equivalent of _raw_tokens (lower + split on non-alnum, drop empties).
_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x != '')"
)


def _docs_tokens(
    spark: SparkSession, sf_dir: str, *, fan: bool = False
) -> DataFrame:
    """documents + raw token array; ``fan=True`` adds the guarded
    round-robin fan_out for queries whose per-doc expression work
    dominates (heavy map passes on possibly-single-split local files —
    identity at scale, see readers.fan_out). r12 optimization round:
    the shingle-based dedup consumers (jaccard / minhash / simhash /
    contamination) now fan too — their shingle build, cache
    materialization, and collapse-gate scans are per-row map passes
    that a single-split local source serializes onto one core
    (measured: the minhash collapse gate alone cost ~0.6 s/pass on a
    1-partition cache vs ~0.1 s fanned). Pure-shuffle consumers
    (exact dedup) keep the default."""
    docs = load_table(spark, sf_dir, "documents")
    if fan:
        docs = fan_out(docs)
    return docs.withColumn("tokens", _raw_tokens("text"))


# --- deduplication -----------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 over whitespace-normalized lowered text; one
    shuffle on the digest (hash-groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, id_col="doc_id", text_col="text")


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS digest,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY digest
"""


JACCARD_N = 3
JACCARD_THRESHOLD = 0.5


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (prefix-filtered inverted-index
    candidate join, one array_intersect per candidate).

    Shingles are portable 48-bit hashes (longs end-to-end: 8-byte posting
    keys, long-array verify intersects — measured 2.4× over string
    shingles at sf1); the oracle computes the identical md5-derived
    hashes, so Jaccard values — including any hash-collision effects —
    mirror bit-for-bit."""
    docs = _docs_tokens(spark, sf_dir, fan=True).withColumn(
        "shingles", portable_hashed_shingles("tokens", JACCARD_N)
    )
    return jaccard_pairs(
        docs, id_col="doc_id", shingles_col="shingles", threshold=JACCARD_THRESHOLD
    )


ORACLE_DEDUP_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           list_transform(
             generate_series(1, greatest(len(t) - {JACCARD_N - 1}, 0)),
             i -> array_to_string(t[i:i+{JACCARD_N - 1}], ' ')),
           s -> CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT))) AS shingles
  FROM toks
), sizes AS (
  SELECT doc_id, len(shingles) AS sz FROM sh
), posting AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       n_shared / (sa.sz + sb.sz - n_shared) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared / (sa.sz + sb.sz - n_shared) >= {JACCARD_THRESHOLD}
ORDER BY id_a, id_b
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidates verified by exact Jaccard.

    Uses the PORTABLE md5/Mersenne-prime hash family over portable
    48-bit hashed shingles so the whole LSH pipeline — shingle hashes,
    signatures, band keys, candidate join, verify — is replicated
    verbatim by the DuckDB oracle (hash-checked, not rows-only; even
    hash collisions mirror bit-for-bit because both engines compute the
    same md5). One md5 per distinct shingle; no shingle strings leave
    the projection. ``minhash_lsh_dedup_pairs`` has one hash family, so
    production corpora run the same signatures and band keys over the
    cheaper xxhash64 shingles (``hashed_word_shingles``); only the
    shingle kernel differs."""
    docs = _docs_tokens(spark, sf_dir, fan=True).withColumn(
        "shingles", portable_hashed_shingles("tokens", JACCARD_N)
    )
    return minhash_lsh_dedup_pairs(
        docs,
        id_col="doc_id",
        shingles_col="shingles",
        threshold=JACCARD_THRESHOLD,
        num_hashes=32,
        bands=8,
    )


def _minhash_oracle() -> str:
    """Exact DuckDB mirror of q_dedup_minhash: same portable 48-bit
    shingle hashes (so the posting lists — and any collisions — are
    identical), same (A_i·(sh mod P) + B_i) mod P family (coefficients
    imported from the one shared generator), same '|'-joined band keys,
    same exact Jaccard verify over the hashed shingle sets."""
    coeffs = minhash_coefficients(32)
    sig_cols = ",\n         ".join(
        f"min(({a} * bm + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"concat_ws('|', h{b * 4}, h{b * 4 + 1}, h{b * 4 + 2}, h{b * 4 + 3}) AS bk "
        "FROM sig"
        for b in range(8)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           list_transform(
             generate_series(1, greatest(len(t) - {JACCARD_N - 1}, 0)),
             i -> array_to_string(t[i:i+{JACCARD_N - 1}], ' ')),
           s -> CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT))) AS shingles
  FROM toks
), sizes AS (
  SELECT doc_id, len(shingles) AS sz FROM sh
), posting AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), based AS (
  SELECT doc_id, s % {MINHASH_P} AS bm
  FROM posting
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM based GROUP BY doc_id
), bands AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a AS id_a, c.id_b AS id_b,
       n_shared / (sa.sz + sb.sz - n_shared) AS jaccard
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE n_shared / (sa.sz + sb.sz - n_shared) >= {JACCARD_THRESHOLD}
ORDER BY c.id_a, c.id_b
"""


ORACLE_DEDUP_MINHASH = _minhash_oracle()


def q_dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3 via pigeonhole banding (any
    qualifying pair agrees exactly on one of 4 bit-bands — equi-join
    candidates at recall 1.0, bit_count verify).

    The fingerprint is the operator's one family, 60 bits parsed from
    md5 (one hex parse per token), so the DuckDB oracle reproduces
    fingerprints, bands, and hamming distances bit-for-bit
    (hash-checked)."""
    docs = _docs_tokens(spark, sf_dir, fan=True)
    return simhash_neardup_pairs(
        docs, id_col="doc_id", tokens="tokens", max_hamming=3, bands=4
    )


def _simhash_oracle() -> str:
    """Exact DuckDB mirror of q_dedup_simhash_neardup: per-token md5 →
    one 60-bit hex parse → 60 sign votes → fingerprint; 4×15-bit
    pigeonhole bands; bit_count(xor) verify. Zero-token docs keep
    fingerprint 0, exactly as the Spark explode_outer path does."""
    vote_cols = ",\n         ".join(
        f"CAST(sum(((h >> {b}) & 1) * 2 - 1) AS BIGINT) AS v{b}"
        for b in range(60)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS tok FROM toks
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM tok
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT t.doc_id, CAST(coalesce(v.fpv, 0) AS BIGINT) AS fp
  FROM toks t
  LEFT JOIN (SELECT doc_id, {fp_terms} AS fpv FROM votes) v USING (doc_id)
), bands AS (
  SELECT doc_id, fp, b AS band_id, (fp >> (b * 15)) & 32767 AS band_bits
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_bits = b.band_bits
              AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= 3
ORDER BY id_a, id_b
"""


ORACLE_DEDUP_SIMHASH = _simhash_oracle()



# Data-mixture rates: downsample the dominant language, keep the rest
# at higher rates — the training-mix rebalancing shape.
MIXTURE_RATES = {"en": 0.10, "zh": 0.40, "es": 0.30, "de": 0.30, "fr": 0.25}
MIXTURE_DEFAULT = 0.05


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible STRATIFIED document sample (data-mixture resampling):
    per-language keep rates cut on a content-independent 48-bit key hash
    — the scale-correct way to rebalance a training mix: stable across
    runs, engines, partitionings, and cluster sizes (unlike rand()),
    keep-sets nest monotonically in the rate, and the whole thing is one
    map-stage predicate (operators/sampling.py). Portable to the oracle
    because the hash is the md5-prefix parse both engines compute."""
    docs = load_table(spark, sf_dir, "documents")
    keep = stratified_sample_filter(
        F.col("doc_id"), "lang", MIXTURE_RATES, default_fraction=MIXTURE_DEFAULT
    )
    return docs.filter(keep).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )


def _det_sample_oracle() -> str:
    from bigdataproject_spark.operators.sampling import sample_cut

    cases = " ".join(
        f"WHEN lang = '{v}' THEN {sample_cut(f)}"
        for v, f in MIXTURE_RATES.items()
    )
    return f"""
SELECT doc_id, lang, length(text) AS n_chars
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
      < (CASE {cases} ELSE {sample_cut(MIXTURE_DEFAULT)} END)
"""


ORACLE_DET_SAMPLE = _det_sample_oracle()


# Synthetic embeddings are near-random (max same-label cosine ≈ 0.47 at
# sf0.01); 0.35 keeps the query's output non-trivially small but non-empty.
EMB_NEARDUP_THRESHOLD = 0.35


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (coarse IVF-style
    blocking: same-cluster pairs only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        threshold=EMB_NEARDUP_THRESHOLD,
    )


_SQL_COS = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)
ORACLE_EMB_NEARDUP = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_SQL_COS}, 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_SQL_COS}, 6) >= {EMB_NEARDUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- similarity search -------------------------------------------------------

ANN_K = 10
ANN_N_QUERIES = 5


def _ann_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < ANN_N_QUERIES)


def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors: broadcast query set against
    the corpus — the corpus is never shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, _ann_queries(emb), id_col="vec_id", vec_col="embedding", k=ANN_K
    )


ORACLE_ANN_BRUTE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {ANN_N_QUERIES}
), sims AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
  FROM q, e WHERE e.vec_id != q.q_id
), ranked AS (
  SELECT q_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT q_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {ANN_K} ORDER BY q_id, rank
"""

ANN_BITS = 8


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10: sign-quantized first-8-dims bucket
    join instead of a cross join (the 2^8-way partition-pruned scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb,
        _ann_queries(emb),
        id_col="vec_id",
        vec_col="embedding",
        k=ANN_K,
        n_bits=ANN_BITS,
    )


_SQL_BUCKET = (
    "list_sum(list_transform(generate_series(1, "
    f"{ANN_BITS}), i -> CASE WHEN v[i] > 0 THEN 1 << (i - 1) ELSE 0 END))"
)
ORACLE_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), eb AS (
  SELECT vec_id, v, {_SQL_BUCKET} AS bkt FROM e
), q AS (
  SELECT vec_id AS q_id, v AS qv, bkt FROM eb WHERE vec_id < {ANN_N_QUERIES}
), sims AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
  FROM q JOIN eb e ON q.bkt = e.bkt AND e.vec_id != q.q_id
), ranked AS (
  SELECT q_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT q_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {ANN_K} ORDER BY q_id, rank
"""


# --- text analysis -----------------------------------------------------------



IVF_N_CENTROIDS = 16
IVF_N_PROBE = 6


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10, 6-of-16 cell multi-probe, with the
    deterministic SAMPLE quantizer (centroids = vectors of the 16
    smallest ids) — every stage is plain SQL, so this entry is
    hash-checked against DuckDB end-to-end (centroid pick, map-side
    argmin cell assignment, multi-probe, cosine rank). The KMeans
    quantizer lives in the materialized partition-pruned index
    (`ivf_write_index` + `ivf_topk_indexed`), with its own equality
    bound test (full-probe == brute force). Completes the ANN trio:
    exact brute force / LSH sign-buckets / IVF."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_sampleq(
        emb,
        _ann_queries(emb),
        id_col="vec_id",
        vec_col="embedding",
        k=ANN_K,
        n_centroids=IVF_N_CENTROIDS,
        n_probe=IVF_N_PROBE,
    )


def _sql_d2(v: str, c: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({v})), "
        f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )


ORACLE_ANN_IVF = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ctr AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS ctr
  FROM e ORDER BY vec_id LIMIT {IVF_N_CENTROIDS}
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_d2('e.v', 'c.ctr')} ASC,
                                       c.cell ASC) AS rn
    FROM e, ctr c) WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {ANN_N_QUERIES}
), probes AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_sql_d2('q.qv', 'c.ctr')} ASC,
                                       c.cell ASC) AS pr
    FROM q, ctr c) WHERE pr <= {IVF_N_PROBE}
), sims AS (
  SELECT p.q_id, a.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, a.v) /
               (sqrt(list_dot_product(p.qv, p.qv)) *
                sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id != p.q_id
), ranked AS (
  SELECT q_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT q_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {ANN_K} ORDER BY q_id, rank
"""


def q_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two INDEXED approximate-ANN paths (LSH sign-buckets, IVF
    multi-probe) as ONE method-tagged registry entry — r8 VERDICT item
    1: the driver's correctness run caps at 50 queries and the r8
    registry had grown to 51, rotating ``energy_timeline_nested`` out
    of the externally hash-checked set; consolidating this same-family,
    same-schema pair (the same move round 5 made for the chunking
    queries) brings the registry back to 50 with every query family
    still driver-hash-verified. The standalone single-method entries
    stay alive in ``EXTRA_PARITY`` (exercised by
    tests/test_oracle_parity.py), and the exact brute-force baseline
    keeps its own headline row (``ann_brute_topk``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    lsh = lsh_bucket_topk(
        emb, q, id_col="vec_id", vec_col="embedding", k=ANN_K,
        n_bits=ANN_BITS,
    ).withColumn("method", F.lit("lsh"))
    ivf = ivf_topk_sampleq(
        emb, q, id_col="vec_id", vec_col="embedding", k=ANN_K,
        n_centroids=IVF_N_CENTROIDS, n_probe=IVF_N_PROBE,
    ).withColumn("method", F.lit("ivf"))
    return lsh.unionByName(ivf)


ORACLE_ANN_INDEXED = f"""
SELECT 'lsh' AS method, q_id, neighbor_id, cosine, rank
FROM ({ORACLE_ANN_LSH})
UNION ALL
SELECT 'ivf' AS method, q_id, neighbor_id, cosine, rank
FROM ({ORACLE_ANN_IVF})
"""


def q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score (C4/Gopher-style filter
    features) — zero-shuffle map pass.

    Two-step projection on purpose: the quality score reuses the ratio
    features, and conditional (when) branches are excluded from codegen
    subexpression elimination — referencing the *named* columns of an
    inner projection makes CollapseProject keep the expensive feature
    expressions single-evaluated (measured 2× on this query). No final
    orderBy: the driver's value-hash is order-insensitive and a global
    sort of a map-only pass costs another ~2× at scale. fan_out: the
    interpreted feature work dominates this plan, so a small local
    source must not serialize it onto one core (identity at scale —
    see readers.fan_out)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).withColumn(
        "tokens",
        tokenize_expr("text", stopwords=(), min_len=1, drop_numeric=False),
    )
    feats = quality_features("text", "tokens")
    # r13: repetition features run on the raw token array (no pre-hash
    # pass — see the operator docstring for the fold-removal receipt)
    reps = repetition_features("tokens")
    with_feats = docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        reps["dup_token_ratio"].alias("dup_token_ratio"),
        reps["top_bigram_ratio"].alias("top_bigram_ratio"),
    )
    named = {k: F.col(k) for k in
             ("n_chars", "n_tokens", "mean_token_len", "stopword_ratio", "punct_ratio")}
    return with_feats.select(
        "doc_id",
        *named,
        "dup_token_ratio",
        "top_bigram_ratio",
        quality_score_expr(named).alias("quality"),
    )


from bigdataproject_spark.functions.tokenize import DEFAULT_STOPWORDS  # noqa: E402

_SQL_SW = ", ".join(f"'{w}'" for w in DEFAULT_STOPWORDS)

# Shared oracle fragments (r10: the standalone textstats / lang_id
# oracles and the merged text_quality_langid oracle must stay ONE
# definition each — a fix applied to a drifted copy would make one
# oracle silently validate different semantics than the operator; same
# rule as the span-dedup CTEs below). All assume the ``t`` CTE
# (doc_id, lang, text, toks) in scope.

_T_DOCS_CTE = f"t AS (SELECT doc_id, lang, text, {_SQL_TOKENS} AS toks FROM documents)"

_TEXTSTATS_CTES = f"""f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           / len(toks)
           ELSE CAST(0.0 AS DOUBLE) END AS mean_token_len,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> x IN ({_SQL_SW}))) AS DOUBLE)
           / len(toks)
           ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(text) > 0 THEN
           CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                AS DOUBLE)
           / length(text) ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
         CASE WHEN len(toks) > 0 THEN
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           ELSE CAST(0.0 AS DOUBLE) END AS dup_token_ratio
  FROM t
), bg AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+1], ' '))
         ELSE CAST([] AS VARCHAR[]) END AS bgs,
         len(toks) AS n_tokens
  FROM t
), bgc AS (
  SELECT doc_id, max(c) AS maxc
  FROM (
    SELECT doc_id, bgram, count(*) AS c
    FROM (SELECT doc_id, unnest(bgs) AS bgram FROM bg)
    GROUP BY doc_id, bgram
  ) GROUP BY doc_id
), rep AS (
  SELECT bg.doc_id,
         CASE WHEN bg.n_tokens >= 2 THEN
           CAST(coalesce(bgc.maxc, 0) AS DOUBLE) / (bg.n_tokens - 1)
           ELSE CAST(0.0 AS DOUBLE) END AS top_bigram_ratio
  FROM bg LEFT JOIN bgc USING (doc_id)
)"""

_TEXTSTATS_COLS = """CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       mean_token_len, stopword_ratio, punct_ratio,
       dup_token_ratio, rep.top_bigram_ratio AS top_bigram_ratio,
       CAST(40 * (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END)
          + 30 * (CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END)
          + 30 * (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS quality"""

ORACLE_TEXTSTATS = f"""
WITH {_T_DOCS_CTE}, {_TEXTSTATS_CTES}
SELECT f.doc_id, {_TEXTSTATS_COLS}
FROM f JOIN rep USING (doc_id) ORDER BY f.doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (argmax of per-language hit counts; earlier
    declared language wins ties; zero hits → 'und') + per-doc token
    counting (whitespace + BPE-ish regex) — consolidated into ONE map
    pass in round 4 to hold the registry at the driver's 50-entry
    check limit (both operators stay independently hash-checked via
    their columns)."""
    docs = _docs_tokens(spark, sf_dir, fan=True)
    tc = token_counts("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        lang_id_expr("tokens").alias("lang_pred"),
        tc["n_ws_tokens"].alias("n_ws_tokens"),
        tc["n_bpe_tokens"].alias("n_bpe_tokens"),
    )


def _lang_counts_sql() -> str:
    cells = []
    for lang, words in DEFAULT_LANG_MARKERS.items():
        in_list = ", ".join(f"'{w}'" for w in words)
        cells.append(
            f"len(list_filter(toks, x -> x IN ({in_list}))) AS c_{lang}"
        )
    return ", ".join(cells)


_LANGS = list(DEFAULT_LANG_MARKERS)
_TIE_CASE = " ".join(
    "WHEN "
    + " AND ".join(
        [f"c_{l} >= c_{m}" for m in _LANGS if m != l]
    )
    + f" THEN '{l}'"
    for l in _LANGS
)
_LANG_CTE = f"""c AS (
  SELECT doc_id, lang, text, {_lang_counts_sql()} FROM t
)"""

_LANG_COLS = f"""lang AS lang_actual,
       CASE WHEN greatest({", ".join("c_" + l for l in _LANGS)}) = 0 THEN 'und'
            {_TIE_CASE}
            ELSE 'und' END AS lang_pred,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
            AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPEISH_PATTERN.replace(chr(39), chr(39) * 2)}'))
            AS BIGINT) AS n_bpe_tokens"""

ORACLE_LANG_ID = f"""
WITH {_T_DOCS_CTE}, {_LANG_CTE}
SELECT doc_id, {_LANG_COLS}
FROM c ORDER BY doc_id
"""


def q_text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score + marker-word language ID +
    token counting, consolidated into ONE map pass (r10: the r9
    ANN-merge trick applied to the per-doc text-analysis family — both
    operators stay independently hash-checked via their columns, the
    standalone queries stay alive in EXTRA_PARITY, and the freed
    registry slot gives the span-dedup family its standing driver
    row). Strictly harder than either half: one tokenize feeds the
    quality features, the repetition features, AND the lang-ID argmax,
    so codegen sharing across the two operator families is itself under
    test. Same two-step projection discipline as q_textstats (see its
    docstring for the CollapseProject reasoning); zero shuffles."""
    docs = _docs_tokens(spark, sf_dir, fan=True)
    feats = quality_features("text", "tokens")
    # r13: raw tokens — see repetition_features' fold-removal receipt
    reps = repetition_features("tokens")
    tc = token_counts("text")
    with_feats = docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        reps["dup_token_ratio"].alias("dup_token_ratio"),
        reps["top_bigram_ratio"].alias("top_bigram_ratio"),
        F.col("lang").alias("lang_actual"),
        lang_id_expr("tokens").alias("lang_pred"),
        tc["n_ws_tokens"].alias("n_ws_tokens"),
        tc["n_bpe_tokens"].alias("n_bpe_tokens"),
    )
    named = {k: F.col(k) for k in
             ("n_chars", "n_tokens", "mean_token_len", "stopword_ratio", "punct_ratio")}
    return with_feats.select(
        "doc_id",
        *named,
        "dup_token_ratio",
        "top_bigram_ratio",
        quality_score_expr(named).alias("quality"),
        "lang_actual",
        "lang_pred",
        "n_ws_tokens",
        "n_bpe_tokens",
    )


ORACLE_TEXT_QUALITY_LANGID = f"""
WITH {_T_DOCS_CTE}, {_TEXTSTATS_CTES}, {_LANG_CTE}
SELECT f.doc_id, {_TEXTSTATS_COLS},
       {_LANG_COLS}
FROM f JOIN rep USING (doc_id) JOIN c USING (doc_id) ORDER BY f.doc_id
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix fingerprint (md5 of first 64 normalized tokens) + winnowing
    fingerprint set (k-gram min-hash windows).

    Hash-checked: winnowing hashes k-grams to portable 48-bit md5
    values, so the digests and their numeric window minima reproduce
    identically in DuckDB. The fingerprint
    set is emitted sorted and '|'-joined (driver canonicalizer can't
    sort list cells). The winnowing expression is bound to a NAMED
    inner-projection column: referencing the raw expression from both
    the count and the joined set evaluates the full winnowing pass twice
    (measured 11.8 s vs 6.6 s at sf1) — CollapseProject refuses to
    inline a non-cheap alias used more than once, which is exactly the
    sharing the one-select form never gets. fan_out: winnowing is the
    heaviest interpreted map pass in the registry — never serialize it
    onto one core for a small source (identity at scale)."""
    docs = _docs_tokens(spark, sf_dir, fan=True)
    fps = winnowing_fingerprints("tokens", k=5, window=4)
    inner = docs.select(
        "doc_id",
        fingerprint_expr("tokens", 64).alias("fp_prefix64"),
        fps.alias("fps"),
    )
    return inner.select(
        "doc_id",
        "fp_prefix64",
        F.size("fps").cast("long").alias("n_winnow"),
        F.array_join(
            F.transform(F.array_sort("fps"), lambda x: x.cast("string")), "|"
        ).alias("winnow_set"),
    )


ORACLE_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
kg AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 5 THEN
           list_transform(generate_series(1, len(toks) - 4),
                          i -> CAST(concat('0x',
                                 substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 12))
                               AS BIGINT))
         ELSE CAST([] AS BIGINT[]) END AS kg
  FROM t
),
fp AS (
  SELECT doc_id, toks,
    CASE WHEN len(kg) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(kg) < 4 THEN [list_aggregate(kg, 'min')]
         ELSE list_distinct(list_transform(generate_series(1, len(kg) - 3),
                j -> list_aggregate(kg[j:j+3], 'min')))
    END AS fps
  FROM kg
)
SELECT doc_id,
       md5(array_to_string(toks[1:64], ' ')) AS fp_prefix64,
       len(fps) AS n_winnow,
       array_to_string(list_sort(fps), '|') AS winnow_set
FROM fp ORDER BY doc_id
"""


# --- train/eval contamination ------------------------------------------------

CONTAM_N = 5  # word-gram length (13 in GPT-3's filter; 5 suits short docs)
CONTAM_EVAL_CUT = "0d"  # md5(doc_id) hex prefix < '0d' ≈ 5% eval split
CONTAM_FLAG = 0.5


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: flag training docs sharing 5-word-gram
    content with a deterministic ~5% eval split (md5 key-range split, the
    same engine-independent sampling as ``deterministic_sample``).

    Eval gram set is broadcast; grams are portable 48-bit md5 hashes —
    see operators/decontam.py for the 100 TB shape."""
    docs = _docs_tokens(spark, sf_dir, fan=True)
    base = docs.select(
        "doc_id",
        portable_hashed_shingles("tokens", CONTAM_N).alias("grams"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("kh"),
    )
    ev = base.filter(F.col("kh") < CONTAM_EVAL_CUT)
    train = base.filter(F.col("kh") >= CONTAM_EVAL_CUT)
    return ngram_contamination(
        train, ev, id_col="doc_id", grams_col="grams", flag_threshold=CONTAM_FLAG
    )


ORACLE_CONTAMINATION = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS kh
  FROM documents
), g AS (
  SELECT doc_id, kh,
         CASE WHEN len(toks) >= {CONTAM_N} THEN
           list_distinct(list_transform(
             generate_series(1, len(toks) - {CONTAM_N - 1}),
             i -> CAST(concat('0x',
                    substr(md5(array_to_string(toks[i:i+{CONTAM_N - 1}], ' ')), 1, 12))
                  AS BIGINT)))
         ELSE CAST([] AS BIGINT[]) END AS grams
  FROM t
), ev AS (
  SELECT DISTINCT unnest(grams) AS gr FROM g WHERE kh < '{CONTAM_EVAL_CUT}'
), tr AS (
  SELECT doc_id, len(grams) AS n_grams, grams FROM g WHERE kh >= '{CONTAM_EVAL_CUT}'
), post AS (
  SELECT doc_id, unnest(grams) AS gr FROM tr
), hits AS (
  SELECT p.doc_id, CAST(count(ev.gr) AS BIGINT) AS n_hit
  FROM post p LEFT JOIN ev ON p.gr = ev.gr
  GROUP BY p.doc_id
)
SELECT tr.doc_id,
       CAST(tr.n_grams AS BIGINT) AS n_grams,
       coalesce(h.n_hit, 0) AS n_hit,
       CASE WHEN tr.n_grams > 0
            THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE) / tr.n_grams
            ELSE CAST(0.0 AS DOUBLE) END
         AS contamination,
       CAST(CASE WHEN tr.n_grams > 0
             AND coalesce(h.n_hit, 0) * 1.0 / tr.n_grams >= {CONTAM_FLAG}
            THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM tr LEFT JOIN hits h USING (doc_id)
ORDER BY tr.doc_id
"""


# --- multimodal plumbing -----------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass + stubbed Arrow-batched feature
    extraction, consolidated into ONE registry entry in round 4 (the
    driver checks at most 50): documents.text encoded as an opaque
    payload → (n_bytes, sha256) computed JVM-side on the binary, joined
    with the mapInPandas fake-decode features.

    ``c0`` is the UN-normalized bucket-0 count (bytes ≡ 0 mod 8) as a
    bigint: integer counts survive the float32 feature column exactly
    (< 2^24), so the whole mapInPandas path is hash-checked against a
    DuckDB oracle that recounts the same bytes from
    ``hex(encode(text))`` — byte % 8 depends only on the low nibble, so
    one hex digit per byte decides the bucket."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    assets = to_media_assets(docs, id_col="doc_id", payload_col="payload", media_type="text")
    feats = extract_features(assets, fake=True, dim=8, normalize=False)
    return assets.select(
        "asset_id", "media_type", "mime", "n_bytes", "sha256"
    ).join(
        feats.select(
            "asset_id",
            F.element_at("feature", 1).cast("long").alias("c0"),
        ),
        "asset_id",
    )


ORACLE_MULTIMODAL_META = """
WITH h AS (
  SELECT doc_id, text, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS nb
  FROM documents
), pos AS (
  SELECT doc_id, hx, unnest(generate_series(1, CAST(nb AS INTEGER))) AS i FROM h
), lo AS (
  SELECT doc_id,
         CAST(concat('0x', substr(hx, 2 * i, 1)) AS INTEGER) AS lo
  FROM pos
), c AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN lo % 8 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM lo GROUP BY doc_id
)
SELECT h.doc_id AS asset_id,
       'text' AS media_type,
       'application/x-text' AS mime,
       h.nb AS n_bytes,
       sha256(h.text) AS sha256,
       coalesce(c.c0, 0) AS c0
FROM h LEFT JOIN c USING (doc_id)
ORDER BY asset_id
"""


# --- round-4 promotions: library ops → hash-checked registry entries --------


def _relined_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lines array<string>) with the single-line testdata
    documents deterministically re-lined at 3 tokens per line — the
    small vocabulary makes boilerplate-like line repeats emerge both
    across documents (feeding the corpus-level dedup) and within one
    document (feeding the Gopher per-doc line-repetition signals).
    Shared by q_dedup_lines (joined with '\\n') and q_line_repetition
    (consumed AS the line array — never re-split, so a token carrying
    an embedded CR/LF cannot diverge from the oracle's one-line-per-
    slice semantics; r12 review). The DuckDB oracles mirror the
    identical slicing."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    toks = F.split(F.col("text"), " ")
    n_lines = F.greatest(
        F.ceil(F.size(toks) / F.lit(3)), F.lit(1)
    ).cast("int")
    return docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda g: F.concat_ws(" ", F.slice(toks, g * 3 + 1, 3)),
        ).alias("lines"),
    )


def _relined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text): the re-lined documents as one string per doc —
    :func:`_relined_lines` joined with '\\n' for the line-granular
    corpus dedup, whose operator re-splits on the same delimiter."""
    return _relined_lines(spark, sf_dir).select(
        "doc_id", F.concat_ws("\n", "lines").alias("text")
    )


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (boilerplate removal) made registry-
    visible: re-lined documents (:func:`_relined_docs`), then every
    line occurring ≥2 times corpus-wide is dropped
    (operators/linededup.py)."""
    from bigdataproject_spark.operators.linededup import dedup_lines

    out = dedup_lines(
        _relined_docs(spark, sf_dir), id_col="doc_id", text_col="text"
    )
    return out.select("doc_id", F.col("text").alias("clean_text"))


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher per-document line-repetition signals (Rae et al. 2021
    Table A1 duplicate-line filters; operators/textstats.py) over the
    re-lined documents — a pure map stage, zero shuffle; the only
    exchange is the output sort. Consumes the constructed line ARRAY
    via ``line_repetition_from_lines`` (not join-then-split, which
    would count extra lines for CR/LF-bearing tokens on the Spark side
    only — the oracle counts one line per slice); the plain-text
    ``line_repetition_features`` split path stays the production API
    for real multi-line corpora."""
    from bigdataproject_spark.operators.textstats import (
        line_repetition_from_lines,
    )

    feats = line_repetition_from_lines(F.col("lines"))
    return (
        _relined_lines(spark, sf_dir)
        .select("doc_id", *[c.alias(k) for k, c in feats.items()])
    )


ORACLE_LINE_REPETITION = """
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
ln AS (SELECT doc_id, t,
              greatest(CAST(ceil(len(t) / 3.0) AS BIGINT), 1) AS nl
       FROM tk),
lined AS (
  SELECT doc_id, g,
         array_to_string(list_slice(t, g * 3 + 1, g * 3 + 3), ' ') AS line
  FROM (SELECT doc_id, t, unnest(generate_series(0, nl - 1)) AS g FROM ln)
),
nz AS (SELECT doc_id, line FROM lined WHERE trim(line) != ''),
lls AS (SELECT doc_id, list(line) AS lines FROM nz GROUP BY doc_id),
stats AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(lines) - len(list_distinct(lines)) AS n_dup_lines,
         coalesce(list_aggregate(
           list_transform(lines, x -> length(x)), 'sum'), 0) AS tc,
         coalesce(list_aggregate(
           list_transform(list_distinct(lines), x -> length(x)), 'sum'),
           0) AS dc
  FROM lls)
SELECT b.doc_id,
       coalesce(s.n_lines, 0) AS n_lines,
       coalesce(s.n_dup_lines, 0) AS n_dup_lines,
       CASE WHEN coalesce(s.n_lines, 0) > 0
            THEN CAST(s.n_dup_lines AS DOUBLE) / s.n_lines
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN coalesce(s.tc, 0) > 0
            THEN CAST(s.tc - s.dc AS DOUBLE) / s.tc
            ELSE 0.0 END AS dup_line_char_frac
FROM base b LEFT JOIN stats s USING (doc_id)
ORDER BY doc_id
"""


ORACLE_DEDUP_LINES = """
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
ln AS (SELECT doc_id, t,
              greatest(CAST(ceil(len(t) / 3.0) AS BIGINT), 1) AS nl
       FROM tk),
lined AS (
  SELECT doc_id, g,
         array_to_string(list_slice(t, g * 3 + 1, g * 3 + 3), ' ') AS line
  FROM (SELECT doc_id, t, unnest(generate_series(0, nl - 1)) AS g FROM ln)
),
k AS (SELECT doc_id, g AS pos, line,
             CASE WHEN trim(line) != '' THEN lower(trim(line)) END AS key
      FROM lined),
hot AS (SELECT key FROM k WHERE key IS NOT NULL
        GROUP BY key HAVING count(*) >= 2),
kept AS (SELECT doc_id, pos, line FROM k
         WHERE key IS NULL OR key NOT IN (SELECT key FROM hot))
SELECT b.doc_id,
       coalesce(string_agg(kept.line, chr(10) ORDER BY kept.pos), '')
         AS clean_text
FROM base b LEFT JOIN kept ON b.doc_id = kept.doc_id
GROUP BY b.doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py): one
    generate in the scan stage, zero shuffle — the pre-tokenization
    step of a training pipeline, hash-checked against DuckDB span
    math."""
    from bigdataproject_spark.operators.chunking import chunk_documents

    docs = _docs_tokens(spark, sf_dir)
    return chunk_documents(docs, chunk_tokens=12, overlap=4)


def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-then-pack — the two adjacent training-pipeline stages as
    ONE registry entry (same-family merge, r4 convention): overlapping
    token-window chunking (operators/chunking.py — one generate, zero
    shuffle) feeds distributed next-fit sequence packing
    (operators/packing.py — ONE hash exchange on the shard key; the
    pack-position window reuses the shard clustering). The shard key is
    ``doc_id % 8`` here so the oracle is pure SQL; production uses the
    content-keyed shard from sources.writers.training_shard_plan."""
    from bigdataproject_spark.operators.chunking import chunk_documents
    from bigdataproject_spark.operators.packing import pack_sequences

    docs = _docs_tokens(spark, sf_dir)
    chunks = chunk_documents(docs, chunk_tokens=12, overlap=4)
    sharded = chunks.withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
    )
    packed = pack_sequences(
        sharded,
        shard_col="shard",
        order_cols=["doc_id", "chunk_id"],
        tokens_col="n_tokens",
        target_tokens=48,
    )
    return packed.select(
        "doc_id",
        "chunk_id",
        "n_chunks",
        "chunk_text",
        "n_tokens",
        "shard",
        "pack_id",
        "pack_pos",
        F.col("pack_cum_tokens").cast("bigint").alias("pack_cum_tokens"),
    )


_CHUNK, _STRIDE = 12, 8
# text coalesced to '': a NULL-text doc must yield its one empty chunk
# (as the Spark side does) — un-coalesced, generate_series(1, NULL)
# would silently drop the doc from the oracle.
ORACLE_CHUNK_DOCUMENTS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x != '') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         (1 + CAST(floor((greatest(len(toks) - {_CHUNK}, 0) + {_STRIDE - 1})
                         / {_STRIDE}) AS INT)) AS n_chunks
  FROM t
)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id, n_chunks,
       coalesce(array_to_string(list_slice(toks, (i-1)*{_STRIDE} + 1,
         (i-1)*{_STRIDE} + least(n - (i-1)*{_STRIDE}, {_CHUNK})), ' '), '')
         AS chunk_text,
       CAST(least(n - (i-1)*{_STRIDE}, {_CHUNK}) AS INT) AS n_tokens
FROM (SELECT doc_id, toks, n, n_chunks,
             unnest(generate_series(1, n_chunks)) AS i
      FROM n)
"""

# chunk-then-pack: the chunk CTE above extended with the next-fit pack
# windows (operators/packing.py semantics verbatim: per-shard prefix
# sum with an explicit ROWS frame, raw boundary floor((cum-1)/target),
# dense_rank → gap-free pack ids, position + running total per pack).
_PACK_TARGET = 48
ORACLE_CHUNK_PACK = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x != '') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         (1 + CAST(floor((greatest(len(toks) - {_CHUNK}, 0) + {_STRIDE - 1})
                         / {_STRIDE}) AS INT)) AS n_chunks
  FROM t
),
c AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id, n_chunks,
         coalesce(array_to_string(list_slice(toks, (i-1)*{_STRIDE} + 1,
           (i-1)*{_STRIDE} + least(n - (i-1)*{_STRIDE}, {_CHUNK})), ' '), '')
           AS chunk_text,
         CAST(least(n - (i-1)*{_STRIDE}, {_CHUNK}) AS INT) AS n_tokens,
         CAST(doc_id % 8 AS INT) AS shard
  FROM (SELECT doc_id, toks, n, n_chunks,
               unnest(generate_series(1, n_chunks)) AS i
        FROM n)
),
p AS (
  SELECT *,
         CAST(floor(greatest(sum(n_tokens) OVER w - 1, 0)
                    / {_PACK_TARGET}) AS INT) AS _raw
  FROM c
  WINDOW w AS (PARTITION BY shard ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pp AS (
  SELECT *, CAST(dense_rank() OVER (PARTITION BY shard ORDER BY _raw) - 1
                 AS INT) AS pack_id
  FROM p
)
SELECT doc_id, chunk_id, n_chunks, chunk_text, n_tokens, shard, pack_id,
       CAST(row_number() OVER wp - 1 AS INT) AS pack_pos,
       CAST(sum(n_tokens) OVER (PARTITION BY shard, pack_id
              ORDER BY doc_id, chunk_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS pack_cum_tokens
FROM pp
WINDOW wp AS (PARTITION BY shard, pack_id ORDER BY doc_id, chunk_id)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-kind counts (operators/redact.py): the clean
    testdata corpus is salted with deterministic synthetic PII (an
    email with the doc id, a dotted-quad host, a phone) so the chained
    regexp_replace pass and the progressive counts are exercised on
    every row — zero-shuffle codegen map pass, patterns in the Java ∩
    RE2 subset so DuckDB runs the identical strings."""
    from bigdataproject_spark.operators.redact import pii_counts, redact_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.withColumn(
        "_t",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from host 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 or call +1 555 010 4477"),
        ),
    )
    counts = pii_counts("_t")
    return salted.select(
        "doc_id",
        redact_expr("_t").alias("redacted"),
        *[c.alias(n) for n, c in counts.items()],
    )


def _oracle_pii_redact() -> str:
    from bigdataproject_spark.operators.redact import PII_PATTERNS

    salt = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from host 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.7 or call +1 555 010 4477'"
    )
    sql = "WITH s AS (SELECT doc_id, " + salt + " AS t FROM documents)"
    prev = "s"
    for i, kind in enumerate(("url", "email", "ipv4", "phone"), start=1):
        pat = PII_PATTERNS[kind]
        carried = ", ".join(
            f"n_{k}" for k in ("url", "email", "ipv4", "phone")[: i - 1]
        )
        carried = (carried + ", ") if carried else ""
        sql += (
            f", c{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{kind}, "
            f"regexp_replace(t, '{pat}', '<{kind}>', 'g') AS t "
            f"FROM {prev})"
        )
        prev = f"c{i}"
    return (
        sql
        + " SELECT doc_id, t AS redacted, n_url, n_email, n_ipv4, n_phone"
        + f" FROM {prev}"
    )


PIPELINE_QUERIES = {
    "dedup_lines_boilerplate": _q(q_dedup_lines, ORACLE_DEDUP_LINES),
    # r5: chunk_documents_windows absorbed into the chunk-then-pack
    # merge (same family — driver's 50-entry cap); the standalone chunk
    # query + oracle stay alive in EXTRA_PARITY below, which
    # tests/test_oracle_parity.py exercises alongside the registry.
    "chunk_pack_sequences": _q(q_chunk_pack, ORACLE_CHUNK_PACK),
    "pii_redact": _q(q_pii_redact, _oracle_pii_redact()),
    "dedup_exact": _q(q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_ngram_jaccard": _q(q_dedup_jaccard, ORACLE_DEDUP_JACCARD),
    "dedup_minhash_lsh": _q(q_dedup_minhash, ORACLE_DEDUP_MINHASH),
    "dedup_simhash_neardup": _q(q_dedup_simhash_neardup, ORACLE_DEDUP_SIMHASH),
    "deterministic_sample": _q(q_deterministic_sample, ORACLE_DET_SAMPLE),
    "embedding_neardup": _q(q_embedding_neardup, ORACLE_EMB_NEARDUP),
    "ann_brute_topk": _q(q_ann_brute, ORACLE_ANN_BRUTE),
    # r9: ann_lsh_topk + ann_ivf_topk absorbed into one method-tagged
    # entry (same family, identical schema — driver's 50-entry cap; see
    # q_ann_indexed). The standalone queries + oracles stay alive in
    # EXTRA_PARITY below.
    "ann_indexed_topk": _q(q_ann_indexed, ORACLE_ANN_INDEXED),
    # r10: textstats_quality + lang_id absorbed into one single-pass
    # entry (same per-doc map-pass family, identical row shape — the
    # r9 ANN-merge trick). The standalone queries + oracles stay alive
    # in EXTRA_PARITY below; the freed slot is span_dedup_report's
    # standing driver row (registered after its oracle fragments, at
    # the bottom of this module).
    "text_quality_langid": _q(q_text_quality_langid, ORACLE_TEXT_QUALITY_LANGID),
    "doc_fingerprint": _q(q_fingerprint, ORACLE_FINGERPRINT),
    "contamination_check": _q(q_contamination, ORACLE_CONTAMINATION),
    "multimodal_meta": _q(q_multimodal_meta, ORACLE_MULTIMODAL_META),
}

# Oracled queries that are NOT registry entries (the driver caps the
# registry at 50): exercised by tests/test_oracle_parity.py with the
# same compare as the registry, so their oracles cannot silently rot.
def _extra_parity_extended():
    from bigdataproject_spark.queries_extended import (
        ORACLE_ENERGY_CAPPED,
        q_energy_timeline_capped,
    )

    return {
        "energy_timeline_capped": _q(
            q_energy_timeline_capped, ORACLE_ENERGY_CAPPED
        ),
    }


# Shared CTE fragments for the three span-dedup oracles (r9 review:
# the island merge and the token-position cut must stay ONE definition
# — a fix applied to a drifted copy would make one oracle silently
# validate different semantics than the operator). All assume a ``tk``
# CTE with (doc_id, t) in scope; k is pinned at 8 like the queries.


def _span_gram_cte(src_filter: str = "") -> str:
    """``g`` = (doc_id, start, md5-key) per 8-gram occurrence."""
    return f"""g AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(list_slice(t, i + 1, i + 8), ' ')) AS key
  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
        FROM tk WHERE {src_filter}len(t) >= 8)
)"""


_SPAN_ISLANDS_SQL = """isl AS (
  SELECT doc_id, start,
         CASE WHEN start > coalesce(max(start + 8) OVER (
                PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS opens
  FROM hits
),
num AS (
  SELECT doc_id, start,
         sum(opens) OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(start) AS s, max(start) + 8 AS e
  FROM num GROUP BY doc_id, island
)"""


def _span_cut_sql(src_where: str = "") -> str:
    """``tokpos``+``kept`` = token positions surviving the span cut."""
    return f"""tokpos AS (
  SELECT doc_id, p, t[p] AS tok
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p
        FROM tk{src_where})
),
kept AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tokpos tp LEFT JOIN spans s
    ON tp.doc_id = s.doc_id AND tp.p - 1 >= s.s AND tp.p - 1 < s.e
  WHERE s.s IS NULL
)"""


def q_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup report (operators/spandedup.py — the
    Lee et al. 2022 corpus op, k-gram formulation): per-doc maximal
    duplicated-8-gram spans with token counts, md5 gram keys so the
    DuckDB oracle replays the identical grouping. Dedup-family sibling
    of dedup_exact / dedup_lines_boilerplate. r12: promoted to a
    standing driver row as the COUNTS half of the span_dedup_report
    bisect (all-BIGINT row, no string column — see the registration
    note at the bottom of this module)."""
    from bigdataproject_spark.operators.spandedup import span_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_stats(
        docs, id_col="doc_id", text_col="text", k=8, hash_family="md5"
    )


ORACLE_SPAN_DEDUP_STATS = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
{_span_gram_cte()},
dups AS (SELECT key FROM g GROUP BY key HAVING count(*) >= 2),
hits AS (SELECT doc_id, start FROM g WHERE key IN (SELECT key FROM dups)),
{_SPAN_ISLANDS_SQL},
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT tk.doc_id,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       len(tk.t) AS total_tokens,
       CAST((CAST(coalesce(p.dup_tokens, 0) AS BIGINT) * 1000000)
            // len(tk.t) AS BIGINT)
         AS dup_frac_ppm
FROM tk LEFT JOIN per_doc p USING (doc_id)
"""


def q_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-REMOVAL half of operators/spandedup.py hash-checked
    end-to-end: per-doc text with every duplicated-8-gram span cut,
    against a DuckDB oracle that rebuilds the same islands and
    anti-joins token positions. Proves the higher-order-filter cut (not
    just the span arithmetic) against an independent engine. r12:
    promoted to a standing driver row as the TEXT half of the
    span_dedup_report bisect (doc_id + clean_text only — see the
    registration note at the bottom of this module)."""
    from bigdataproject_spark.operators.spandedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text", k=8, hash_family="md5"
    )


ORACLE_SPAN_DEDUP_CLEAN = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
{_span_gram_cte()},
dups AS (SELECT key FROM g GROUP BY key HAVING count(*) >= 2),
hits AS (SELECT doc_id, start FROM g WHERE key IN (SELECT key FROM dups)),
{_SPAN_ISLANDS_SQL},
{_span_cut_sql()}
SELECT b.doc_id,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
FROM base b LEFT JOIN kept k USING (doc_id)
GROUP BY b.doc_id
"""


def q_span_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span-dedup family's fused row (driver row r10-r11; r12
    moved it to EXTRA_PARITY while the driver bisects its two halves —
    see the registration note at the bottom of this module): stats AND
    removal in one plan — (doc_id, n_dup_spans, dup_tokens,
    total_tokens, dup_frac_ppm, clean_text) with k=8 md5 grams. r11
    replaced the dup_frac DOUBLE (round(long/long, 6) — the registry's
    only rounded integer-ratio, hash-failed by the r10 driver despite
    bit-exact local parity at three scale factors) with integer
    parts-per-million via floor division on BOTH engines. Strictly
    harder than either standalone half (which stay alive in
    EXTRA_PARITY): the shared groupBy must produce the span list for
    the higher-order-filter cut and the counts for the report from ONE
    island merge, so a bug in either consumer path breaks the hash."""
    from bigdataproject_spark.operators.spandedup import span_dedup_report

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_report(
        docs, id_col="doc_id", text_col="text", k=8, hash_family="md5"
    )


ORACLE_SPAN_DEDUP_REPORT = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
{_span_gram_cte()},
dups AS (SELECT key FROM g GROUP BY key HAVING count(*) >= 2),
hits AS (SELECT doc_id, start FROM g WHERE key IN (SELECT key FROM dups)),
{_SPAN_ISLANDS_SQL},
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s) AS dup_tokens
  FROM spans GROUP BY doc_id
),
{_span_cut_sql()},
clean AS (
  SELECT b.doc_id,
         coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
  FROM base b LEFT JOIN kept k USING (doc_id)
  GROUP BY b.doc_id
)
SELECT tk.doc_id,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       len(tk.t) AS total_tokens,
       CAST((CAST(coalesce(p.dup_tokens, 0) AS BIGINT) * 1000000)
            // len(tk.t) AS BIGINT)
         AS dup_frac_ppm,
       c.clean_text AS clean_text
FROM tk LEFT JOIN per_doc p USING (doc_id)
JOIN clean c USING (doc_id)
"""


def q_span_decontam_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level DECONTAMINATION (the surgical sibling of
    `contamination_check`): training docs (the ~95% md5-keyrange
    split) with every 8-gram span that leaks EVAL text cut out —
    reference_keys mode of operators/spandedup.py, same eval split
    constant as the doc-level flag so the two queries describe one
    pipeline."""
    from bigdataproject_spark.operators.spandedup import (
        reference_gram_keys,
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    kh = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ev = docs.where(kh < CONTAM_EVAL_CUT)
    train = docs.where(kh >= CONTAM_EVAL_CUT)
    ref = reference_gram_keys(ev, text_col="text", k=8, hash_family="md5")
    return remove_duplicate_spans(
        train,
        id_col="doc_id",
        text_col="text",
        k=8,
        hash_family="md5",
        reference_keys=ref,
    )


ORACLE_SPAN_DECONTAM_CLEAN = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS kh
              FROM documents),
tk AS (SELECT doc_id, kh, string_split(text, ' ') AS t FROM base),
refg AS (
  SELECT DISTINCT md5(array_to_string(list_slice(t, i + 1, i + 8), ' ')) AS key
  FROM (SELECT t, unnest(generate_series(0, len(t) - 8)) AS i
        FROM tk WHERE kh < '{CONTAM_EVAL_CUT}' AND len(t) >= 8)
),
{_span_gram_cte(f"kh >= '{CONTAM_EVAL_CUT}' AND ")},
hits AS (SELECT doc_id, start FROM g WHERE key IN (SELECT key FROM refg)),
{_SPAN_ISLANDS_SQL},
{_span_cut_sql(f" WHERE kh >= '{CONTAM_EVAL_CUT}'")}
SELECT b.doc_id,
       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
FROM (SELECT doc_id FROM base WHERE kh >= '{CONTAM_EVAL_CUT}') b
LEFT JOIN kept k USING (doc_id)
GROUP BY b.doc_id
"""


BM25_QUERY = "fast hash join"  # three mid-frequency corpus terms
_BM25_TERMS = ("fast", "hash", "join")  # sorted, = bm25_topk's split
_BM25_K = 25


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical BM25 top-k retrieval (operators/textsearch.py — the
    lexical sibling of the ANN family): top-25 documents for a fixed
    three-term query, scores rounded 6dp, doc_id tiebreak. Per-doc
    native tf counters + a one-row stats aggregate re-broadcast into
    the score expression + TakeOrderedAndProject — no vocabulary
    explode, no wide shuffle (two pruned-parquet rescans; see the
    operator's honest-cost note). Lives in EXTRA_PARITY (registry at
    the driver's 50-entry cap)."""
    from bigdataproject_spark.operators.textsearch import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERY, k=_BM25_K)


def _bm25_ctes(terms: tuple[str, ...], p: str) -> tuple[str, str]:
    """(cte_sql, ranked_select) for a DuckDB BM25 over ``terms`` with
    CTE names prefixed ``p`` (so two rankings compose in one WITH for
    the RRF oracle). Generated from the SAME term tuple as the Spark
    query — the score expression (term order included; float addition
    is not associative) cannot drift from the operator."""
    tfs = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    # identical operand order to the Spark expression: term 0 + term 1 + ...
    score = " + ".join(
        f"ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)"
        f" * CAST(tf_{i} AS DOUBLE) * 2.2"
        f" / (CAST(tf_{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))"
        for i in range(len(terms))
    )
    matches = " OR ".join(f"tf_{i} > 0" for i in range(len(terms)))
    ctes = f"""{p}t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
{p}pd AS (SELECT doc_id, len(toks) AS dl, {tfs} FROM {p}t),
{p}s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {dfs} FROM {p}pd)"""
    select = (
        f"SELECT doc_id, round({score}, 6) AS score "
        f"FROM {p}pd, {p}s WHERE {matches}"
    )
    return ctes, select


def _oracle_bm25() -> str:
    ctes, select = _bm25_ctes(_BM25_TERMS, "b_")
    return f"""
WITH {ctes}
{select}
ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""


_RRF_QUERY_B = "window sort merge"
_RRF_TERMS_B = ("merge", "sort", "window")
_RRF_LIST_K = 50


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two BM25 top-50 lists (multi-query
    retrieval — the same combiner fuses a lexical list with an ANN
    cosine list in a hybrid stack): (doc_id, rrf_score, n_lists)
    top-25. Exercises rank assignment, the union-groupBy fuse, and the
    fused ordering against a DuckDB oracle composed from the SAME BM25
    fragments."""
    from bigdataproject_spark.operators.textsearch import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    a = bm25_topk(docs, BM25_QUERY, k=_RRF_LIST_K)
    b = bm25_topk(docs, _RRF_QUERY_B, k=_RRF_LIST_K)
    return rrf_fuse([a, b], k=25)


def _oracle_rrf() -> str:
    ctes_a, sel_a = _bm25_ctes(_BM25_TERMS, "a_")
    ctes_b, sel_b = _bm25_ctes(_RRF_TERMS_B, "c_")
    return f"""
WITH {ctes_a},
{ctes_b},
ra AS ({sel_a} ORDER BY score DESC, doc_id LIMIT {_RRF_LIST_K}),
rb AS ({sel_b} ORDER BY score DESC, doc_id LIMIT {_RRF_LIST_K}),
xa AS (SELECT doc_id,
              1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS c
       FROM ra),
xb AS (SELECT doc_id,
              1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS c
       FROM rb),
u AS (SELECT * FROM xa UNION ALL SELECT * FROM xb)
SELECT doc_id, sum(c) AS rrf_score,
       CAST(count(*) AS BIGINT) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 25
"""


def q_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 (operators/textsearch.py:bm25_topk_multi, r11): both
    corpus queries scored from ONE shared scan — (query, doc_id,
    score) top-25 per query. EXTRA_PARITY: the oracle is the UNION of
    the same per-query BM25 fragments the single-query rows use, so
    the batch path's shared-counter arithmetic is hash-checked against
    an independent engine, not just property-tested."""
    from bigdataproject_spark.operators.textsearch import bm25_topk_multi

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk_multi(docs, [BM25_QUERY, _RRF_QUERY_B], k=_BM25_K)


def _oracle_bm25_multi() -> str:
    ctes_a, sel_a = _bm25_ctes(_BM25_TERMS, "ma_")
    ctes_b, sel_b = _bm25_ctes(_RRF_TERMS_B, "mb_")
    return f"""
WITH {ctes_a},
{ctes_b},
ra AS ({sel_a} ORDER BY score DESC, doc_id LIMIT {_BM25_K}),
rb AS ({sel_b} ORDER BY score DESC, doc_id LIMIT {_BM25_K})
SELECT '{BM25_QUERY}' AS query, doc_id, score FROM ra
UNION ALL
SELECT '{_RRF_QUERY_B}' AS query, doc_id, score FROM rb
"""


_HYBRID_VEC_QID = 0
_HYBRID_LIST_K = 50


def q_bm25_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval stack's standing driver row (r11, per the r10
    verdict's item 3): CROSS-MODAL hybrid retrieval — the BM25 lexical
    top-50 over ``documents`` fused with the exact-cosine vector
    top-50 for query vec_id=0 over ``embeddings`` (the testdata tables
    share the id domain) via reciprocal-rank fusion. One row
    transitively exercises bm25_topk (stats broadcast, no vocabulary
    explode), the brute-cosine ranking, and rrf_fuse's rank/union/
    fuse — strictly harder than either EXTRA_PARITY half (bm25_topk,
    rrf_hybrid), which both stay alive there. rrf_score is the
    unrounded two-list fusion: bit-exact cross-engine (each
    contribution one int division, two-element sums commutative — see
    the operator's float-discipline note)."""
    from bigdataproject_spark.operators.simsearch import brute_force_topk
    from bigdataproject_spark.operators.textsearch import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_QUERY, k=_HYBRID_LIST_K)
    q = emb.filter(F.col("vec_id") == _HYBRID_VEC_QID)
    vec = brute_force_topk(
        emb, q, id_col="vec_id", vec_col="embedding", k=_HYBRID_LIST_K
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("cosine").alias("score"))
    return rrf_fuse([lex, vec], k=25)


def _oracle_bm25_rrf_hybrid() -> str:
    ctes_a, sel_a = _bm25_ctes(_BM25_TERMS, "h_")
    return f"""
WITH {ctes_a},
ra AS ({sel_a} ORDER BY score DESC, doc_id LIMIT {_HYBRID_LIST_K}),
ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vq AS (SELECT v AS qv FROM ve WHERE vec_id = {_HYBRID_VEC_QID}),
vs AS (
  SELECT ve.vec_id AS doc_id,
         round(list_dot_product(vq.qv, ve.v) /
               (sqrt(list_dot_product(vq.qv, vq.qv)) *
                sqrt(list_dot_product(ve.v, ve.v))), 6) AS score
  FROM vq, ve WHERE ve.vec_id != {_HYBRID_VEC_QID}
),
rb AS (SELECT doc_id, score FROM vs
       ORDER BY score DESC, doc_id LIMIT {_HYBRID_LIST_K}),
xa AS (SELECT doc_id,
              1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS c
       FROM ra),
xb AS (SELECT doc_id,
              1.0 / (60 + row_number() OVER (ORDER BY score DESC, doc_id)) AS c
       FROM rb),
u AS (SELECT * FROM xa UNION ALL SELECT * FROM xb)
SELECT doc_id, sum(c) AS rrf_score,
       CAST(count(*) AS BIGINT) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 25
"""


# r13: the r12 bisect read out exactly as designed — CORRECTNESS_r12
# has span_dedup_stats hash-RED and span_dedup_clean GREEN, so the
# divergence lives in the integer span-stats side and is invisible to
# clean_text reconstruction. Root cause found by auditing the DuckDB
# RESULT TYPES of all 66 oracles: the ONLY two columns that escape as
# HUGEINT are span_dedup_stats.dup_tokens and
# span_dedup_report.dup_tokens (`coalesce(sum(e - s), 0)` — DuckDB
# sums BIGINT into HUGEINT/int128). Every driver-green row emits only
# BIGINT/DOUBLE/VARCHAR/JSON. A HUGEINT column round-trips as
# decimal128(38,0) through Arrow and float64 through pandas ("83.0"
# vs Spark's "83"), so any arrow/pandas fetch in the driver's compare
# hash-fails the row while fetchall() (the local mirror) is blind to
# it — which is precisely the r10→r12 signature: bit-exact locally,
# red on the driver, in every schema that carries dup_tokens and
# never in clean. Fix: CAST(... AS BIGINT) on dup_tokens in both
# oracles (values unchanged). With the bisect cashed in, the fused
# report returns to the declared registry and the two halves move to
# EXTRA_PARITY (tools/drive_contract.py now also fails any oracle
# whose result schema contains a non-portable type, so this class of
# bug cannot re-enter).
PIPELINE_QUERIES["span_dedup_report"] = _q(
    q_span_dedup_report, ORACLE_SPAN_DEDUP_REPORT
)

# r11: the retrieval stack's standing driver row (slot freed by the
# word_count + cjk_word_count seam merge in queries_reference.py).
PIPELINE_QUERIES["bm25_rrf_hybrid"] = _q(
    q_bm25_rrf_hybrid, _oracle_bm25_rrf_hybrid()
)


def _extra_parity_reference():
    from bigdataproject_spark.queries_reference import (
        ORACLE_CJK_WORD_COUNT,
        ORACLE_WORD_COUNT,
        q_cjk_word_count,
        q_word_count,
    )

    return {
        # r11: the standalone halves of the word_count_seams merge
        # (bench.py's frozen headline series keeps timing word_count).
        "word_count": _q(q_word_count, ORACLE_WORD_COUNT),
        "cjk_word_count": _q(q_cjk_word_count, ORACLE_CJK_WORD_COUNT),
    }


def _extra_parity_graph():
    from bigdataproject_spark.queries_graph import (
        ORACLE_GRAPH_TOPOLOGY,
        q_graph_topology,
    )

    return {
        # r13: graph_nodes/graph_edges are declared registry rows again
        # (the r12 bisect slot is repaid); the seam-tagged one-pass merge
        # keeps its oracle alive here.
        "graph_topology": _q(q_graph_topology, ORACLE_GRAPH_TOPOLOGY),
    }


EXTRA_PARITY = {
    "chunk_documents_standalone": _q(q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
    "ann_lsh_topk": _q(q_ann_lsh, ORACLE_ANN_LSH),
    "ann_ivf_topk": _q(q_ann_ivf, ORACLE_ANN_IVF),
    # r13: the bisect halves keep their oracles alive here now that
    # the fused report is back in the declared registry (see the
    # registry note above span_dedup_report's registration).
    "span_dedup_stats": _q(q_span_dedup_stats, ORACLE_SPAN_DEDUP_STATS),
    "span_dedup_clean": _q(q_span_dedup_clean, ORACLE_SPAN_DEDUP_CLEAN),
    "span_decontam_clean": _q(q_span_decontam_clean, ORACLE_SPAN_DECONTAM_CLEAN),
    # r10: the standalone halves of the text_quality_langid merge.
    "textstats_quality": _q(q_textstats, ORACLE_TEXTSTATS),
    "lang_id": _q(q_lang_id, ORACLE_LANG_ID),
    # r10: lexical BM25 retrieval + hybrid RRF fusion (standalones —
    # r11 promoted the cross-modal fusion to the bm25_rrf_hybrid
    # driver row).
    "bm25_topk": _q(q_bm25_topk, _oracle_bm25()),
    "rrf_hybrid": _q(q_rrf_hybrid, _oracle_rrf()),
    # r11: the batch BM25 path, hash-checked (shared corpus scan,
    # per-query rankings bit-equal to single-query runs).
    "bm25_multi": _q(q_bm25_multi, _oracle_bm25_multi()),
    # r12: Gopher per-doc duplicate-line filters (Rae et al. Table A1)
    # over the re-lined documents — zero-shuffle map signals.
    "line_repetition_stats": _q(q_line_repetition, ORACLE_LINE_REPETITION),
    **_extra_parity_extended(),
    **_extra_parity_reference(),
    **_extra_parity_graph(),
}
