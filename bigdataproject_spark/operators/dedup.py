"""Deduplication operators for training-data pipelines (north-star ops,
BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding
cosine. All pure DataFrame/higher-order-function implementations — no
Python UDFs anywhere in the hot path.

Scale design:
  * exact dedup: hash-groupBy on a digest — one shuffle on a high-entropy
    key (no skew), map-side combine.
  * n-gram Jaccard: candidate pairs via a shared-shingle equi-join
    (inverted index) so only documents sharing ≥1 shingle are compared;
    the intersection size falls out of the join group count — the full
    |A∩B|/|A∪B| never materializes per-pair beyond one aggregated row.
    Frequent-shingle hot keys are the skew risk → ``max_shingle_df`` drops
    shingles appearing in more than N docs (standard inverted-index stop
    list), bounding any single join key's fan-out.
  * MinHash+LSH: k portable ``(A_i·sh + B_i) mod P`` hash functions as
    min-aggregates over exploded shingle postings, banded into b
    buckets; candidate pairs join only within (band, band key).
    Verification re-checks exact Jaccard on candidates only.
  * SimHash: 60-bit portable md5 fingerprint via flat bit-vote
    aggregates; near-dups = pigeonhole-banded hamming join.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


# Frames the batch dedup operators persist (shingle projections, band
# rows, collapse keys), per SparkContext id. A driver that runs several
# dedup calls in one long-lived session calls release_dedup_caches()
# between corpora — CacheManager otherwise holds every persisted frame
# for the session lifetime (same pattern as
# simsearch.release_search_broadcasts).
_DEDUP_CACHES: dict[int, list] = {}


def _persist_tracked(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _DEDUP_CACHES.setdefault(id(out.sparkSession.sparkContext), []).append(out)
    return out


def release_dedup_caches(spark) -> int:
    """Unpersist every frame the dedup operators cached on this
    SparkContext; returns how many were released. Safe to call while
    result frames are still live — Spark recomputes evicted plans."""
    released = 0
    for frame in _DEDUP_CACHES.pop(id(spark.sparkContext), []):
        try:
            frame.unpersist(False)
            released += 1
        except Exception:
            pass  # a stopped context has nothing left to release
    return released


# --- shingling ----------------------------------------------------------------


def _without_null_tokens(tokens: Column | str, kernel) -> Column:
    """``kernel`` applied to the token array with its NULL elements
    dropped, so a NULL token never enters (or splits) a window. The
    filtered array is let-bound — ``transform(array(x), a -> kernel(a))``
    evaluates x once per row — because the kernels reference their
    input several times and an inline filter is re-evaluated per
    reference (portable kernel over 5,000 cached token arrays, noop
    sink, 4 cores: 0.50 s unfiltered, 0.57 s let-bound, 3.22 s
    inline)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.transform(F.array(F.filter(t, lambda x: x.isNotNull())), kernel)[0]


def hashed_word_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes (array<bigint>).

    ``xxhash64(tok_i, .., tok_{i+n-1})`` per window — no intermediate
    shingle strings are ever built, the persisted footprint is 8 bytes per
    shingle, and downstream set ops (array_intersect for Jaccard verify)
    run on longs. Jaccard over hashed shingles equals Jaccard over string
    shingles up to 2^-64-probability collisions — the standard trade for
    minhash pipelines at scale (use :func:`portable_hashed_shingles` where
    a SQL oracle is required). NULL token elements are dropped before
    windowing; a NULL token array yields []."""

    def kernel(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(-1)))
        sh = F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(t, i + j + 1) for j in range(n)]),
        )
        return F.array_distinct(F.when(F.size(t) >= n, sh).otherwise(F.array()))

    return _without_null_tokens(tokens, kernel)


# --- exact dedup --------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, *, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Group identical texts by md5 digest: (digest, canonical_id, n_dups).

    ``canonical_id`` = min id of the group (the keeper); rows with
    n_dups > 1 are exact duplicates. Shuffles once on the digest.

    NULL text hashes to a NULL digest, so all null-text rows pool into
    ONE group here (SQL GROUP BY semantics — the DuckDB oracle pools
    identically, which is why the registry query keeps this shape).
    They share no content, so :func:`drop_exact_duplicates` treats the
    NULL group as non-duplicates and keeps every member."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    key = F.md5(norm if normalize else F.col(text_col))
    return (
        df.select(F.col(id_col).alias("id"), key.alias("digest"))
        .groupBy("digest")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def drop_exact_duplicates(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct text (the min-id row) — the in-engine
    version of the reference crawler's resumable dmid dedup (S12,
    crawler/spider_worker.py:73-77), generalized to content identity.

    NULL-text rows are all kept: they pool into one NULL-digest group in
    :func:`exact_dedup_groups`, but they share no content — silently
    deleting all but one of a corpus' failed-fetch/schema-gap rows as
    "exact duplicates" would be data loss, not dedup."""
    groups = exact_dedup_groups(df, id_col=id_col, text_col=text_col)
    keep = groups.filter(F.col("digest").isNotNull()).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.filter(F.col(text_col).isNull()).unionByName(
        df.join(keep, on=id_col, how="left_semi")
    )


# --- n-gram Jaccard (exact, inverted-index candidates) ------------------------


def _pairwise_jaccard(
    keyed: DataFrame, *, threshold: float, max_shingle_df: int | None
) -> DataFrame:
    """Prefix-filtered all-pairs Jaccard over (id, sh) rows — the
    AllPairs/PPJoin prefix filter, parallelized as in Vernica et al.,
    "Efficient Parallel Set-Similarity Joins Using MapReduce", SIGMOD'10.

    * Each doc's shingles are put in a canonical global order (by xxhash64 —
      a pure map-side sort inside one projection; frequency order would prune
      random collisions slightly better but costs two extra full-posting
      shuffles to compute document frequencies) and only the first
      ``p = |d| - ceil(t*|d|) + 1`` are indexed. Any pair with J ≥ t shares
      ≥ ceil(t*max(|A|,|B|)) shingles, so by the prefix-filter theorem the
      two prefixes must intersect — recall is 1.0 by construction.
    * The candidate join produces at most p (not |A∩B|) rows per
      qualifying pair, with the length filter ``min_sz ≥ t · max_sz``
      pruning size-incompatible collisions inside the join itself.
    * Verification computes |A∩B| with ONE ``array_intersect`` per distinct
      candidate pair on the full shingle arrays (persisted once, three
      consumers), never a per-shingle aggregation.
    """
    # p = sz - ceil(t*sz) + 1; the 1e-9 nudge keeps float noise from
    # rounding ceil UP (a too-short prefix would lose pairs; too long is
    # merely conservative). threshold=0 degenerates to the full array.
    sz = F.size("sh")
    prefix_len = sz - F.ceil(F.lit(threshold) * sz - F.lit(1e-9)).cast("int") + 1
    ordered = F.transform(
        F.array_sort(
            F.transform(
                F.col("sh"),
                lambda x: F.struct(F.xxhash64(x).alias("h"), x.alias("s")),
            )
        ),
        lambda st: st["s"],
    )
    base = keyed.select(
        "id",
        "sh",
        sz.alias("sz"),
        F.slice(ordered, 1, F.greatest(prefix_len, F.lit(0))).alias("prefix"),
    ).transform(_persist_tracked)

    posting = base.select("id", "sz", F.explode("prefix").alias("p"))
    if max_shingle_df is not None:
        rare = (
            posting.groupBy("p")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("p")
        )
        posting = posting.join(rare, on="p", how="left_semi")
    a = posting.alias("a")
    b = posting.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
                - F.lit(1e-9)
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        # unrounded: a single IEEE division of two exact ints is
        # bit-identical cross-engine, and the threshold now compares
        # the same raw value the oracle compares (r11 float audit —
        # round() was the half-boundary hazard AND a latent filter
        # mismatch: the oracle thresholds the unrounded ratio)
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    shingles_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard ≥ threshold. Returns (id_a, id_b, jaccard)
    with id_a < id_b, jaccard rounded 6dp.

    Two-stage shape (why this survives a duplicate-heavy 100 TB corpus):

    1. COLLAPSE identical shingle sets (key = md5 of the sorted array):
       real corpora — and the scaled test corpus — are dominated by exact
       copies, and every group of g copies would otherwise multiply the
       quadratic stage's candidate pairs by g². Only one representative
       per distinct set enters the pairwise join (measured at 10× scale:
       43M candidate pairs → ~0.4M). Jaccard depends only on the set, so
       expansion is lossless: within a group every pair has
       J = 1.0 exactly; across groups every member pair inherits the
       representatives' J.
    2. The representative join is the prefix-filtered inverted index of
       :func:`_pairwise_jaccard` (AllPairs/PPJoin; recall 1.0 by the
       prefix-filter theorem).

    The expansion joins are output-proportional (each emitted row is a
    result row). Docs with empty shingle sets never pair (0/0 is not ≥ t),
    matching the direct computation.

    The raw (id, shingles) projection is persisted BEFORE the filter and
    set-key derivation: callers pass ``shingles_col`` as an expression
    chain (tokenize → n-gram → hash) whose ``when()`` guards are excluded
    from codegen subexpression elimination, so a single projection
    computing filter(size) + sh + md5(sort(sh)) re-evaluates the whole
    chain per reference (measured 6× = 60s vs 10s at 10× scale — the
    same re-evaluation trap documented for winnowing and textstats).
    """
    base_sh = df.select(
        F.col(id_col).alias("id"), F.col(shingles_col).alias("sh")
    ).transform(_persist_tracked)
    return collapse_identical_pairs(
        base_sh.filter(F.size("sh") > 0).withColumnRenamed("sh", "obj"),
        pair_fn=lambda rep: _pairwise_jaccard(
            rep.withColumnRenamed("obj", "sh"),
            threshold=threshold,
            max_shingle_df=max_shingle_df,
        ),
        self_vals={"jaccard": F.lit(1.0)},
        # the df cap counts per ROW: on the direct path an exact-dup
        # cluster larger than the cap would push all its shingles past
        # it and silently lose every one of its pairs — collapse first
        # so df is counted over distinct sets (see collapse docstring).
        force_collapse=max_shingle_df is not None,
    )


# Direct-path gate for collapse_identical_pairs: if at least this fraction
# of objects are distinct, collapsing would cost more (extra shuffles) than
# it saves. Module-level so tests can force either branch.
COLLAPSE_DISTINCT_RATIO = 0.95


def collapse_identical_pairs(
    base: DataFrame,
    *,
    pair_fn,
    self_vals: Mapping[str, Column],
    force_collapse: bool = False,
) -> DataFrame:
    """Exact-collapse-before-near-dup: run a pair operator on one
    representative per group of identical objects, then expand.

    ``base`` is an (id, obj) frame — obj an array column the pair
    operator's predicate AND value columns depend on *only as a
    set/multiset* (shingle set for Jaccard/MinHash, token multiset for
    SimHash); callers pre-filter rows (e.g. empty sets) that must never
    pair. ``pair_fn`` maps a representative (id, obj) frame to
    (id_a, id_b, *values); ``self_vals`` gives each value column's
    constant for identical-object pairs (Jaccard 1.0, hamming 0).

    Expansion is lossless — members of a group share the operator's
    entire derived state (signatures, fingerprints, band keys), so a
    member pair is emitted iff the representative pair is, with the same
    values; identical pairs always qualify. Why this is the 100 TB shape:
    near-dup corpora are dominated by exact copies, and a group of g
    copies multiplies every candidate stage by g² while the distinct-set
    work stays constant (measured 43M → 0.4M candidates at 10× scale).
    The expansion joins are output-proportional. NOTE the *output* pair
    list is inherently quadratic in group size — downstream consumers
    that only need keep/drop decisions should aggregate group → canonical
    id instead of materializing all pairs.

    Ids must be unique: a group's representative is its min id, and a
    NULL id never pairs (``collect_list`` skips it, as the direct path's
    ``id_a < id_b`` join conditions do).

    ADAPTIVE: collapsing costs one extra small shuffle (the set-key
    aggregate), two caches and two representative lookups — pure
    overhead on a corpus with few exact copies. Since the keyed frame
    must materialize anyway, one aggregate over the cache decides at
    build time (AQE-style runtime stats, one bounded driver action,
    never a hot-path collect): >95% distinct sets → run ``pair_fn`` on
    all rows directly (same output by construction).

    ``force_collapse`` disables the direct-path gate. Callers whose
    ``pair_fn`` is NOT invariant to duplicate rows must set it: a df-cap
    pair_fn (``max_shingle_df``) counts document frequency per ROW, so
    on the direct path an exact-duplicate cluster larger than the cap
    inflates every one of its shingles past the cap and silently loses
    ALL of the cluster's pairs — while the collapsed path counts df per
    distinct set and emits the intra-cluster pairs from ``self_vals``.
    """
    if not force_collapse:
        # Gate stats in ONE partial-aggregable pass over the caller's
        # already-persisted base — no second wide cache just to decide
        # (r12 optimization round; the old shape persisted an
        # (id, obj, md5-set-key) copy of the corpus BEFORE the gate, so
        # the dominant distinct-heavy path paid a full redundant cache
        # write + an exact two-exchange countDistinct). The decision
        # only picks a physical shape — both branches are
        # output-identical — so a default-rsd HLL estimate over the
        # SAME md5 set/multiset key the collapse path groups by is
        # enough (one exchange instead of countDistinct's expand+final
        # two; a tighter 1% rsd measured ~1.6 s of pure sketch overhead
        # per call vs ~0.3 s at the default, for a decision that only
        # picks between two output-identical shapes).
        # The same null-coalesce as the collapse path's grouping key:
        # approx_count_distinct skips NULL keys while count(1) counts
        # the rows, so without it a null-obj-heavy corpus would gate
        # differently than the exact key groups (harmless today — both
        # branches are output-identical — but the probe should measure
        # the key it probes for).
        stats = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.coalesce(
                    F.md5(F.to_json(F.array_sort(F.col("obj")))),
                    F.lit("null"),
                )
            ).alias("d"),
        ).first()
        if stats["d"] >= COLLAPSE_DISTINCT_RATIO * stats["n"]:
            return pair_fn(base.select("id", "obj"))
    # coalesce: null obj arrays (e.g. null text) must still group with
    # each other — a null key would fail the equi-joins below. The
    # exact md5 key is only computed (and cached) on the collapse path,
    # where it is the grouping/expansion key.
    keyed = base.select(
        "id",
        "obj",
        F.coalesce(F.md5(F.to_json(F.array_sort(F.col("obj")))), F.lit("null")).alias(
            "k"
        ),
    ).transform(_persist_tracked)
    # One aggregate gives each group its representative (min id) AND
    # its member ids. rep_obj is a join product (not cache-backed like
    # the direct path's base projection) consumed by every pair_fn —
    # persist it HERE so pair_fns don't have to re-persist their input
    # (they receive either this cached frame or a projection of the
    # caller's cached base; reps of a dup-heavy corpus are small by
    # definition). The member ids ride on that cache, so the expansion
    # below reads nothing else: the pairs inside a group come from its
    # own row, the pairs across groups from one lookup per side. (A join
    # against a member table would cost a broadcast job per join: AQE
    # never reuses a broadcast over a cached scan, whose query stage
    # keeps the scan's own attribute ids.)
    groups = keyed.groupBy("k").agg(
        F.min("id").alias("id"), F.collect_list("id").alias("ids")
    )
    rep_obj = keyed.join(groups, ["k", "id"]).transform(_persist_tracked)
    rep_pairs = pair_fn(rep_obj.select("id", "obj"))

    intra = (
        rep_obj.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[v.alias(name) for name, v in self_vals.items()])
    )
    vals = list(self_vals)
    ids_a = rep_obj.select(F.col("id").alias("id_a"), F.col("ids").alias("ids_a"))
    ids_b = rep_obj.select(F.col("id").alias("id_b"), F.col("ids").alias("ids_b"))
    inter_pairs = (
        rep_pairs.join(ids_a, "id_a")
        .join(ids_b, "id_b")
        .select(F.explode("ids_a").alias("ma"), "ids_b", *vals)
        .select("ma", F.explode("ids_b").alias("mb"), *vals)
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            *vals,
        )
    )
    return intra.unionByName(inter_pairs)


# --- MinHash + LSH ------------------------------------------------------------

# Portable (cross-engine) universal hash family over a Mersenne-prime
# field: h_i(x) = (A_i * (x mod P) + B_i) mod P with P = 2^31 - 1.
# All operands stay < 2^31, so products stay < 2^62 — no bigint overflow
# under Spark's ANSI mode, and DuckDB evaluates the identical integers.
# Coefficients come from a fixed LCG so the Spark builder and the DuckDB
# oracle generator share them without any runtime coupling.
MINHASH_P = 2_147_483_647


def minhash_coefficients(num_hashes: int, seed: int = 20260813) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs for the portable hash family."""
    x = seed
    raw: list[int] = []
    for _ in range(2 * num_hashes):
        x = (1103515245 * x + 12345) % (1 << 31)
        raw.append(x)
    return [
        ((raw[i] % (MINHASH_P - 1)) + 1, raw[num_hashes + i] % MINHASH_P)
        for i in range(num_hashes)
    ]


def portable_hash48(col: Column | str) -> Column:
    """String → bigint in [0, 2^48): first 12 hex chars of md5, parsed
    base-16. ``md5``/``substr``/hex-parse exist in both Spark (``conv``)
    and DuckDB (``CAST(concat('0x',…) AS BIGINT)``), so the value — and
    everything built on it, including 2^-48-probability collisions — is
    engine-independent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint")


def portable_hashed_shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as PORTABLE 48-bit hashes
    (array<bigint>) — the :func:`hashed_word_shingles` window shape
    with :func:`portable_hash48` instead of xxhash64. Because the
    DuckDB oracle computes the identical hash, even collisions are
    mirrored bit-for-bit, so set semantics (Jaccard, minhash
    signatures) stay exactly comparable cross-engine.

    r13 kernel: ONE interpreted pass — ``transform(sequence)`` hashing
    ``concat_ws`` of the k window tokens directly — instead of a
    ``zip_with`` chain (n−1 interpreted array passes building shingle
    strings) followed by a transform hash pass. sf10 CPU receipt:
    72–78 → 57.5–64.6 CPU-s for the shingle projection, output arrays
    EXACTLY equal (distinct-on-hash ≡
    distinct-on-string-then-hash-then-distinct, position order
    preserved by both). md5 itself dominates what remains — that cost
    is the portability contract. The fuller posting-stream restructure
    (Generate-based build, no arrays — r12 measured its ceiling) stays
    deferred: the array interface is load-bearing for the collapse
    gate and the intersect verify. NULL token elements are dropped
    before windowing, as in :func:`hashed_word_shingles`."""

    def kernel(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(-1)))
        sh = F.transform(
            idx,
            lambda i: portable_hash48(
                F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)])
            ),
        )
        return F.array_distinct(
            F.when(F.size(t) >= n, sh).otherwise(F.array().cast("array<bigint>"))
        )

    return _without_null_tokens(tokens, kernel)


def lsh_band_rows(
    df: DataFrame,
    *,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band_id, band_hash) rows for LSH bucketing.

    Signatures are computed by exploding shingles into posting rows and
    taking k ``min(hash_i(sh))`` aggregates: flat codegen (no nested
    lambda towers), map-side partial aggregation keeps the shuffle at one
    32-int row per doc, and — critically — the aggregate's exchange is a
    reusable subplan, so the downstream self-join computes the signatures
    ONCE (ReusedExchange) instead of once per join side.

    One portable family: members ``(A_i·(sh mod P) + B_i) mod P`` over a
    Mersenne-prime field, band key the '|'-joined member values — every
    step exists verbatim in DuckDB, so the whole LSH pipeline is
    cross-engine hash-checkable (used by the oracled registry query,
    same pattern as ``textstats.winnowing_fingerprints``). Integral
    shingles (:func:`portable_hashed_shingles`,
    :func:`hashed_word_shingles`) enter the field as they are — a signed
    long's ``sh mod P`` has magnitude below 2^31, so ``A_i·base`` cannot
    overflow; any other element type (string shingles) is first hashed
    to a long with xxhash64."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    posting = df.filter(F.size(shingles_col) > 0).select(
        F.col(id_col).alias("id"), F.explode(shingles_col).alias("sh")
    )
    sh = F.col("sh")
    if not isinstance(posting.schema["sh"].dataType, IntegralType):
        sh = F.xxhash64(sh)
    # The k member aggregates and band hashes are built as SQL STRINGS
    # parsed by F.expr — ONE py4j round trip per expression instead of
    # one per operator node. The column-API construction of 32 aggs
    # (lit*col+lit)%lit measured 1.505 s of pure driver-side py4j
    # latency per query CONSTRUCTION (r12 optimization round; F.expr
    # strings: 0.029 s, identical resolved plans — equality pinned by
    # tests/test_dedup_simsearch.py). At 100 TB the same second is
    # spent per submitted job; it is pure overhead either way.
    coeffs = minhash_coefficients(num_hashes)
    based = posting.select("id", (sh % F.lit(MINHASH_P)).alias("base"))
    # {a}L / {b}L: long literals so the arithmetic is long×long —
    # the same types the column API produced via F.lit(int)*long.
    sig = based.groupBy("id").agg(
        *[
            F.expr(f"min(({a}L * base + {b}L) % {MINHASH_P}L) AS h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )

    def _band_hash(b: int) -> Column:
        cols = ", ".join(
            f"CAST(h{b * rows_per_band + j} AS STRING)"
            for j in range(rows_per_band)
        )
        return F.expr(f"concat_ws('|', {cols})")

    band_structs = [
        F.struct(F.lit(b).alias("band_id"), _band_hash(b).alias("band_hash"))
        for b in range(bands)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "bb.band_id", "bb.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH-banded candidate pairs (id_a < id_b), deduplicated across bands.

    Pairs colliding in ≥1 band survive. The join key (band_id, band_hash)
    is high-entropy, so the self-join shuffles evenly; at 100TB the band
    rows are the only materialization (one hash per doc per band)."""
    # Persist the tiny (id, band_id, band_hash) rows: when the input is
    # itself cached, the two self-join sides otherwise each recompute the
    # 32-way signature aggregate from the cache (AQE does not reuse an
    # exchange above a cached scan). The cache holds as many partitions
    # as AQE coalesced the signature shuffle to (the session default
    # canChangeCachedPlanOutputPartitioning), not shuffle.partitions.
    band_rows = lsh_band_rows(
        df,
        id_col=id_col,
        shingles_col=shingles_col,
        num_hashes=num_hashes,
        bands=bands,
    ).transform(_persist_tracked)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    shingles_col: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold (the standard
    minhash-LSH near-dup pipeline: band → bucket-join → verify).

    Runs behind :func:`collapse_identical_pairs`: signatures, band keys,
    and the verified Jaccard depend only on the shingle SET, so identical
    sets (exact copies — the bulk of a near-dup corpus) are collapsed to
    one representative before the quadratic band-join/verify stages and
    expanded afterwards, output-identically. The (id, shingles)
    projection feeds the signature agg + two verify joins, so it is
    persisted (MEMORY_AND_DISK: spills rather than OOMs at scale) —
    without it the tokenize/shingle expressions are re-evaluated once per
    consumer."""
    sh_df = df.select(
        F.col(id_col).alias("id"), F.col(shingles_col).alias("obj")
    ).transform(_persist_tracked)

    def _verify_pairs(rep: DataFrame) -> DataFrame:
        # no persist: rep is cache-backed by contract — the direct
        # path's base projection hits the sh_df cache below; the
        # collapse path's rep_obj is persisted by
        # collapse_identical_pairs (r12: the old extra persist held a
        # third in-memory copy of every shingle array)
        sh = rep.withColumnRenamed("obj", "sh")
        cands = lsh_candidate_pairs(
            sh,
            id_col="id",
            shingles_col="sh",
            num_hashes=num_hashes,
            bands=bands,
        )
        pairs = cands.join(
            sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
        ).join(
            sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b"
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        # unrounded int-ratio division — see jaccard_pairs (r11 audit)
        jac = inter / union
        return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )

    return collapse_identical_pairs(
        sh_df.filter(F.size("obj") > 0),
        pair_fn=_verify_pairs,
        self_vals={"jaccard": F.lit(1.0)},
    )


# --- SimHash ------------------------------------------------------------------


# The SimHash fingerprint width: 15 md5 hex chars. Below 2^60 there is
# no sign-bit wraparound on either engine.
SIMHASH_BITS = 60


def simhash_table(df: DataFrame, *, id_col: str, tokens: Column | str) -> DataFrame:
    """(id, fp): 60-bit SimHash per row via explode + flat sum aggregates.

    Per token, the first 15 md5 hex chars parsed as ONE integer h; bit b
    of the fingerprint is set iff more tokens have bit b of h set than
    unset. md5/substr/hex-parse exist verbatim in DuckDB, so the
    fingerprint (and the banded near-dup join on it) is cross-engine
    hash-checkable. Bit votes are flat ``sum(sign)`` aggregates
    (map-side combined, whole-stage codegen). Zero-token rows keep the
    empty-input fingerprint (all votes 0 → fp 0).
    """
    # md5(NULL) is NULL, so the empty-array row that explode_outer emits
    # votes zero on every bit.
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.col(tokens) if isinstance(tokens, str) else tokens
        ).alias("tok"),
    ).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").isNull(), F.lit(0)).otherwise(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
                )
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return votes.select("id", fp.alias("fp"))


def simhash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    tokens: Column | str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding (the classic simhash index): with the 60-bit
    fingerprint (:func:`simhash_table`) split into ``bands`` equal
    bit-bands and ``max_hamming < bands``, any qualifying pair agrees
    EXACTLY on at least one band — so candidates come from a
    (band_id, band_bits) equi-join (recall 1.0, no theta join), then the
    exact hamming distance (``bit_count(a XOR b)``) verifies. Returns
    (id_a, id_b, hamming) with id_a < id_b. ``bands`` must divide 60.

    Runs behind :func:`collapse_identical_pairs`: the fingerprint depends
    only on the token multiset, so exact copies collapse to one
    representative before the band join and expand afterwards (identical
    multiset → identical fp → hamming 0), output-identically."""
    if bands < 1 or SIMHASH_BITS % bands:
        valid = [d for d in range(1, SIMHASH_BITS + 1) if SIMHASH_BITS % d == 0]
        raise ValueError(
            f"bands must divide the {SIMHASH_BITS}-bit fingerprint: one of "
            f"{valid}, got {bands}"
        )
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming must be below bands for pigeonhole recall, got "
            f"max_hamming={max_hamming}, bands={bands}"
        )
    base = df.select(
        F.col(id_col).alias("id"),
        (F.col(tokens) if isinstance(tokens, str) else tokens).alias("obj"),
    ).transform(_persist_tracked)
    return collapse_identical_pairs(
        base,
        pair_fn=lambda rep: _simhash_band_pairs(
            rep, max_hamming=max_hamming, bands=bands
        ),
        self_vals={"hamming": F.lit(0)},
    )


def _simhash_band_pairs(rep: DataFrame, *, max_hamming: int, bands: int) -> DataFrame:
    """Pigeonhole band join + exact hamming verify over an (id, obj=tokens)
    representative frame — see :func:`simhash_neardup_pairs`."""
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    fp = simhash_table(rep, id_col="id", tokens="obj")
    band_rows = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("fp", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.band_id", "bb.band_bits")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- embedding cosine near-dup ------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    block_col: str | None,
    threshold: float,
    broadcast_max_bytes: int = 256 * 1024 * 1024,
    num_subblocks: int = 16,
    impl: str = "blas",
) -> DataFrame:
    """Pairs with cosine ≥ threshold; ``block_col`` restricts comparison to
    same-block pairs (coarse-quantization blocking — the IVF idea: at scale
    the block comes from a cluster/LSH assignment, never all-pairs).

    Physical shape: a LOW-CARDINALITY block key must not be the shuffle
    key — a sort-merge self-join on ~10 blocks runs ≤10 tasks no matter
    the cluster (measured: 31 min for 20k vectors at 10× scale).

    ``impl='blas'`` (default): cogrouped ``applyInPandas`` — probe rows
    keyed by ``xxhash64(id) % num_subblocks``, build rows replicated to
    every sub-key, and each (block, sub) cogroup computes a chunked
    numpy float64 matmul for its probe×build cosine slab, emitting only
    pairs over threshold. The quadratic inner loop runs in BLAS instead
    of one interpreted expression per pair (57 s → 1.4 s at sf1, 20M
    candidate pairs); parallelism is blocks × num_subblocks; the only
    data movement is one shuffle (build side replicated num_subblocks×).
    Output-proportional: the slab never leaves the worker — workers
    emit RAW cosines with epsilon slack and the authoritative round-6 +
    threshold filter runs Spark-side (same F.round as the native
    paths), so the emitted pair set and values match `impl='native'`
    except when the BLAS dot and the sequential dot round differently
    at the 6th decimal (summation-order ulps; measure-zero in
    practice). Null-block rows are dropped up front, matching the
    native join's NULL-equals-nothing semantics.

    ``impl='native'``: pure-JVM expression paths, bit-identical to the
    DuckDB oracle's sequential dot. Two shapes, same pairs:

    * Catalyst's optimized-plan size estimate, INFLATED by a 4×
      decompression factor, ≤ ``broadcast_max_bytes`` (default 256 MB):
      broadcast the build side and repartition the probe side, so
      parallelism comes from probe partitions. The estimate comes from
      parquet footer metadata scaled by column pruning — a pure
      metadata lookup, no job, no scan — and it is in BYTES, so wide
      embeddings count their real memory, unlike a row gate. The
      inflation factor exists because footer bytes are COMPRESSED
      on-disk bytes and the broadcast relation is uncompressed rows —
      the same under-estimate that once let Catalyst broadcast a
      15M-row fact in q5 (see PLANS.md); 4× is conservative for float
      arrays (zstd ~1.5-2×) plus row overhead. Pass
      ``broadcast_max_bytes=0`` to force the shuffle path.
    * larger corpora: EXACT salted self-join — probe rows keyed by
      ``xxhash64(id) % num_subblocks``, build rows replicated to every
      sub-key, shuffle equi-join on the composite (block, sub) key.
      Each unordered pair matches exactly once (probe holds the smaller
      id; the build replica at the probe's sub-key is unique), recall is
      1.0 by construction, parallelism is blocks × num_subblocks, and
      nothing is broadcast. Replication costs num_subblocks× shuffle
      volume on the build side — the O(Σ block²) pair count itself is
      still the caller's knob (finer blocks / LSH-composed block_col).
    """
    from bigdataproject_spark.functions.vectors import cosine_from_norms, l2_norm

    if impl == "blas":
        # no nrm column: the worker recomputes norms vectorized from the
        # stacked vectors (np.linalg.norm) — carrying the interpreted
        # l2_norm aggregate through the cogroup shuffle (replicated
        # num_subblocks× on the build side) would be pure dead weight.
        return _blas_block_pairs(
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                *([F.col(block_col).alias("blk")] if block_col else []),
            ),
            has_block=block_col is not None,
            threshold=threshold,
            num_subblocks=num_subblocks,
        )
    # The ‖·‖₂ is hoisted to the per-ROW projection (linear) so the
    # per-PAIR expression (quadratic) is just the dot (5.4x at sf1; see
    # functions.vectors.cosine_from_norms for the measurements).
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(vec_col).alias("nrm"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    sim = F.round(
        cosine_from_norms(
            F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
        ),
        6,
    )
    out_cols = [
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        sim.alias("cosine"),
    ]

    # 4x: footer estimates are compressed bytes, broadcasts are
    # uncompressed rows (see docstring).
    if _plan_size_bytes(base) * 4 <= broadcast_max_bytes:
        a = base.repartition(n_part, "id").alias("a")
        b = base.alias("b")
        cond = F.col("a.id") < F.col("b.id")
        if block_col:
            cond = cond & (F.col("a.blk") == F.col("b.blk"))
        return (
            a.join(F.broadcast(b), cond)
            .select(*out_cols)
            .filter(F.col("cosine") >= threshold)
        )

    s = F.lit(num_subblocks)
    probe = base.withColumn("_sub", F.pmod(F.xxhash64(F.col("id")), s)).alias("a")
    build = (
        base.withColumn("_sub", F.explode(F.sequence(F.lit(0), s - 1)))
        .withColumn("_sub", F.col("_sub").cast("bigint"))
        .alias("b")
    )
    keys = ["_sub"] + (["blk"] if block_col else [])
    cond = F.col("a.id") < F.col("b.id")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    # hash-build from the probe side: it is num_subblocks× smaller than
    # the replicated build side
    return (
        probe.hint("shuffle_hash").join(build, cond)
        .select(*out_cols)
        .filter(F.col("cosine") >= threshold)
    )


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate — for file
    sources it derives from parquet footer metadata (scaled by column
    pruning), for local relations from the rows themselves. A metadata
    lookup only: no Spark job, no scan — safe to call on the driver in a
    path-selection gate."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


_BLAS_ID_PANDAS_DTYPES = {
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "string": "object",
}


def _blas_block_pairs(
    base: DataFrame,
    *,
    has_block: bool,
    threshold: float,
    num_subblocks: int,
) -> DataFrame:
    """Cogrouped-BLAS realization of the blocked cosine self-join: probe
    rows land in one (block, sub) cogroup each; build rows are replicated
    to all ``num_subblocks`` sub-keys, so every unordered pair (a < b)
    meets exactly once — in a's cogroup. Each cogroup stacks its Arrow
    batch into numpy float64 and emits only the over-threshold pairs of a
    chunked probe×build matmul (slab memory bounded, never shuffled).

    The id column's Spark type is carried through to the output schema
    (integral or string ids; anything else raises up front with a
    pointer to ``impl='native'`` rather than silently coercing)."""
    import pandas as pd

    id_type = base.schema["id"].dataType.simpleString()
    if id_type not in _BLAS_ID_PANDAS_DTYPES:
        raise TypeError(
            f"embedding_neardup_pairs(impl='blas'): unsupported id column type "
            f"{id_type!r} (supported: {sorted(_BLAS_ID_PANDAS_DTYPES)}); "
            "use impl='native' for other id types"
        )
    pd_id_dtype = _BLAS_ID_PANDAS_DTYPES[id_type]

    s = num_subblocks
    keys = (["blk"] if has_block else []) + ["_sub"]
    if has_block:
        # null-block rows pair with nothing under the native join's
        # blk == blk predicate (NULL equals nothing); groupBy would
        # instead pool all NULLs into one (skew-prone) cogroup — drop
        # them up front so the paths stay output-identical.
        base = base.filter(F.col("blk").isNotNull())
    probe = base.withColumn("_sub", F.pmod(F.xxhash64(F.col("id")), F.lit(s)))
    build = base.withColumn(
        "_sub", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    ).withColumn("_sub", F.col("_sub").cast(probe.schema["_sub"].dataType))

    def _pairs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": pd_id_dtype, "id_b": pd_id_dtype, "cosine": "float64"}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        ids_l = left["id"].to_numpy()
        ids_r = right["id"].to_numpy()
        vl = np.stack(left["v"].to_numpy()).astype(np.float64)
        vr = np.stack(right["v"].to_numpy()).astype(np.float64)
        nl = np.linalg.norm(vl, axis=1)
        nr = np.linalg.norm(vr, axis=1)
        out_a, out_b, out_c = [], [], []
        # chunk the probe side so the cosine slab stays ~10M cells
        step = max(1, 10_000_000 // max(len(ids_r), 1))
        for lo in range(0, len(ids_l), step):
            hi = min(lo + step, len(ids_l))
            dots = vl[lo:hi] @ vr.T
            denom = np.outer(nl[lo:hi], nr)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / denom
            # RAW cosines with epsilon slack; the authoritative round-6
            # + threshold filter runs Spark-side (F.round, HALF_UP) so
            # the emitted values/pair set match the native paths exactly
            # — np.round is half-to-even and could disagree at the
            # rounding boundary.
            mask = (
                (denom > 0)
                & (cos >= threshold - 1e-6)
                & (ids_l[lo:hi, None] < ids_r[None, :])
            )
            ii, jj = np.nonzero(mask)
            out_a.append(ids_l[lo + ii])
            out_b.append(ids_r[jj])
            out_c.append(cos[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    cand = (
        probe.groupBy(*keys)
        .cogroup(build.groupBy(*keys))
        .applyInPandas(_pairs, schema=f"id_a {id_type}, id_b {id_type}, cosine double")
    )
    return cand.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)
