"""Similarity search over embedding columns (north-star op, BASELINE.json).

Two paths:
  * :func:`brute_force_topk` — exact cosine top-k: broadcast the (small)
    query set against the corpus, rank per query. The corpus is scanned
    once; per-row work is a JVM higher-order-function dot product. This is
    the correctness baseline and is already the right plan when |queries|
    is small: no shuffle on the corpus at all (broadcast join), and the
    top-k per query is a TakeOrdered-style window with a tiny output.
  * :func:`lsh_bucket_topk` — the scale path: sign-quantize each vector on
    its first ``n_bits`` dimensions (axis-aligned random-hyperplane LSH),
    search only within the query's bucket. Recall < 1 by construction;
    accuracy/latency is tuned by n_bits (and multi-probe at the caller's
    discretion). At 100TB the bucket column becomes the partition key so a
    query touches one partition instead of the full corpus.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdataproject_spark.functions.vectors import cosine_from_norms, l2_norm
from bigdataproject_spark.operators.versioned import n_parquet_files

# Budget for the query-side probe plan that every search path
# materializes driver-side (the native paths broadcast it; the blas
# paths collect it into per-cell numpy blocks). Same role as
# ``broadcast_max_bytes`` in embedding_neardup_pairs; sized to the
# uncompressed-rows scale a local driver comfortably holds.
_SEARCH_BROADCAST_MAX_BYTES = 256 << 20


# Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue by
# default) for leaves it cannot size — LogicalRDD / createDataFrame
# frames, not file scans. Anything at or past this threshold is the
# SENTINEL, not a measurement (a real 100 TB scan is ~1e14, four
# orders of magnitude under it).
_UNKNOWN_STATS_BYTES = 1 << 62


# (count, max-row-bytes) per analyzed query plan: a long-lived search
# service re-issues the SAME query frame per search call, and without
# the cache every call whose plan Catalyst cannot size re-pays the two
# tier-2 measurement jobs. Keyed by (applicationId, semanticHash) —
# applicationId embeds the context's start time so a stopped context's
# key can never be recycled the way ``id()`` could — and every hit is
# CONFIRMED with ``DataFrame.sameSemantics`` against a weakly-held
# reference frame, so a 32-bit semanticHash collision between distinct
# plans degrades to a re-measure, never to serving another plan's
# stats (a dead weakref likewise re-measures: correctness over hit
# rate). LRU-bounded at ``_QUERY_STATS_CACHE_MAX`` entries so a
# year-long session issuing many distinct plans cannot grow it without
# bound. The cache assumes a plan's underlying data is immutable within
# the session — re-reading a parquet path after appending files
# produces a new file-index in the analyzed plan (a new hash), but
# callers that mutate data under an UNCHANGED plan object should call
# :func:`clear_measured_query_cache` first.
_QUERY_STATS_CACHE: "OrderedDict[tuple[str, int], tuple]" = OrderedDict()
_QUERY_STATS_CACHE_MAX = 256


def _resolve_impl(impl: str, fn: str, *, id_types: tuple = ()) -> str:
    """Resolve an ``impl`` argument to a concrete backend. ``'auto'``
    picks the Arrow/numpy matmul path when its dependencies import
    (numpy + pandas + pyarrow — all three ship with any pyspark[sql]
    install, but a minimal JVM-only deployment may lack them) AND every
    id type in ``id_types`` (Spark ``simpleString`` names, supplied by
    the caller from its actual schemas) is one the Arrow path carries —
    otherwise it falls back to the pure-DataFrame native path, so a
    caller with an exotic id column gets the working plan instead of a
    mid-query serialization error from a default they never chose. The
    blas path is equality-tested against native and measured 14–70×
    faster once the candidate set reaches millions of pairs (sf100:
    946 s native vs 13.5 s blas for the same 2000-query indexed batch)
    — a default a user should not have to know to flip. Pass
    ``impl='native'`` or ``'blas'`` explicitly to override the probe
    (explicit ``'blas'`` with an unsupported id type still raises its
    loud TypeError rather than silently degrading)."""
    if impl == "auto":
        try:
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401
        except ImportError:
            return "native"
        if id_types:
            from bigdataproject_spark.operators.dedup import (
                _BLAS_ID_PANDAS_DTYPES,
            )

            if any(t not in _BLAS_ID_PANDAS_DTYPES for t in id_types):
                return "native"
        return "blas"
    if impl not in ("native", "blas"):
        raise ValueError(f"{fn}: unknown impl {impl!r}")
    return impl


def _query_row_stats_uncached(q: DataFrame) -> tuple[int, int]:
    """(row count, max per-row byte estimate) — ONE aggregate job over
    the query side only (never the corpus), with the per-row byte
    estimate computed as a native expression over EVERY row — a head
    sample would under-estimate a table whose leading partition holds
    short/NULL-vector rows while later partitions hold full-width ones,
    and the guard would still admit an over-budget driver block."""
    from pyspark.sql.types import ArrayType, StringType

    b = F.lit(32).cast("long")
    for f in q.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, ArrayType):
            term = F.greatest(F.coalesce(F.size(c), F.lit(0)), F.lit(0)) * 8 + 16
        elif isinstance(f.dataType, StringType):
            term = F.coalesce(F.length(c), F.lit(0)) * 2 + 16
        else:
            term = F.lit(8)
        b = b + term.cast("long")
    row = q.agg(
        F.count(F.lit(1)).alias("n"), F.max(b).alias("row_bytes")
    ).collect()[0]
    if not row["n"]:
        return (0, 0)
    return (row["n"], row["row_bytes"])


def _query_row_stats(q: DataFrame) -> tuple[int, int]:
    """Memoized :func:`_query_row_stats_uncached` (see
    ``_QUERY_STATS_CACHE``). Any failure in keying or hit confirmation
    (exotic plan, JVM hiccup, dead weakref) degrades to uncached
    measurement, never to a wrong estimate."""
    import weakref

    try:
        key = (
            q.sparkSession.sparkContext.applicationId,
            int(q._jdf.queryExecution().analyzed().semanticHash()),
        )
    except Exception:
        key = None
    if key is not None and key in _QUERY_STATS_CACHE:
        ref, stats = _QUERY_STATS_CACHE[key]
        cached_q = ref()
        try:
            confirmed = cached_q is not None and q.sameSemantics(cached_q)
        except Exception:
            confirmed = False
        if confirmed:
            _QUERY_STATS_CACHE.move_to_end(key)
            return stats
        _QUERY_STATS_CACHE.pop(key, None)
    stats = _query_row_stats_uncached(q)
    if key is not None:
        try:
            _QUERY_STATS_CACHE[key] = (weakref.ref(q), stats)
        except TypeError:  # un-weakref-able frame subclass: skip caching
            pass
        while len(_QUERY_STATS_CACHE) > _QUERY_STATS_CACHE_MAX:
            _QUERY_STATS_CACHE.popitem(last=False)
    return stats


def clear_measured_query_cache(spark) -> int:
    """Drop this session's memoized tier-2 measurements (returns how
    many entries were dropped). Call after mutating data underneath a
    query frame you intend to re-search with the same plan object."""
    app_id = spark.sparkContext.applicationId
    keys = [k for k in _QUERY_STATS_CACHE if k[0] == app_id]
    for k in keys:
        _QUERY_STATS_CACHE.pop(k, None)
    return len(keys)


def _measured_query_bytes(q: DataFrame, *, n_probe: int) -> int:
    """count() × max-row-bytes × n_probe — the MEASURED probe budget
    estimate, memoized per analyzed plan (:func:`_query_row_stats`).
    Used when metadata alone cannot size the query batch (see
    :func:`_query_batch_splits`)."""
    n, row_bytes = _query_row_stats(q)
    if not n:
        return 0
    return n * row_bytes * max(n_probe, 1)


def _query_batch_splits(
    q: DataFrame, *, n_probe: int, broadcast_max_bytes: int
) -> int:
    """How many q_id-hash batches a query table must be split into so
    each batch's probe assignment fits the driver-side budget.

    Two-tier estimate. Tier 1 (metadata only, no job): Catalyst
    footer-stats size of the query projection × 4 (footer bytes are
    compressed, broadcast rows are not — the same factor the
    embedding_neardup guard uses, dedup.py _plan_size_bytes) × n_probe
    (the probe plan repeats each query row, vector included, once per
    probed cell). If THAT clears the budget, done — the common case
    pays zero jobs. Tier 2: when metadata says over-budget OR reports
    the unknown-size sentinel (createDataFrame/LogicalRDD frames have
    no Catalyst size), the estimate is MEASURED via
    :func:`_measured_query_bytes` — one aggregate over the query side.
    Tier 2 matters for selective filters over big tables: Catalyst's
    Filter keeps its child's sizeInBytes, so a 1% query slice of a
    large embedding table metadata-reads as the whole file and a
    metadata-only guard would split a comfortably-in-budget batch into
    pointless corpus re-scans (measured 3× on the sf10 steady-state
    blas path before this tier existed)."""
    from bigdataproject_spark.operators.dedup import _plan_size_bytes

    if broadcast_max_bytes <= 0:
        raise ValueError("broadcast_max_bytes must be positive")
    size = _plan_size_bytes(q)
    if (
        size < _UNKNOWN_STATS_BYTES
        and size * 4 * max(n_probe, 1) <= broadcast_max_bytes
    ):
        return 1
    est = _measured_query_bytes(q, n_probe=n_probe)
    return max(1, -(-est // broadcast_max_bytes))


def _union_query_batches(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _batched_over_queries(
    search_one,
    q: DataFrame,
    *,
    n_probe: int,
    broadcast_max_bytes: int,
) -> DataFrame:
    """The ONE batching orchestration every search entry point shares
    (native broadcast joins and blas collects alike — both materialize
    the query side driver-side): size the query table via
    :func:`_query_batch_splits`, and when over budget, split it into
    q_id-hash batches, run ``search_one`` on each, and union. Exact,
    because per-query results never depend on other queries; each
    batch's cost is a linear re-scan of the corpus — the price of never
    materializing an over-budget driver block."""
    n_splits = _query_batch_splits(
        q, n_probe=n_probe, broadcast_max_bytes=broadcast_max_bytes
    )
    if n_splits == 1:
        return search_one(q)
    parts = [
        search_one(
            q.filter(F.pmod(F.xxhash64("q_id"), F.lit(n_splits)) == i)
        )
        for i in range(n_splits)
    ]
    return _union_query_batches(parts)


def _rank_topk(joined: DataFrame, k: int) -> DataFrame:
    """Shared native ranking tail: 6dp-rounded cosine, deterministic
    (cosine desc, neighbor_id asc) window, top-k per query."""
    sim = joined.select(
        "q_id",
        "neighbor_id",
        F.round(cosine_from_norms("qv", "cv", "qn", "cn"), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    # no final orderBy (r12 optimization round): the top-k output is
    # (q_id, rank)-keyed and every consumer — driver value-hash, parity
    # tests, rrf fusion — is order-insensitive; the presentation sort
    # cost a range exchange + sort stage per search call.
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(vec: Column | str, n_bits: int = 8) -> Column:
    """LSH bucket id from the sign pattern of the first n_bits dims:
    Σ 2^i·[v_i > 0] — deterministic, SQL-expressible, cheap."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bits = [
        F.when(F.element_at(v, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    exclude_self: bool = True,
    impl: str = "native",
    broadcast_max_bytes: int = _SEARCH_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Exact top-k by cosine: (q_id, neighbor_id, cosine, rank).

    cosine rounded 6dp before ranking; (−cosine, neighbor_id) ordering makes
    ranks deterministic under ties. Norms are hoisted per-row (linear) out
    of the per-pair expression (quadratic, bit-identical — see
    functions.vectors.cosine_from_norms).

    ``impl='blas'``: same exact result through the corpus-in-place
    numpy matmul (query block collected + broadcast — bounded by the
    same budget as the native path's broadcast join — and a
    mapInPandas partial top-k over the corpus scan; see
    :func:`ivf_topk_indexed`); the interpreted per-pair cosine is the
    cost center once |queries| × |corpus| reaches millions of pairs.
    ``impl='auto'`` resolves to blas when numpy/pandas/pyarrow import
    and the id type is Arrow-carriable (see :func:`_resolve_impl`)."""
    impl = _resolve_impl(
        impl,
        "brute_force_topk",
        id_types=(
            corpus.schema[id_col].dataType.simpleString(),
            queries.schema[id_col].dataType.simpleString(),
        ),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    if impl == "blas":
        return _blas_query_batched(
            c.withColumn("cell", F.lit(0)),
            q.withColumn("cell", F.lit(0)),
            k=k,
            exclude_self=exclude_self,
            broadcast_max_bytes=broadcast_max_bytes,
        )

    # The pinned F.broadcast(q) materializes the query table driver-side
    # exactly like the blas collect does — same budget, same batching.
    def _one(qb: DataFrame) -> DataFrame:
        joined = c.crossJoin(F.broadcast(qb))
        if exclude_self:
            joined = joined.filter(F.col("neighbor_id") != F.col("q_id"))
        return _rank_topk(joined, k)

    return _batched_over_queries(
        _one, q, n_probe=1, broadcast_max_bytes=broadcast_max_bytes
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_bits: int = 8,
    exclude_self: bool = True,
    impl: str = "native",
    broadcast_max_bytes: int = _SEARCH_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Same output shape as :func:`brute_force_topk`; the bucket equi-join
    replaces the cross join, cutting compared pairs by ~2^n_bits.
    ``impl='blas'`` routes through the corpus-in-place matmul with the
    sign bucket as the cell key (see :func:`ivf_topk_indexed`). NULL
    vectors: the native path's bucket expression yields a NULL bucket,
    which joins nothing — the blas path reproduces that by keying bad
    rows under the unmatchable NULL bucket too. ``impl='auto'``
    resolves to blas when numpy/pandas/pyarrow import and the id type
    is Arrow-carriable (see :func:`_resolve_impl`)."""
    impl = _resolve_impl(
        impl,
        "lsh_bucket_topk",
        id_types=(
            corpus.schema[id_col].dataType.simpleString(),
            queries.schema[id_col].dataType.simpleString(),
        ),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
        sign_bucket(vec_col, n_bits).alias("bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
        sign_bucket(vec_col, n_bits).alias("bkt"),
    )
    if impl == "blas":
        return _blas_query_batched(
            c.filter(F.col("bkt").isNotNull()).withColumnRenamed("bkt", "cell"),
            q.filter(F.col("bkt").isNotNull()).withColumnRenamed("bkt", "cell"),
            k=k,
            exclude_self=exclude_self,
            broadcast_max_bytes=broadcast_max_bytes,
        )

    def _one(qb: DataFrame) -> DataFrame:
        joined = c.join(F.broadcast(qb), on="bkt")
        if exclude_self:
            joined = joined.filter(F.col("neighbor_id") != F.col("q_id"))
        return _rank_topk(joined, k)

    return _batched_over_queries(
        _one, q, n_probe=1, broadcast_max_bytes=broadcast_max_bytes
    )


def _fit_quantizer(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int,
    max_iter: int,
):
    """Shared IVF quantizer fit (ivf_topk and ivf_write_index must stay
    in lockstep — same featurization, clamping, and seeding). Returns
    (assigned, centroids, k_eff, n_rows, sum_d2) or None for an empty
    corpus; ``sum_d2`` is the KMeans training cost (Σ squared L2 to the
    assigned centroid) — the build-time quantization quality the drift
    metric of :func:`ivf_append_index` is measured against."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c_feat = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    n_rows = c_feat.count()
    if n_rows == 0:
        return None
    k_eff = min(n_centroids, n_rows)
    model = KMeans(
        k=k_eff, seed=seed, maxIter=max_iter, featuresCol="features"
    ).fit(c_feat)
    assigned = model.transform(c_feat).select(
        "neighbor_id", "cv", "cn", F.col("prediction").alias("cell")
    )
    centroids = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]
    return assigned, centroids, k_eff, n_rows, float(model.summary.trainingCost)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer +
    multi-probe. ``max_iter=8`` (vs MLlib's default 20): a coarse
    quantizer only partitions space — loose convergence shifts cell
    boundaries, and multi-probe already covers boundary loss, so extra
    Lloyd iterations buy recall nothing measurable while the fit
    dominates the query's wall time.

    Train-once/search-many: the corpus is partitioned into ``n_centroids``
    KMeans cells (pyspark.ml, JVM-side); each query probes only its
    ``n_probe`` nearest cells, so compared pairs shrink by roughly
    n_probe/n_centroids versus brute force while multi-probe recovers most
    boundary-loss recall (the standard IVF trade; raise n_probe for
    recall, n_centroids for speed). The centroid table is tiny and
    broadcast; at 100TB the corpus would additionally be written
    partitioned/bucketed by ``cell`` so a probe prunes file I/O, not just
    the join. Each query ROW is probed on its own (:func:`_probe_plan`):
    q_id should be unique, as rows sharing one are ranked as one query.
    """
    fitted = _fit_quantizer(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        seed=seed,
        max_iter=max_iter,
    )
    if fitted is None:
        # KMeans cannot fit zero rows; empty corpus → empty result with
        # the output schema
        q0 = queries.select(F.col(id_col).alias("q_id"))
        return q0.limit(0).select(
            "q_id",
            F.lit(None).cast("long").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("int").alias("rank"),
        )
    assigned, centroids, n_centroids, _, _ = fitted
    return _ivf_search(
        assigned,
        centroids,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        n_probe=min(n_probe, n_centroids),
        exclude_self=exclude_self,
    )


def _ivf_search(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    exclude_self: bool,
) -> DataFrame:
    """Shared IVF search tail: probe the ``n_probe`` nearest cells per
    query (:func:`_probe_plan`, squared-L2 — the quantizer's metric),
    then rank by cosine within the probed cells. Used by both the
    KMeans and the sample quantizer."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    probes = _probe_plan(q, centroids, n_probe)
    joined = assigned.join(F.broadcast(probes), on="cell")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("q_id"))
    return _rank_topk(joined, k)


def sample_centroids(
    corpus: DataFrame, *, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic 'sample' coarse quantizer: the centroids are the
    vectors of the ``n_centroids`` smallest ids, cell = rank in that
    order (FLANN-style sampled quantizer with a deterministic sample).
    Unlike a KMeans fit, this is plain SQL given the corpus — so an IVF
    search built on it is cross-engine hash-checkable, and stays correct
    when the underlying data is regenerated. Driver collect bounded by
    ``n_centroids`` rows (the same boundedness as the centroid table the
    KMeans path already materializes via ``clusterCenters()``)."""
    rows = (
        corpus.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("i")
        .limit(n_centroids)
        .collect()
    )
    return [(cell, list(r["v"])) for cell, r in enumerate(rows)]


def assign_cell_struct_expr(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid assignment as ONE map-side expression over a
    literal centroid array, returning ``struct<d2 double, cell int>`` —
    the squared-L2 to the chosen centroid rides along so appends can
    track quantizer drift (:func:`ivf_append_index`) without a second
    pass. The 100 TB shape for quantizer assignment: a pure projection
    inside the scan stage, no join, no shuffle (mirrors what
    ``KMeansModel.transform`` does JVM-side). Ties on squared-L2 break
    to the smallest cell (strict ``<`` keeps the earliest in the fold).
    A NULL vector yields cell = the first centroid in array order with
    NULL d2 (the fold's NULL-comparison fixpoint): it lands in a real
    partition and behaves as a null-cosine row in every search path.

    Pass a NAMED ``array<double>`` column: the vector is referenced once
    per centroid inside the fold, and a named column is a cheap
    attribute where an inline cast would copy the array per centroid."""
    v = F.col(vec) if isinstance(vec, str) else vec

    def _step(acc: Column, s: Column) -> Column:
        nd = _sq_l2(v, s["ctr"])
        better = acc["cell"] < 0
        better = better | (nd < acc["d2"])
        return F.struct(
            F.when(better, nd).otherwise(acc["d2"]).alias("d2"),
            F.when(better, s["cell"]).otherwise(acc["cell"]).alias("cell"),
        )

    init = F.struct(
        F.lit(None).cast("double").alias("d2"), F.lit(-1).alias("cell")
    )
    return F.aggregate(_centroids_literal(centroids), init, _step)


def _centroids_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    """The centroids as ONE literal ``array<struct<cell, ctr>>``, built
    as a single SQL expression string parsed JVM-side, not per-element
    ``F.lit`` Columns: 64 centroids × 32 dims is ~2000 py4j round-trips
    (~1 s of driver time PER CALL, measured — it dominated the sf10
    append), vs ~7 ms for the single-string parse. Same expression tree
    after parsing; Catalyst constant-folds it either way."""
    import math

    for cell, ctr in centroids:
        if not all(math.isfinite(float(x)) for x in ctr):
            raise ValueError(f"centroid {cell} has a non-finite component")
    parts = ", ".join(
        "named_struct('cell', {}, 'ctr', array({}))".format(
            int(cell), ",".join(repr(float(x)) + "D" for x in ctr)
        )
        for cell, ctr in centroids
    )
    return F.expr(f"array({parts})")


def _sq_l2(v: Column, c: Column) -> Column:
    """Squared L2 as a left fold — NULL when either side is NULL, holds
    a NULL element, or the lengths differ (zip_with pads with NULL)."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _probe_plan(
    q: DataFrame, centroids: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """Multi-probe assignment: (q_id, qv, qn, cell) with one row per
    probed cell — each query row's ``n_probe`` nearest centroids by
    (d2, cell). The map-side twin of :func:`assign_cell_struct_expr`
    over the same literal centroid array, exploded: no cross join, no
    exchange, no job to build it. ``sort_array`` orders the (d2, cell)
    structs as a window's ``ORDER BY d2, cell`` would: NULL d2 (a NULL,
    NULL-element or wrong-length vector) first, NaN last, ties by cell.
    Each query ROW is probed on its own; a window over a repeated
    q_id would pool the rows' candidates."""
    d2_cells = F.transform(
        _centroids_literal(centroids),
        lambda s: F.struct(
            _sq_l2(F.col("_qd"), s["ctr"]).alias("d2"), s["cell"].alias("cell")
        ),
    )
    nearest = F.slice(F.sort_array(d2_cells), 1, max(n_probe, 0))
    return q.withColumn("_qd", F.col("qv").cast("array<double>")).select(
        "q_id", "qv", "qn", F.explode(nearest["cell"]).alias("cell")
    )


def assign_cell_expr(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid cell id only — :func:`assign_cell_struct_expr`
    with the drift distance dropped (Catalyst prunes the dead field)."""
    return assign_cell_struct_expr(vec, centroids)["cell"]


def ivf_topk_sampleq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k with the deterministic sample quantizer
    (:func:`sample_centroids`): same multi-probe search mechanics as
    :func:`ivf_topk` (shared ``_ivf_search`` tail), but every stage —
    centroid pick, cell assignment, probe selection, cosine ranking —
    is reproducible in ANSI SQL, which makes this the hash-checkable
    registry variant. Cell assignment is a map-side literal-centroid
    argmin (:func:`assign_cell_expr`), so the corpus is never shuffled
    for the assignment — the same scale shape as KMeans transform.
    Repeated q_ids behave as in :func:`ivf_topk`."""
    centroids = sample_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )
    if not centroids:
        q0 = queries.select(F.col(id_col).alias("q_id"))
        return q0.limit(0).select(
            "q_id",
            F.lit(None).cast("long").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast("int").alias("rank"),
        )
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(vec_col).alias("cn"),
        F.col(vec_col).cast("array<double>").alias("_vd"),
    ).select(
        "neighbor_id", "cv", "cn", assign_cell_expr("_vd", centroids).alias("cell")
    )
    return _ivf_search(
        assigned,
        centroids,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        n_probe=min(n_probe, len(centroids)),
        exclude_self=exclude_self,
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    lease_owner: str | None = None,
) -> None:
    """Materialize the IVF index: corpus written Hive-partitioned by cell
    plus a centroid table — the train-once/search-many storage layout
    :func:`ivf_topk` computes in memory (same quantizer fit:
    :func:`_fit_quantizer`).

    At 100 TB this is the shape that matters: a probe then prunes file
    I/O (``PartitionFilters`` on ``cell=``), not just the join, so a
    query reads n_probe/n_centroids of the corpus bytes. Writes the
    ``cells`` table (neighbor_id, cv, cn, cell) with the centroid
    table (cell, ctr) PAIRED inside it (``_centroids`` — readers
    resolve quantizer and partitioning from one generation dir; a flat
    ``{path}/centroids`` legacy/introspection copy is also refreshed),
    and the ``stats`` ledger (kind, n_rows, sum_d2 — the build-time
    quantization cost :func:`ivf_append_index` measures its drift
    against). ``cells`` and ``stats`` live in the versioned layout of
    operators/versioned.py: flat ``{path}/cells`` on a fresh path,
    ``{path}/cells-v{N}`` + pointer once compaction has versioned the
    table (a rebuild then publishes a new generation without
    disturbing concurrent readers); resolve through ``table_read_dir``,
    never hardcode the flat path. The rewrite runs under the writer
    lease (``lease_owner`` defaults to this applicationId) — a rebuild
    may not race a compaction of the same index. Raises on an empty
    corpus — an index of nothing is unreadable parquet, so fail
    loudly at build time instead of at first search."""
    fitted = _fit_quantizer(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        seed=seed,
        max_iter=max_iter,
    )
    if fitted is None:
        raise ValueError("ivf_write_index: corpus is empty; nothing to index")
    assigned, centroids, _, n_rows, sum_d2 = fitted
    spark = corpus.sparkSession
    _overwrite_cells_and_stats(
        spark, path,
        write_cells=lambda d: _write_cells(
            assigned, d, mode="overwrite", defer_success=True
        ),
        centroids=centroids,
        stats=(n_rows, sum_d2),
        lease_owner=lease_owner,
    )


def _overwrite_cells_and_stats(
    spark, path: str, *, write_cells, centroids, stats, lease_owner=None
) -> None:
    """Full-rebuild writer for the versioned layout
    (operators/versioned.py): the cells table WITH its paired
    in-generation centroid copy (see :data:`_CENTROIDS_SUBDIR` — written
    into the target dir BEFORE the generation publishes, so readers
    resolve quantizer and partitioning together), then a FRESH build
    stats row, each written to its overwrite target and published when
    the table is already versioned — so a rebuild over a compacted
    index never disturbs the generation an external searcher is
    reading (a never-compacted index keeps the flat legacy layout).
    The whole rewrite runs under the writer LEASE: a rebuild racing a
    lease-holding compaction would compute the same next generation
    number and the two writers would tear each other's files (r8
    review finding) — same single-writer rule every other mutation of
    the index already follows. ``write_cells`` is called with the
    concrete target dir; ``stats`` is ``(n, sum_d2)`` or a callable
    evaluated AFTER the cells write (the observe piggyback needs the
    write to have run). After the versioned publishes, the flat
    ``{path}/centroids`` legacy/introspection copy is refreshed —
    outside the paired-read path, so its overwrite window only affects
    pre-r8 readers."""
    from bigdataproject_spark.operators.lease import acquire_lease, release_lease
    from bigdataproject_spark.operators.versioned import (
        TableMissingError,
        publish_version,
        table_overwrite_target,
        table_read_dir,
    )

    owner = lease_owner or spark.sparkContext.applicationId
    acquire_lease(spark, path, owner)
    try:

        def _prev(table: str) -> str | None:
            try:
                return table_read_dir(spark, path, table)
            except TableMissingError:
                return None

        c_prev = _prev("cells")
        # BACKFILL the paired copy into the generation being superseded
        # when it predates the paired layout (a pre-r8 index's first
        # rebuild): its grace-window readers would otherwise fall back
        # to the flat {path}/centroids, which this rebuild is about to
        # overwrite with the NEW quantizer — old partitioning probed
        # with new centroids, silently wrong neighbors for the whole
        # transition. The flat table still holds the OLD (matching)
        # quantizer at this instant, so copy it in before anything else.
        if c_prev is not None:
            jvm = spark._jvm
            HPath = jvm.org.apache.hadoop.fs.Path
            fs = HPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
            paired = f"{c_prev}/{_CENTROIDS_SUBDIR}"
            flat = f"{path}/centroids"
            if not fs.exists(HPath(f"{paired}/_SUCCESS")) and fs.exists(
                HPath(flat)
            ):
                _copy_centroids(spark, flat, paired)
        c_tgt, c_ver = table_overwrite_target(spark, path, "cells")
        write_cells(c_tgt)
        centroids_df = _one_partition_df(spark, centroids, _CENTROIDS_SCHEMA)
        centroids_df.write.mode("overwrite").parquet(
            f"{c_tgt}/{_CENTROIDS_SUBDIR}"
        )
        # the generation's completeness marker, created only AFTER the
        # paired quantizer is on disk (write_cells deferred it): a
        # complete generation always carries its _centroids, so the
        # newest-complete fallback can never pair fresh cells with the
        # stale flat copy (r8 review finding).
        _touch_success(spark, c_tgt)
        if c_ver is not None:
            publish_version(spark, path, "cells", c_ver, c_prev)
        n, sum_d2 = stats() if callable(stats) else stats
        s_prev = _prev("stats")
        s_tgt, s_ver = table_overwrite_target(spark, path, "stats")
        _write_index_stats(spark, s_tgt, kind="build", n_rows=n, sum_d2=sum_d2)
        if s_ver is not None:
            publish_version(spark, path, "stats", s_ver, s_prev)
        centroids_df.write.mode("overwrite").parquet(f"{path}/centroids")
    finally:
        release_lease(spark, path, owner)


def _obs_stats(obs) -> tuple[int, float]:
    """(n, sum_d2) from a write-piggybacked Observation (sum_d2 0.0 when
    only a count was observed). When AQE's
    empty-relation propagation prunes the whole input subtree (an EMPTY
    batch behind the repartition exchange), the CollectMetrics node is
    eliminated with it and ``obs.get`` raises instead of reporting
    n=0 — the only way the metrics can go missing is that zero rows
    were written, so zero is the faithful reading."""
    try:
        got = obs.get
    except Exception:
        return (0, 0.0)
    return (int(got["n"]), float(got.get("sum_d2") or 0.0))


# Files per cell per write: 1 would minimize file count, but a
# partial-probe scan then opens n_probe files — and on a small or
# freshly-built index those files are single-row-group, so SCAN
# parallelism collapses to n_probe tasks (measured at sf10: native
# search 48 s → 83 s, blas 3.8 s → 5.0 s). 4 salted files per cell
# keeps the per-write file count bounded (n_cells × 4, vs the
# tasks × n_cells explosion the clustering exists to prevent) while a
# probe scan gets n_probe × 4 splits; at 100 TB cells are hundreds of
# MB and row-group splitting takes over either way.
_IVF_FILES_PER_CELL = 4


def _write_cells(
    assigned: DataFrame, cells_dir: str, *, mode: str, defer_success: bool = False
) -> None:
    """The one cells-table writer: CLUSTER by (cell, salt) before the
    partitioned write. Without the repartition every upstream task
    writes a file into every cell dir it touches — tasks × n_centroids
    tiny files per write (measured: the dominant cost of a 10k-row
    append at sf10, and a compaction debt for every later scan). The
    exchange moves only the rows being written (the delta, for an
    append), and each shuffle task holds whole (cell, salt) groups, so
    a write emits ≤ ``_IVF_FILES_PER_CELL`` files per cell.
    ``cells_dir`` is the CONCRETE generation directory (callers resolve
    it through operators/versioned.py — the cells table is versioned by
    compaction, see :func:`ivf_compact_index`). ``defer_success=True``
    suppresses the job's ``_SUCCESS`` marker (full-rewrite callers
    write the paired ``_centroids`` copy NEXT and create the marker
    themselves, so a generation can never look complete without its
    quantizer — a crash between the two writes leaves an incomplete
    dir resolution ignores, not an orphan that pairs new cells with
    the stale flat centroids)."""
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(_IVF_FILES_PER_CELL))
    w = (
        assigned.withColumn("_salt", salt)
        .repartition(F.col("cell"), F.col("_salt"))
        .drop("_salt")
        .write.mode(mode)
        .partitionBy("cell")
    )
    if defer_success:
        w = w.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    w.parquet(cells_dir)


# ``ledger_id`` (nullable; new in r7 — pre-r7 stats files simply read
# it as NULL through the explicit schema) keys an append batch so a
# replayed batch can recognize its own already-recorded stats row and
# skip the write: see the ledger protocol in :func:`ivf_append_index`.
_INDEX_STATS_SCHEMA = "kind string, n_rows long, sum_d2 double, ledger_id string"


def _write_index_stats(
    spark,
    stats_dir: str,
    *,
    kind: str,
    n_rows: int,
    sum_d2: float,
    append: bool = False,
    ledger_id: str | None = None,
) -> None:
    """``stats_dir`` is the CONCRETE generation directory (resolve
    through operators/versioned.py — the ledger is versioned by the
    compaction fold)."""
    _one_partition_df(
        spark, [(kind, int(n_rows), float(sum_d2), ledger_id)], _INDEX_STATS_SCHEMA
    ).write.mode("append" if append else "overwrite").parquet(stats_dir)


def _one_partition_df(spark, rows: list, schema: str) -> DataFrame:
    """A driver-side list as a ONE-partition frame, for the index's
    one-file writes (stats rows, centroids). ``createDataFrame`` of a
    list parallelizes into defaultParallelism slices: coalesce(1) then
    runs a Python worker per slice sequentially in one task (~4 s per
    append on local[32], measured) and repartition(1) adds a shuffle
    job; one slice is one task and one job."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _read_stats(spark, path: str) -> DataFrame:
    """The stats ledger as a DataFrame — explicit schema, so pre-r7
    three-column files read with a NULL ledger_id. Pure READER:
    resolution (operators/versioned.py) never renames — a pre-versioned
    crash's recovery copy (``stats`` missing, complete copy set aside)
    is read IN PLACE, so a drift poll racing a live compaction cannot
    disturb the compactor's own swap (the r7 reader-heal race). Writer
    paths heal that debris through
    :func:`~bigdataproject_spark.operators.versioned.table_live_dir`."""
    from bigdataproject_spark.operators.versioned import table_read_dir

    return spark.read.schema(_INDEX_STATS_SCHEMA).parquet(
        table_read_dir(spark, path, "stats")
    )


def _ledger_id_recorded(spark, path: str, ledger_id: str) -> bool:
    """Has an append stats row for this ledger id already been written?
    One tiny filter job over the stats table (never a full collect)."""
    return bool(
        _read_stats(spark, path)
        .where(F.col("ledger_id") == ledger_id)
        .limit(1)
        .count()
    )


# In-generation centroid copy: written INSIDE each cells generation dir
# (the underscore prefix makes it invisible to the cells parquet scan),
# so the quantizer a reader resolves is ATOMICALLY PAIRED with the cell
# partitioning it produced — a rebuild publishing mid-search can never
# make a searcher assign probes with one generation's centroids against
# another generation's cells (r8 review finding). The flat
# ``{path}/centroids`` table is still written by every rebuild (legacy
# readers, introspection, pre-r8 indexes) and is the fallback when the
# resolved generation predates the paired copy.
_CENTROIDS_SUBDIR = "_centroids"


def _touch_success(spark, dirpath: str) -> None:
    from bigdataproject_spark.operators.versioned import touch

    touch(spark, f"{dirpath}/_SUCCESS")


def _centroids_dir(spark, path: str, cells_dir: str) -> str:
    """The centroid table paired with ONE concrete cells generation:
    ``{cells_dir}/_centroids`` when COMPLETE (its own ``_SUCCESS`` — a
    torn paired write must fall through, not error the search), else
    the flat legacy ``{path}/centroids``."""
    jvm = spark._jvm
    paired = f"{cells_dir}/{_CENTROIDS_SUBDIR}"
    p = jvm.org.apache.hadoop.fs.Path(f"{paired}/_SUCCESS")
    if p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return paired
    return f"{path}/centroids"


_CENTROIDS_SCHEMA = "cell int, ctr array<double>"


def _collect_index_centroids(
    spark, path: str, cells_dir: str
) -> list[tuple[int, list[float]]]:
    """The centroid table paired with ``cells_dir`` as the literal list
    :func:`assign_cell_struct_expr` consumes — ONE job: a bounded
    collect (≤ n_centroids rows) read through the fixed schema (no
    inference job), sorted by cell driver-side (no range-exchange sort)
    so the fold's tie-break is deterministic across calls."""
    rows = (
        spark.read.schema(_CENTROIDS_SCHEMA)
        .parquet(_centroids_dir(spark, path, cells_dir))
        .collect()
    )
    return sorted((int(r["cell"]), [float(x) for x in r["ctr"]]) for r in rows)


def _copy_centroids(spark, src: str, dst: str) -> None:
    """Carry a centroid table dir to ``dst`` as a byte-for-byte file
    copy (no Spark job). The source's ``_SUCCESS`` is NOT copied: a
    directory copy lands files in listing order, so the marker could
    precede a part file, and :func:`_centroids_dir` reads a marked copy
    as complete. ``dst`` is marked only after every data file is in."""
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    s, d = HPath(src), HPath(dst)
    sfs, dfs = s.getFileSystem(conf), d.getFileSystem(conf)
    dfs.delete(HPath(d, "_SUCCESS"), False)  # unmark before tearing down
    dfs.delete(d, True)
    dfs.mkdirs(d)
    for st in sfs.listStatus(s):
        name = st.getPath().getName()
        if name != "_SUCCESS":
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                sfs, st.getPath(), dfs, HPath(d, name), False, conf
            )
    _touch_success(spark, dst)


def ivf_write_index_from_centroids(
    corpus: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    *,
    id_col: str,
    vec_col: str,
    lease_owner: str | None = None,
) -> None:
    """Build the :func:`ivf_write_index` layout from PRE-FIT centroids —
    the 100 TB build shape: fit the coarse quantizer on a driver-sized
    SAMPLE (KMeans over the full corpus shuffles everything per Lloyd
    iteration; a 0.1% sample fixes the same cell boundaries), then
    assign the full corpus with the map-side literal-centroid argmin
    (:func:`assign_cell_struct_expr`) — one scan, zero shuffles before
    the partitioned write. Also the build path whose assignment is
    bit-identical to :func:`ivf_append_index`, so append-vs-rebuild
    equality is exact by construction. Writes the same
    cells/centroids/stats layout (stats sum_d2 measured by the same
    ``observe`` piggyback the append uses)."""
    if not centroids:
        raise ValueError("ivf_write_index_from_centroids: empty centroid list")
    spark = corpus.sparkSession
    from pyspark.sql import Observation

    obs = Observation("ivf_build_stats")
    assigned = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            l2_norm(vec_col).alias("cn"),
            F.col(vec_col).cast("array<double>").alias("_vd"),
        )
        .select(
            "neighbor_id",
            "cv",
            "cn",
            assign_cell_struct_expr("_vd", centroids).alias("_a"),
        )
        .select("neighbor_id", "cv", "cn", F.col("_a.cell").alias("cell"),
                F.col("_a.d2").alias("_d2"))
        .observe(obs, F.count(F.lit(1)).alias("n"), F.sum("_d2").alias("sum_d2"))
    )
    _overwrite_cells_and_stats(
        spark, path,
        write_cells=lambda d: _write_cells(
            assigned.drop("_d2"), d, mode="overwrite", defer_success=True
        ),
        centroids=centroids,
        stats=lambda: _obs_stats(obs),
        lease_owner=lease_owner,
    )


def ivf_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str,
    vec_col: str,
    rebuild_threshold: float = 2.0,
    max_cell_share_threshold: float | str | None = "auto",
    guard_ids: bool = False,
    ledger_id: str | None = None,
    lease_owner: str | None = None,
) -> dict:
    """Incremental IVF maintenance: assign a batch of NEW vectors to the
    index's EXISTING centroids and append them into the ``cell=``
    partitions — no KMeans refit, no rewrite of existing files. The
    assignment is the map-side literal-centroid argmin
    (:func:`assign_cell_struct_expr`), so the batch costs one scan of
    the batch plus the partitioned append; the corpus already in the
    index is never read or moved. This is the steady-state story the
    dedup index already has (operators/dedup_index.py): at 100 TB a
    daily corpus delta must not force a full quantizer refit + full
    index rewrite.

    Drift: appended vectors are quantized against centroids fit on OLD
    data, so their mean squared distance to their cell centroid
    (collected for free via ``observe`` on the append write — zero
    extra pass) degrades as the data distribution moves. A cumulative
    ``append`` stats row is recorded per batch and
    :func:`ivf_index_drift` compares the appended mean-d2 against the
    build-time mean: past ``rebuild_threshold`` the returned report
    recommends a rebuild (:func:`ivf_write_index` /
    :func:`ivf_write_index_from_centroids` — search stays correct
    meanwhile, only cell balance/recall decays). An index written
    before stats existed gets its build row reconstructed from the
    current cells table (one explicit scan, once).

    Replay: by default the append has no id-membership guard (the index
    is a search layout, not a dedup ledger) — re-running the same batch
    appends duplicate rows, which search then returns once per copy.
    ``guard_ids=True`` makes the append IDEMPOTENT: rows whose id is
    already indexed are anti-joined away before the write, with the
    membership read PARTITION-PRUNED to the batch's own touched cells
    (assignment is deterministic, so a replayed row lands in the same
    ``cell=`` partition its first copy lives in — checking those
    partitions is exhaustive). Cost: one extra delta-sized pass to
    collect the touched-cell list (bounded by n_centroids rows) plus an
    id-column scan of the touched partitions. Guarded replays also keep
    the drift ledger honest: the stats row records post-guard rows
    only, so a replay adds nothing twice. The streaming flow
    (streaming/ivf_stream.py) runs with the guard on; bulk one-shot
    loads from an already-idempotent upstream (e.g. the dedup index's
    survivor ledger) can skip it.

    Stats-row crash safety: without ``ledger_id``, a crash between the
    committed cells append and the stats write loses that batch's stats
    row — the drift ledger then undercounts appended rows (advisory
    metric, but a real skew). ``ledger_id`` (requires ``guard_ids``)
    closes the window with a write-stats-FIRST protocol: the post-guard
    delta is localCheckpoint'd and counted explicitly, the stats row —
    keyed by the caller's replay-stable id (the streaming flow passes
    its batch id) — is written before the cells append UNLESS a row
    with that id already exists, and the cells append follows. A crash
    anywhere replays to a consistent state: the guard re-derives the
    identical post-guard delta while the cells are un-appended and an
    empty one after, and the ledger check makes the stats write
    at-most-once. Cost vs the observe piggyback: the checkpoint + one
    delta-sized aggregate + one tiny ledger-membership job.

    ``lease_owner`` (default: this applicationId) is checked against a
    compaction lease on the index (operators/lease.py): appending while
    another writer's :func:`ivf_compact_index` swap is in flight would
    be silently dropped by the swap, so it raises instead.

    Returns {n_appended, batch_mean_d2, build_mean_d2,
    appended_mean_d2, drift_ratio, max_cell_share,
    max_cell_share_threshold, hot_cell, rebuild_recommended,
    generation, publish_count, last_publish_age_seconds} (see
    :func:`ivf_index_drift`; the last three are the compaction-cadence
    fields the grace-window contract is monitored by)."""
    spark = new_vecs.sparkSession
    from pyspark.sql import Observation

    from bigdataproject_spark.operators.lease import (
        LeaseHeldError,
        assert_unleased,
    )

    if ledger_id is not None and not guard_ids:
        raise ValueError(
            "ivf_append_index: ledger_id requires guard_ids=True (an "
            "unguarded replay double-appends rows, so at-most-once stats "
            "would misstate what the cells table actually holds)"
        )
    owner = lease_owner or spark.sparkContext.applicationId
    assert_unleased(spark, path, owner)
    # WRITER-path resolution (operators/versioned.py): a pre-versioned
    # crash's set-aside stats/cells copy is healed back into place
    # BEFORE any write — appending into a fresh empty dir while the
    # real table sits in debris would fork the table (and, for stats,
    # silently reset the drift baseline + lose the at-most-once ledger
    # markers: the r7-ADVICE append-after-swap-crash bug). Cells are
    # resolved FIRST so the centroids this batch assigns against are
    # the ones PAIRED with the generation it appends into
    # (:func:`_centroids_dir`).
    from bigdataproject_spark.operators.versioned import (
        TableMissingError,
        table_live_dir,
    )

    cells_live = table_live_dir(spark, path, "cells", owner)
    centroids = _collect_index_centroids(spark, path, cells_live)
    if not centroids:
        raise ValueError(f"ivf_append_index: no centroids at {path}")
    try:
        stats_live = table_live_dir(spark, path, "stats", owner)
    except TableMissingError:
        # genuinely pre-stats index (no live copy, no recovery copy
        # anywhere): reconstruct the build baseline from the cells
        _reconstruct_build_stats(spark, path, centroids, owner)
        stats_live = table_live_dir(spark, path, "stats", owner)

    assigned = (
        new_vecs.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            l2_norm(vec_col).alias("cn"),
            F.col(vec_col).cast("array<double>").alias("_vd"),
        )
        .select(
            "neighbor_id",
            "cv",
            "cn",
            assign_cell_struct_expr("_vd", centroids).alias("_a"),
        )
        .select("neighbor_id", "cv", "cn", F.col("_a.cell").alias("cell"),
                F.col("_a.d2").alias("_d2"))
    )
    if guard_ids:
        touched = [
            r["cell"] for r in assigned.select("cell").distinct().collect()
        ]
        if touched:
            existing = (
                spark.read.parquet(cells_live)
                .where(F.col("cell").isin(touched))
                .select("neighbor_id")
            )
            assigned = assigned.join(existing, "neighbor_id", "left_anti")

    if ledger_id is not None:
        # stats-first ledger protocol (docstring above): checkpoint the
        # post-guard delta so the counted rows ARE the appended rows.
        from bigdataproject_spark.session import release_local_checkpoint

        assigned = assigned.localCheckpoint()
        try:
            row = assigned.agg(
                F.count(F.lit(1)).alias("n"), F.sum("_d2").alias("sum_d2")
            ).collect()[0]
            n, sum_d2 = int(row["n"]), float(row["sum_d2"] or 0.0)
            if n and not _ledger_id_recorded(spark, path, ledger_id):
                _write_index_stats(
                    spark, stats_live, kind="append", n_rows=n,
                    sum_d2=sum_d2, append=True, ledger_id=ledger_id,
                )
            if n:
                _write_cells(assigned.drop("_d2"), cells_live, mode="append")
        finally:
            # per-batch checkpoint blocks must not pile up for a
            # stream's lifetime — release deterministically, not at GC
            release_local_checkpoint(assigned)
    else:
        obs = Observation("ivf_append_stats")
        assigned = assigned.observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("_d2").alias("sum_d2")
        )
        _write_cells(assigned.drop("_d2"), cells_live, mode="append")
        n, sum_d2 = _obs_stats(obs)
        if n:
            _write_index_stats(
                spark, stats_live, kind="append", n_rows=n, sum_d2=sum_d2,
                append=True,
            )
    # lease RE-verification (documented TOCTOU in operators/lease.py):
    # a compaction that acquired the lease after the entry check has
    # been snapshotting/swaping while we wrote — the rows just appended
    # into the superseded generation are LOST to its flip. One
    # exists-check per batch converts that silent loss into a loud,
    # retriable error (it cannot CLOSE the window — the racing flip may
    # land after this check — but a compaction takes far longer than
    # the gap between this probe and the write it follows).
    try:
        assert_unleased(spark, path, owner)
    except LeaseHeldError as ex:
        raise RuntimeError(
            f"ivf_append_index: a foreign writer acquired the lease on "
            f"{path} DURING this append — the appended rows may be "
            f"racing its compaction swap and could be dropped by the "
            f"generation flip; re-run this batch after the lease clears "
            f"(idempotent with guard_ids=True)"
        ) from ex
    # "auto" resolved from the centroids this append already holds, so
    # the report need not re-read them (an explicit value is verbatim)
    if max_cell_share_threshold == "auto":
        max_cell_share_threshold = _auto_cell_share_threshold(len(centroids))
    report = ivf_index_drift(
        spark,
        path,
        rebuild_threshold=rebuild_threshold,
        max_cell_share_threshold=max_cell_share_threshold,
    )
    report["n_appended"] = n
    report["batch_mean_d2"] = (sum_d2 / n) if n else None
    return report


def _reconstruct_build_stats(
    spark, path: str, centroids: list[tuple[int, list[float]]], owner: str
) -> None:
    """Reconstruct the stats ledger for a genuinely PRE-STATS index:
    one explicit scan of the current cells table, re-measuring d2
    against the stored centroids (the mean then reflects everything
    indexed so far — fine as a drift baseline, and recorded once).

    Callers must have already ruled out a RECOVERABLE ledger (a
    versioned generation, the legacy dir, or a crashed fold's set-aside
    copy — ``table_live_dir`` raising :class:`TableMissingError` is the
    gate). The pre-r8 version keyed on ``exists({path}/stats)`` alone,
    so an append landing inside a crashed ledger-fold's swap window
    silently REBUILT the ledger from cells — absorbing every appended
    row into the build baseline, zeroing the append history, and
    dropping the at-most-once ledger markers (r7-end driver ADVICE,
    reproduced in tests/test_ivf_ledger.py)."""
    from bigdataproject_spark.operators.versioned import (
        publish_version,
        table_live_dir,
        table_overwrite_target,
    )

    cells_live = table_live_dir(spark, path, "cells", owner)
    row = (
        spark.read.parquet(cells_live)
        .select(F.col("cv").cast("array<double>").alias("_vd"))
        .select(assign_cell_struct_expr("_vd", centroids)["d2"].alias("_d2"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_d2").alias("sum_d2"))
        .collect()[0]
    )
    tgt, ver = table_overwrite_target(spark, path, "stats")
    _write_index_stats(
        spark, tgt, kind="build", n_rows=row["n"], sum_d2=row["sum_d2"] or 0.0
    )
    if ver is not None:
        # a VERSIONED target (a dangling stats pointer whose generation
        # dir is gone) must be published, or the pointer keeps naming
        # the missing generation and the fresh ledger is a permanently
        # unpublished orphan only the newest-complete fallback can see
        publish_version(spark, path, "stats", ver, None)


def _auto_cell_share_threshold(n_cells: int) -> float:
    """The ``"auto"`` occupancy threshold: only a cell at >= 3x uniform
    share can flag (see :func:`ivf_index_drift`)."""
    return max(0.5, 3.0 / max(int(n_cells), 1))


def ivf_index_drift(
    spark,
    path: str,
    *,
    rebuild_threshold: float = 2.0,
    max_cell_share_threshold: float | str | None = "auto",
) -> dict:
    """Drift report for an IVF index — TWO independent rebuild signals,
    because a coarse quantizer can rot in two different ways:

    * **Distance drift**: appended-rows mean squared distance to their
      assigned centroid vs the build-time mean. ``rebuild_recommended``
      when appended_mean > ``rebuild_threshold`` × build_mean (a
      zero/degenerate build mean — e.g. n_centroids ≥ n_rows at build —
      recommends rebuild on ANY positive appended mean). An index with
      no appends reports drift_ratio 1.0.
    * **Cell-occupancy skew**: mean-d2 misses the failure mode where
      new data concentrates NEAR one old centroid — d2 stays flat while
      one ``cell=`` partition grows toward a large corpus fraction,
      and probe pruning dies with it (a probe that hits the hot cell
      scans most of the corpus). ``max_cell_share`` is the largest
      cell's fraction of all indexed rows, measured by ONE
      partition-column-only aggregate over the cells table (the scan
      projects only the Hive partition column, so it reads directory
      listings + footers, no data pages; with compaction bounding
      files/cell, bounded work). The default ``"auto"`` applies the
      EFFECTIVE threshold ``max(0.5, 3/n_centroids)``, so a small-k
      index whose largest cell NATURALLY holds a big share (any
      imbalance at k=2-3 exceeds a flat 0.5) cannot fire permanently
      and rebuild-loop automation keyed on the flag; for k <= 3 the
      auto threshold reaches 1.0 and the signal never fires (the share
      is measured and returned regardless — automation can apply its
      own rule). An EXPLICIT float is honored VERBATIM, no floor — an
      operator who deliberately wants a lower trigger on a small-k
      index gets it (r8-end driver ADVICE: the floor must not silently
      override an explicit value). Past the threshold the report fires
      ``rebuild_recommended``; the applied value is returned as
      ``max_cell_share_threshold``. Pass ``None`` to skip the
      occupancy job entirely (e.g. a hot drift-poll loop that compacts
      rarely).

    The ledger read is ONE four-value aggregate — never a collect of
    the per-batch rows — so a year of per-minute appends costs the
    driver four numbers, not 525k rows."""
    agg = (
        _read_stats(spark, path)
        .agg(
            F.sum(F.when(F.col("kind") == "build", F.col("n_rows"))).alias("b_n"),
            F.sum(F.when(F.col("kind") == "build", F.col("sum_d2"))).alias("b_d2"),
            F.sum(F.when(F.col("kind") == "append", F.col("n_rows"))).alias("a_n"),
            F.sum(F.when(F.col("kind") == "append", F.col("sum_d2"))).alias("a_d2"),
        )
        .collect()[0]
    )
    b_n, b_d2 = int(agg["b_n"] or 0), float(agg["b_d2"] or 0.0)
    a_n, a_d2 = int(agg["a_n"] or 0), float(agg["a_d2"] or 0.0)
    build_mean = (b_d2 / b_n) if b_n else None
    appended_mean = (a_d2 / a_n) if a_n else None
    if appended_mean is None:
        ratio, rec = 1.0, False
    elif not build_mean or build_mean <= 0.0:
        ratio = float("inf") if appended_mean > 0 else 1.0
        rec = appended_mean > 0
    else:
        ratio = appended_mean / build_mean
        rec = ratio > rebuild_threshold
    max_share, hot_cell, eff_threshold = None, None, None
    if max_cell_share_threshold is not None:
        # small-k guard (r8 ADVICE): a flat threshold fires permanently
        # when the uniform share itself is large — "auto" scales it so
        # only a cell >= 3x uniform occupancy can flag; an EXPLICIT
        # float is honored verbatim (r8-end ADVICE: no silent
        # override). Centroid count is a <=n_centroids-row read,
        # trivial next to the occupancy scan. ONE generation binding
        # for both reads (the same pattern as ivf_topk_indexed):
        # resolving twice could straddle a concurrent publish and pair
        # one generation's centroid count with another's occupancy.
        from bigdataproject_spark.operators.versioned import table_read_dir

        cells_dir = table_read_dir(spark, path, "cells")
        if max_cell_share_threshold == "auto":
            eff_threshold = _auto_cell_share_threshold(
                len(_collect_index_centroids(spark, path, cells_dir))
            )
        else:
            eff_threshold = float(max_cell_share_threshold)
        # total comes from the same scan as the max (NOT from the
        # ledger: unguarded-replay duplicates die at compaction, so the
        # ledger can over-count the live cells table). One ≤ n_centroids
        # row collect; the hot-cell tie-break is deterministic (largest
        # n, smallest id).
        occ = spark.read.parquet(cells_dir).groupBy("cell").count().collect()
        if occ:
            hot_n, neg_cell = max((r["count"], -r["cell"]) for r in occ)
            hot_cell = -neg_cell
            max_share = hot_n / sum(r["count"] for r in occ)
            rec = rec or (max_share > eff_threshold)
    # compaction-cadence fields (r8 VERDICT item 2): the versioned
    # layout's one-generation grace window means ops must keep publish
    # cadence slower than their slowest reader — the drift report is
    # the natural poll to alarm on, so it carries the cells table's
    # generation / publish bound / last-publish age (cheap: one tiny
    # pointer read + one getFileStatus).
    from bigdataproject_spark.operators.versioned import publish_cadence

    cadence = publish_cadence(spark, path, "cells")
    return {
        "build_mean_d2": build_mean,
        "appended_mean_d2": appended_mean,
        "n_indexed_at_build": b_n,
        "n_appended_total": a_n,
        "drift_ratio": ratio,
        "max_cell_share": max_share,
        "max_cell_share_threshold": eff_threshold,
        "hot_cell": hot_cell,
        "rebuild_recommended": rec,
        "generation": cadence["generation"],
        "publish_count": cadence["publish_count"],
        "last_publish_age_seconds": cadence["last_publish_age_seconds"],
    }


def ivf_compact_index(
    spark,
    path: str,
    *,
    files_per_cell: int | None = None,
    lease_owner: str | None = None,
    keep_marker_ids=None,
) -> dict:
    """Rewrite the ``cells`` table into its NEXT GENERATION
    (operators/versioned.py): per-batch appended part files (every
    :func:`ivf_append_index` adds up to ``_IVF_FILES_PER_CELL`` files
    per touched cell) become a bounded number of large files per cell,
    and duplicate (neighbor_id, cell) rows — possible only from
    UNguarded replayed appends — are dropped (one surviving row per id
    per cell; the layout does not version vectors). ``files_per_cell``
    defaults to footer-estimated table size / 128 MiB / n_cells,
    floored at 1.

    The STATS LEDGER is folded in the same run (r7): per-batch append
    rows — one tiny file each — collapse into one summed row per kind
    plus one zero-row marker per recorded ``ledger_id`` (the markers
    keep replayed batches at-most-once across a fold; they are rows in
    ONE file, not files, so the listing cost the fold exists to kill
    stays dead). ``keep_marker_ids`` prunes even the marker ROWS: pass
    the set of ledger ids that could still replay and every other
    marker is dropped, bounding the folded ledger to a handful of rows.
    SAFETY ARGUMENT REQUIRED of the caller: a pruned id that replays
    anyway re-writes its stats row and double-counts — prune only ids
    that can never replay. Inside the streaming flow that set is exactly
    the CURRENT batch id (Structured Streaming replays at most the
    batch whose commit is pending; every earlier id is committed and
    dead — streaming/ivf_stream.py passes it). ``None`` (default) keeps
    all markers: always safe, grows one tiny row per batch between
    folds. The drift report is numerically unchanged by a fold
    (same sums; tested). Dropped duplicate cell rows stay counted in
    the append stats — the drift MEAN they contributed to was computed
    from real assignments, so the baseline stays honest; only
    n_appended_total over-counts by the number of dropped copies,
    recorded in the return.

    MAINTENANCE op under the writer lease, READER-SAFE by layout (r8):

    * No concurrent WRITER: an append racing the generation flip would
      land in the superseded generation and be dropped by GC. Enforced
      best-effort by the writer lease (operators/lease.py) — this
      function acquires it (raising
      :class:`~bigdataproject_spark.operators.lease.LeaseHeldError`
      if another owner holds it) and :func:`ivf_append_index` checks
      it before AND after its write. ``lease_owner`` defaults to this
      applicationId; a restartable maintenance loop should pass a
      restart-stable string (the streaming flow passes its checkpoint
      path) so its own stale lease after a crash is stolen back
      instead of wedging it.
    * Concurrent READERS are safe: the compacted cells/stats are
      written to the NEXT generation directory (``cells-v{N}`` — see
      operators/versioned.py) and published by an atomic pointer flip;
      the generation a reader resolved stays on disk until the NEXT
      compaction's GC (the one-generation grace window). An external
      search service therefore never sees a missing path mid-compaction
      — the contract is only that a single resolution must not be held
      across two compaction cycles.

    Crash-safe by construction: the live generation is never touched —
    a crash before the flip leaves an orphan next-generation dir the
    next run overwrites-or-skips; a crash inside the (fallback,
    non-atomic) flip is covered by read resolution's newest-complete
    rule. Pre-versioned (r7 rename-aside) crash debris is healed on
    entry under the held lease. Returns {files_before, files_after,
    rows, dup_rows_dropped, stats_files_before, stats_files_after}."""
    from bigdataproject_spark.operators.lease import acquire_lease, release_lease

    owner = lease_owner or spark.sparkContext.applicationId
    acquire_lease(spark, path, owner)
    try:
        return _compact_index_leased(
            spark, path, files_per_cell, keep_marker_ids, owner
        )
    finally:
        release_lease(spark, path, owner)


def _compact_index_leased(
    spark, path: str, files_per_cell: int | None, keep_marker_ids, owner: str
) -> dict:
    """:func:`ivf_compact_index` body, lease already held."""
    from pyspark.sql import Observation

    from bigdataproject_spark.operators.versioned import (
        publish_version,
        table_live_dir,
        table_overwrite_target,
    )

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    # ---- cells generation rewrite ----
    # table_live_dir heals pre-versioned (r7 rename-aside) crash debris
    # under the held lease; any remaining __compacting/__old leftovers
    # are stale (incomplete write, or already-recovered twin) — clear.
    cells_prev = table_live_dir(spark, path, "cells", owner)
    fs.delete(Path(f"{path}/cells__compacting"), True)
    fs.delete(Path(f"{path}/cells__old"), True)

    df = spark.read.parquet(cells_prev)
    if files_per_cell is None:
        from bigdataproject_spark.operators.dedup import _plan_size_bytes

        target = 128 * 1024 * 1024
        n_cells = len(_collect_index_centroids(spark, path, cells_prev))
        files_per_cell = max(
            1, -(-_plan_size_bytes(df) // (target * max(n_cells, 1)))
        )
    tgt, ver = table_overwrite_target(
        spark, path, "cells", force_version=True
    )
    # row counts before and after the dedup, observed on the rewrite
    # itself instead of two extra count jobs
    obs_in, obs_out = Observation("ivf_compact_in"), Observation("ivf_compact_out")
    deduped = (
        df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        .dropDuplicates(["neighbor_id", "cell"])
        .observe(obs_out, F.count(F.lit(1)).alias("n"))
    )
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(int(files_per_cell)))
    (
        deduped.withColumn("_salt", salt)
        .repartition(F.col("cell"), F.col("_salt"))
        .drop("_salt")
        .write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("cell")
        .parquet(tgt)
    )
    # carry the PAIRED centroid copy into the new generation, then mark
    # the generation complete — in that order, so a crash can only
    # leave an incomplete dir resolution ignores, never a
    # complete-looking generation without its quantizer
    # (:func:`_centroids_dir`); compaction never changes the quantizer.
    _copy_centroids(
        spark, _centroids_dir(spark, path, cells_prev), f"{tgt}/{_CENTROIDS_SUBDIR}"
    )
    _touch_success(spark, tgt)
    before = n_parquet_files(spark, cells_prev)
    rows_before, rows_after = _obs_stats(obs_in)[0], _obs_stats(obs_out)[0]
    publish_version(spark, path, "cells", ver, cells_prev)

    # ---- stats-ledger fold (module docstring + ivf_index_drift) ----
    stats_prev = table_live_dir(spark, path, "stats", owner)
    fs.delete(Path(f"{path}/stats__compacting"), True)
    fs.delete(Path(f"{path}/stats__old"), True)
    sdf = spark.read.schema(_INDEX_STATS_SCHEMA).parquet(stats_prev)
    sums = (
        sdf.groupBy("kind")
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("sum_d2").alias("sum_d2"))
        .select(
            "kind", "n_rows", "sum_d2",
            F.lit(None).cast("string").alias("ledger_id"),
        )
    )
    markers = sdf.where(F.col("ledger_id").isNotNull()).select(
        "kind",
        F.lit(0).cast("long").alias("n_rows"),
        F.lit(0.0).alias("sum_d2"),
        "ledger_id",
    ).distinct()
    if keep_marker_ids is not None:
        keep = [str(k) for k in keep_marker_ids]
        markers = (
            markers.where(F.col("ledger_id").isin(keep))
            if keep
            else markers.limit(0)
        )
    stats_before = n_parquet_files(spark, stats_prev)
    s_tgt, s_ver = table_overwrite_target(
        spark, path, "stats", force_version=True
    )
    sums.unionByName(markers).coalesce(1).write.mode("overwrite").parquet(s_tgt)
    publish_version(spark, path, "stats", s_ver, stats_prev)

    return {
        "files_before": before,
        "files_after": n_parquet_files(spark, tgt),
        "rows": rows_after,
        "dup_rows_dropped": rows_before - rows_after,
        "stats_files_before": stats_before,
        "stats_files_after": n_parquet_files(spark, s_tgt),
    }


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = True,
    impl: str = "auto",
    broadcast_max_bytes: int = _SEARCH_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """IVF search against a :func:`ivf_write_index` layout with PARTITION
    pruning: only the DISTINCT probed cell ids (≤ n_centroids values — a
    bounded driver-side collect by construction, never query- or
    data-sized) are collected, and they become a static ``isin`` filter
    on the partition column, so the scan reads only the probed cells'
    files. The probe assignment itself (q_id, qv, qn, cell) stays a
    distributed plan and reaches the corpus join as a broadcast — so
    the QUERY BATCH must fit the broadcast budget (n_queries × n_probe
    rows incl. vectors; building the broadcast relation materializes it
    driver-side like any broadcast join). That budget is ENFORCED, not
    just documented: the query plan's footer-stats estimate
    (× 4 compressed→uncompressed × n_probe — same arithmetic as the
    embedding_neardup guard) is checked against ``broadcast_max_bytes``
    and an oversized query table is automatically split into q_id-hash
    batches, each searched independently and unioned — exact, because
    per-query results never depend on other queries. Each batch re-runs
    the probe-cell collect and corpus scan; that linear re-scan cost is
    the price of never materializing an over-budget driver block. The
    probe plan is a map-only projection over the query scan (the
    literal-centroid multi-probe of :func:`_probe_plan`); the native
    path evaluates it twice (distinct cells, then the join), the blas
    path once — its collected rows carry the cells. Each query ROW is
    probed on its own, so q_id should be unique (rows sharing one are
    ranked as one query). Semantics identical to
    :func:`ivf_topk` given the same centroids; with
    ``n_probe >= n_centroids`` it equals exact brute force (tested).

    ``impl='blas'``: the per-pair interpreted cosine (a higher-order
    zip_with/aggregate — evaluated outside whole-stage codegen) is
    replaced by an Arrow/numpy matmul that keeps the corpus IN PLACE:
    the probe assignment (already bounded by the batch budget above)
    is collected and broadcast as per-cell numpy blocks, and a
    mapInPandas pass over the partition-pruned corpus scan emits a
    per-Arrow-batch partial top-k — so the corpus never shuffles and
    the final ranking window sees a few (k + ties) candidates per
    query per scanned batch instead of every (query, cell-member)
    pair. The same JVM-exit move as
    ``embedding_neardup_pairs(impl='blas')``; measured 14× on sf10
    2000-query batches. Rank ties at the 6dp-rounded cosine boundary
    resolve by the same (cosine desc, neighbor asc) window either way;
    raw cosines can differ from the native fold in the last ulp (the
    embedding_neardup round-6 caveat), equality-tested at the default
    scale.

    The DEFAULT is ``impl='auto'`` — blas when numpy/pandas/pyarrow
    import, native otherwise (:func:`_resolve_impl`): the steady-state
    search measured 946 s native vs 13.5 s blas for the same sf100
    2000-query batch, a 70× footgun no caller should hit by omission.
    Pass ``impl='native'`` explicitly to pin the pure-DataFrame plan
    (``'auto'`` already degrades to native for an id type the Arrow
    path does not carry).

    Generation binding: the cells directory is resolved ONCE here
    (operators/versioned.py) and the centroids are read from the copy
    PAIRED with that generation (:func:`_centroids_dir`), so the whole
    search — every query batch — runs against one consistent
    (quantizer, partitioning) snapshot even if a compaction or rebuild
    publishes mid-search; the superseded generation survives one full
    grace cycle."""
    from bigdataproject_spark.operators.versioned import table_read_dir

    cells_dir = table_read_dir(spark, path, "cells")
    corpus_base = spark.read.parquet(cells_dir)
    centroids = _collect_index_centroids(spark, path, cells_dir)
    impl = _resolve_impl(
        impl,
        "ivf_topk_indexed",
        id_types=(
            queries.schema[id_col].dataType.simpleString(),
            corpus_base.schema["neighbor_id"].dataType.simpleString(),
        ),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("qn"),
    )
    # The probe plan replicates each query row at most once per EXISTING
    # centroid — sizing the budget by raw n_probe against a smaller index
    # (e.g. the documented n_probe >= n_centroids brute-force setting)
    # would over-split by n_probe/n_centroids and multiply redundant
    # corpus re-scans.
    est_probe = min(max(n_probe, 1), max(len(centroids), 1))
    return _batched_over_queries(
        lambda qb: _ivf_indexed_search(
            corpus_base, centroids, qb,
            k=k, n_probe=n_probe, exclude_self=exclude_self, impl=impl,
        ),
        q,
        n_probe=est_probe,
        broadcast_max_bytes=broadcast_max_bytes,
    )


def _ivf_indexed_search(
    corpus_base: DataFrame,
    centroids: list[tuple[int, list[float]]],
    q: DataFrame,
    *,
    k: int,
    n_probe: int,
    exclude_self: bool,
    impl: str,
) -> DataFrame:
    """One budget-sized batch of :func:`ivf_topk_indexed` (q already
    projected to (q_id, qv, qn) and guaranteed within the broadcast
    budget by the caller's :func:`_query_batch_splits` split).
    ``corpus_base`` is the cells scan the caller bound to ONE resolved
    generation — every batch filters the same snapshot, and
    ``centroids`` is that generation's paired quantizer."""
    probe_plan = _probe_plan(q, centroids, n_probe)
    if impl == "blas":
        return _ivf_blas_topk(
            corpus_base, probe_plan, k=k, exclude_self=exclude_self
        )
    # Driver sees only the distinct probed cell ids (≤ n_centroids ints)
    # for the static partition filter; the full (q_id, qv, qn, cell)
    # assignment never leaves the executors — with a large query table a
    # row collect here would be a driver OOM.
    cells = sorted(r["cell"] for r in probe_plan.select("cell").distinct().collect())
    joined = corpus_base.filter(F.col("cell").isin(cells)).join(
        F.broadcast(probe_plan), on="cell"
    )
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("q_id"))
    return _rank_topk(joined, k)


def _blas_query_batched(
    c: DataFrame,
    q: DataFrame,
    *,
    k: int,
    exclude_self: bool,
    broadcast_max_bytes: int,
) -> DataFrame:
    """Byte-guarded front door for the non-indexed blas paths
    (brute-force / sign-bucket): `_ivf_blas_topk` collects the query
    plan driver-side, so an over-budget query table is split into
    q_id-hash batches first — each batch re-scans the corpus (linear,
    map-only), the per-query results are independent, and the union is
    exact."""
    return _batched_over_queries(
        lambda qb: _ivf_blas_topk(c, qb, k=k, exclude_self=exclude_self),
        q,
        n_probe=1,
        broadcast_max_bytes=broadcast_max_bytes,
    )


def _null_tail_candidates(qids, nids, *, k: int, exclude_self: bool):
    """Vectorized NULL-cosine candidate pairs (qids × smallest nids) for
    one Arrow batch — used in BOTH null-tail directions: every probing
    query against the batch's bad (NULL / zero-norm vector) corpus rows,
    and every bad query against the batch's good corpus rows. Either
    way the pair carries NULL cosine, which the global window ranks
    LAST, neighbor_id asc — so only the smallest candidate neighbor ids
    in this batch can ever reach a query's global top-k. Cap: k when
    self matches are kept; with ``exclude_self`` the only entries ever
    removed for a query q are the copies of q itself — at most the
    batch's max per-id multiplicity — so k + max_multiplicity smallest
    ids are a provable superset for every query (a duplicate-ridden
    corpus cannot evict a ranked id, a fixed k+1 constant could). ONE
    sort + one repeat/tile cross product per call, no per-query Python
    loop; the emission stays O(k·|qids|) per batch instead of
    |nids|·|qids|. Returns (q_arr, n_arr) or None."""
    import numpy as np

    if len(nids) == 0 or len(qids) == 0:
        return None
    cap = k
    if exclude_self:
        _, counts = np.unique(nids, return_counts=True)
        cap = k + int(counts.max())
    cand = np.sort(nids)[:cap]
    q_rep = np.repeat(qids, len(cand))
    n_til = np.tile(cand, len(qids))
    if exclude_self:
        keep = q_rep != n_til
        q_rep, n_til = q_rep[keep], n_til[keep]
    return (q_rep, n_til) if len(q_rep) else None


def _ivf_blas_topk(
    corpus: DataFrame,
    probe_plan: DataFrame,
    *,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """numpy realization of the indexed IVF search (see
    :func:`ivf_topk_indexed` ``impl='blas'``) that keeps the corpus IN
    PLACE: the probe assignment — already bounded by the documented
    query-batch budget — is collected and broadcast as per-cell numpy
    blocks, and a mapInPandas pass over the partition-pruned corpus
    scan runs a chunk×cell-queries matmul per Arrow batch, emitting a
    per-batch partial top-k with epsilon slack so every global top-k
    member (including rank ties at the rounding boundary) survives
    into the exact Spark-side window. The corpus never shuffles (the
    cogroup alternative would move n_probe/n_centroids of the corpus
    per batch — terabytes at 100 TB); the only exchange is the tiny
    candidate ranking."""
    import numpy as np
    import pandas as pd

    from bigdataproject_spark.operators.dedup import _BLAS_ID_PANDAS_DTYPES

    id_type = probe_plan.schema["q_id"].dataType.simpleString()
    n_type = corpus.schema["neighbor_id"].dataType.simpleString()
    for t in (id_type, n_type):
        if t not in _BLAS_ID_PANDAS_DTYPES:
            raise TypeError(
                f"ivf_topk_indexed(impl='blas'): unsupported id type {t!r} "
                f"(supported: {sorted(_BLAS_ID_PANDAS_DTYPES)}); use "
                "impl='native' for other id types"
            )
    qd, nd = (_BLAS_ID_PANDAS_DTYPES[t] for t in (id_type, n_type))

    # bounded by the same budget as the native path's broadcast join:
    # n_queries × n_probe rows incl. vectors. NULL or zero-norm query
    # vectors cannot enter the matmul — they are carried separately so
    # the null-cosine tail rows the native path emits for them are
    # reproduced (ranked after every real cosine, neighbor-id asc).
    by_cell: dict[int, tuple] = {}
    acc: dict[int, list] = {}
    for r in probe_plan.collect():
        acc.setdefault(r["cell"], []).append((r["q_id"], r["qv"], r["qn"]))
    # the probed cells are the collected rows' own: on an index this is
    # the static partition filter, so the scan reads only their files
    corpus = corpus.filter(F.col("cell").isin(sorted(acc)))
    for cell, lst in acc.items():
        good, bad_ids = [], []
        for qid, qv, qn_ in lst:
            if qv is not None and qn_ is not None and qn_ > 0:
                good.append((qid, qv, qn_))
            else:
                bad_ids.append(qid)
        bad_q = np.array(bad_ids)
        by_cell[cell] = (
            np.array([x[0] for x in good]),
            (
                np.array([x[1] for x in good], dtype=np.float64)
                if good
                else np.zeros((0, 0))
            ),
            np.array([x[2] for x in good], dtype=np.float64),
            bad_q,
        )
    bc = corpus.sparkSession.sparkContext.broadcast(by_cell)
    _register_search_broadcast(corpus.sparkSession, bc)

    def _scan(batches):
        import numpy as np

        def _emit(q_arr, n_arr, c_arr):
            return pd.DataFrame(
                {"q_id": q_arr, "neighbor_id": n_arr, "cosine": c_arr}
            ).astype({"q_id": qd, "neighbor_id": nd, "cosine": "float64"})

        for pdf in batches:
            outs = []
            for cell, grp in pdf.groupby("cell"):
                entry = bc.value.get(cell)
                if entry is None or len(grp) == 0:
                    continue
                qids, qm, qn, bad_qids = entry
                all_qids = np.concatenate([qids, bad_qids]) if len(
                    bad_qids
                ) else qids
                # corpus rows whose vector is NULL or zero-norm pair
                # with probing queries as null-cosine candidates (NaN
                # here; converted to NULL Spark-side) — the native
                # path's behavior, capped at the smallest bad ids per
                # batch (a duplicate-safe superset of any query's
                # global NULL-tail top-k — see _null_tail_candidates)
                # and emitted as ONE vectorized cross product so a
                # NULL-heavy corpus cannot degrade the scan to
                # per-row Python.
                cn_raw = grp["cn"].to_numpy()
                bad_c = grp["cv"].isna().to_numpy() | ~(
                    np.nan_to_num(cn_raw.astype(np.float64), nan=0.0) > 0
                )
                pair = _null_tail_candidates(
                    all_qids,
                    grp["neighbor_id"].to_numpy()[bad_c],
                    k=k,
                    exclude_self=exclude_self,
                )
                if pair is not None:
                    outs.append(_emit(pair[0], pair[1], np.nan))
                grp = grp[~bad_c]
                if len(grp) == 0:
                    continue
                nids = grp["neighbor_id"].to_numpy()
                # a bad QUERY sees every good corpus row at null cosine —
                # the mirror direction of the bad-corpus emission above,
                # vectorized through the same capped helper so a
                # mostly-NULL query table cannot degrade the scan to
                # per-query Python sorts.
                pair = _null_tail_candidates(
                    bad_qids, nids, k=k, exclude_self=exclude_self
                )
                if pair is not None:
                    outs.append(_emit(pair[0], pair[1], np.nan))
                if len(qids) == 0:
                    continue
                cm = np.stack(grp["cv"].to_numpy()).astype(np.float64)
                cn = grp["cn"].to_numpy().astype(np.float64)
                cos = (qm @ cm.T) / np.outer(qn, cn)
                cos = np.where(np.isfinite(cos), cos, -np.inf)
                if exclude_self:
                    cos = np.where(
                        qids[:, None] == nids[None, :], -np.inf, cos
                    )
                kk = min(k, cos.shape[1])
                kth = np.partition(cos, cos.shape[1] - kk, axis=1)[
                    :, cos.shape[1] - kk
                ]
                # 1.1e-6 slack > the 5e-7 round-6 quantum: a candidate
                # tied with the k-th at the rounded boundary is never
                # dropped before the exact window ranks it.
                mask = np.isfinite(cos) & (cos >= kth[:, None] - 1.1e-6)
                ii, jj = np.nonzero(mask)
                if len(ii):
                    outs.append(_emit(qids[ii], nids[jj], cos[ii, jj]))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    cand = corpus.select("cell", "neighbor_id", "cv", "cn").mapInPandas(
        _scan, schema=f"q_id {id_type}, neighbor_id {n_type}, cosine double"
    )
    # NaN is the in-band null marker (pandas float columns cannot carry
    # NULL through Arrow); restore real NULLs so ordering matches the
    # native path (desc ranks NULL last).
    sim = cand.select(
        "q_id",
        "neighbor_id",
        F.when(F.isnan("cosine"), F.lit(None))
        .otherwise(F.round("cosine", 6))
        .alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    # no final orderBy (r12 optimization round): the top-k output is
    # (q_id, rank)-keyed and every consumer — driver value-hash, parity
    # tests, rrf fusion — is order-insensitive; the presentation sort
    # cost a range exchange + sort stage per search call.
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# Broadcasts created by the blas search paths, per SparkContext id:
# a long-lived search service calls release_search_broadcasts() between
# batches so per-batch query blocks do not accumulate for the session
# lifetime (they are otherwise only reclaimed when the result frames
# are garbage-collected).
_SEARCH_BCS: dict[int, list] = {}


def _register_search_broadcast(spark, bc) -> None:
    _SEARCH_BCS.setdefault(id(spark.sparkContext), []).append(bc)


def release_search_broadcasts(spark) -> int:
    """Unpersist every broadcast the blas search paths created on this
    session's SparkContext; returns how many were released. Safe to
    call only AFTER the result DataFrames have been fully consumed."""
    bcs = _SEARCH_BCS.pop(id(spark.sparkContext), [])
    for bc in bcs:
        try:
            bc.unpersist()
        except Exception:
            pass
    return len(bcs)
