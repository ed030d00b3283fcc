"""One-call corpus cleaning: the end-to-end C4/Gopher-style funnel.

The individual stages — language ID, quality scoring, exact dedup,
minhash near-dup, cluster collapse, and (opt-in, r9) substring-span
removal — each exist as tested operators (textstats.py, dedup.py,
concomp.py, spandedup.py). Real pipelines run them as ONE
funnel, and the funnel's accounting (how many docs each stage rejected)
is itself a first-class product: it is how a data team audits a crawl.
The reference has no cleaning pipeline (its only filter is the
crawler's exact dmid skip, crawler/spider_worker.py:73-77); this is a
north-star composition per BASELINE.json.

Scale design — the whole funnel costs:
  * one LOGICAL map projection over the corpus (tokenize + lang +
    quality evaluated together; the rejection label is a single CASE
    over the shared columns — no per-stage jobs). Each dedup consumer
    re-scans the parquet and re-evaluates that projection; at 100 TB a
    columnar re-scan is the right default over persisting the
    tokenized corpus (callers who want the trade can persist the
    funnel's input themselves),
  * the exact-dedup digest aggregate (one shuffle on a high-entropy
    key) joined back semi-style,
  * the minhash-LSH pipeline on the ELIGIBLE subset only (filtering
    before dedup shrinks the quadratic stage exactly when the corpus is
    dirtiest), then connected components on the verified pairs. The
    drop-list joins back onto the corpus by id: AQE converts that join
    to a broadcast at runtime when the list is small (the usual case —
    it holds only near-dup losers), and the static sort-merge fallback
    is the honest shape for a pathologically dup-heavy corpus where the
    drop-list is a constant fraction of the data,
  * funnel stats as one map-side-combinable groupBy over the labels.
Rejection precedence is fixed (lang -> quality -> exact_dup ->
near_dup): a doc failing two stages reports the earliest, matching how
funnel dashboards count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataproject_spark.operators.concomp import connected_components
from bigdataproject_spark.operators.dedup import (
    exact_dedup_groups,
    hashed_word_shingles,
    minhash_lsh_dedup_pairs,
)
from bigdataproject_spark.operators.textstats import (
    lang_id_expr,
    quality_features,
    quality_score_expr,
)

KEPT = "kept"
STAGES = (KEPT, "lang", "quality", "exact_dup", "near_dup")


def check_min_quality(min_quality) -> None:
    """r11 changed ``min_quality`` from a [0,1] float (default 0.5) to
    the integer centi-score scale [0,100] (default 50). A caller still
    passing an old-scale threshold like 0.5 would silently keep every
    doc with ANY nonzero score (quality >= 0.5 matches 30/40/60/...) —
    fail loudly at the API boundary instead (r12, per the r11
    advice)."""
    if 0 < min_quality < 1:
        raise ValueError(
            f"min_quality={min_quality!r} looks like the pre-r11 [0,1] "
            f"float scale; quality is now an integer centi-score in "
            f"[0,100] — pass e.g. 50 where you previously passed 0.5"
        )


def corpus_funnel(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str = "tokens",
    languages: tuple[str, ...] = ("en",),
    min_quality: int = 50,
    near_dup: bool = True,
    jaccard_threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Label every doc with its funnel outcome: (id_col, stage, lang,
    quality) where stage ∈ {kept, lang, quality, exact_dup, near_dup}.
    ``quality`` is the integer centi-score in [0, 100] (r11 — see
    :func:`textstats.quality_score_expr`); ``min_quality`` thresholds
    on that scale (50 ≙ the old 0.5).

    ``docs`` must carry a pre-tokenized ``tokens_col`` (array<string>) —
    tokenization policy stays the caller's, as everywhere else in the
    engine. Dedup keepers are min-id (exact: per digest group; near:
    per connected component of verified Jaccard pairs).
    """
    check_min_quality(min_quality)
    feats = quality_features(F.col(text_col), F.col(tokens_col))
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.col(tokens_col),
        lang_id_expr(tokens_col).alias("lang"),
    )
    # quality_score_expr reads features by NAME from a projection so the
    # ratio passes are evaluated once (see textstats.py let-binding note)
    base = base.select(
        "*", *[c.alias(n) for n, c in feats.items()]
    ).select(
        id_col,
        text_col,
        tokens_col,
        "lang",
        quality_score_expr({n: F.col(n) for n in feats}).alias("quality"),
    )
    base = base.withColumn(
        "_lang_ok", F.col("lang").isin(*languages)
    ).withColumn("_q_ok", F.col("quality") >= min_quality)

    eligible = base.filter("_lang_ok AND _q_ok")

    exact = exact_dedup_groups(eligible, id_col=id_col, text_col=text_col)
    exact_keep = exact.select(F.col("canonical_id").alias(id_col)).withColumn(
        "_exact_keep", F.lit(True)
    )

    if near_dup:
        survivors = eligible.join(exact_keep.select(id_col), id_col, "left_semi")
        pairs = minhash_lsh_dedup_pairs(
            survivors.withColumn(
                "_sh", hashed_word_shingles(tokens_col, shingle_n)
            ),
            id_col=id_col,
            shingles_col="_sh",
            threshold=jaccard_threshold,
            num_hashes=num_hashes,
            bands=bands,
        )
        comp = connected_components(pairs, src="id_a", dst="id_b")
        near_drop = (
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
            .withColumn("_near_drop", F.lit(True))
        )
    else:
        near_drop = None

    out = base.join(exact_keep, id_col, "left")
    if near_drop is not None:
        out = out.join(near_drop, id_col, "left")
    else:
        out = out.withColumn("_near_drop", F.lit(None).cast("boolean"))

    stage = (
        F.when(~F.col("_lang_ok"), F.lit("lang"))
        .when(~F.col("_q_ok"), F.lit("quality"))
        .when(F.col("_exact_keep").isNull(), F.lit("exact_dup"))
        .when(F.col("_near_drop").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit(KEPT))
    )
    return out.select(F.col(id_col), stage.alias("stage"), "lang", "quality")


def clean_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_dedup_k: int | None = None,
    span_hash_family: str = "xxhash64",
    span_broadcast_max_bytes: int = 64 * 1024 * 1024,
    **funnel_kwargs,
) -> DataFrame:
    """Filter ``docs`` to the funnel's kept set (original columns).

    ``span_dedup_k`` adds the Lee-et-al. pipeline's LAST stage: after
    doc-level dedup decides the kept set, substring-span dedup
    (operators/spandedup.py) rewrites ``text_col`` with every
    duplicated-k-gram span cut out. It runs over the KEPT docs only —
    dropped docs are gone, so their text cannot make a surviving span
    "duplicated" — and is a transform, not a filter: the output keeps
    the same rows, with shorter text. Caller-provided derived columns
    (e.g. the funnel's tokens array) are NOT recomputed — re-derive
    them downstream if needed. Default key family is xxhash64 (the
    scale choice, see SCALING.md's span-dedup note; pass "md5" for
    parity-grade exactness).

    NOTE — plan construction is EAGER when ``span_broadcast_max_bytes
    > 0`` (the default): the span stage's measured-byte broadcast guard
    localCheckpoints the per-doc span aggregate at BUILD time, measuring
    it on the checkpoint's own jobs (spandedup._measured_broadcast), and
    each invocation pins that checkpoint's blocks until the session ends.
    Callers constructing the plan repeatedly (benchmarks, tests) or
    wanting a pure-lazy plan should pass
    ``span_broadcast_max_bytes=0``, which skips the checkpoint and
    keeps the honest shuffle join."""
    funnel = corpus_funnel(docs, id_col=id_col, text_col=text_col, **funnel_kwargs)
    keep = funnel.filter(F.col("stage") == KEPT).select(id_col)
    kept = docs.join(keep, id_col, "left_semi")
    if span_dedup_k is None:
        return kept
    from bigdataproject_spark.operators.spandedup import remove_duplicate_spans

    cleaned = remove_duplicate_spans(
        kept,
        id_col=id_col,
        text_col=text_col,
        k=span_dedup_k,
        hash_family=span_hash_family,
        spans_broadcast_max_bytes=span_broadcast_max_bytes,
    ).select(F.col("doc_id").alias(id_col), F.col("clean_text").alias("_span_clean"))
    # the span cut tokenizes NULL text as '' — an untouched NULL-text
    # doc must come back as NULL, not '', or the "same rows, shorter
    # text" transform contract breaks for docs the cut never touched
    return (
        kept.join(cleaned, id_col)
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNotNull(), F.col("_span_clean")),
        )
        .select(*docs.columns)
    )


def funnel_stats(funnel: DataFrame) -> DataFrame:
    """(stage, n_docs) — one map-side-combinable aggregate over the
    labels; stages with zero docs are absent (count them as 0)."""
    return funnel.groupBy("stage").agg(F.count(F.lit(1)).alias("n_docs"))
