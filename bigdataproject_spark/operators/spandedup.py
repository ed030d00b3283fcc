"""Exact substring-span deduplication (training-data op).

The corpus-level cleanup from Lee et al. 2022, "Deduplicating Training
Data Makes Language Models Better" (public paper, see PAPERS.md): any
run of ``k`` consecutive tokens that appears more than once ANYWHERE in
the corpus (across docs or repeated inside one doc) marks a duplicated
span, and overlapping/adjacent marked k-grams merge into maximal spans
that can be reported or cut out of the text. The reference engine has
no counterpart (its dedup is whole-message); this is part of the
LLM-pipeline surface, sibling to operators/dedup.py and
operators/linededup.py (which handles the line-granularity variant).

Spark-first plan (no suffix array — the paper's single-node structure
does not distribute; the k-gram formulation is the standard scale-out
equivalent and is exact for fixed k):

  1. one generate pass explodes each doc into (doc_id, start, key)
     rows, key = hash of the k-token window — tokens come from ONE
     ``split``, windows from ``transform(sequence(...))``, all
     whole-stage-codegen, no Python;
  2. duplicated keys = groupBy(key) HAVING count >= min_count — one
     shuffle on the gram key with map-side partial counts (hot
     boilerplate grams partial-aggregate before the exchange, so a
     million-way repeat ships one row per map task; AQE skew-split
     covers the reduce side);
  3. hits = left-semi join of the gram rows against the duplicated
     keys — same key partitioning as (2), and only duplicate-bearing
     rows survive into
  4. the per-doc merge: window over (doc_id, start) turns overlapping
     or ADJACENT k-grams into maximal [span_start, span_end) islands
     (gaps-and-islands: a row opens a new island iff its start exceeds
     the running max end of everything before it).

Volume discipline at 100 TB: the gram table is ~one row per token —
the same order as the tokenize pass every other text op does — and
everything after step 3 is duplicate-only. Hash choice is the
shuffle-width vs collision trade: ``md5`` (default, 128-bit, portable
to the DuckDB oracle — collision-free in practice) vs ``xxhash64``
(8-byte shuffle key; ~e-6 false-dup grams per 10^13 grams by birthday
math — acceptable for cleanup, not for parity checks).

Two measured-byte broadcast guards (r10, the linededup-r6 protocol)
keep the corpus map-side where Catalyst's estimates would not: the
REFERENCE key set in decontamination mode (a frozen eval suite is
small by contract, but its derived-aggregate estimate blows past the
auto-broadcast threshold and silently degrades the semi-join to
shuffling the full gram table) and the PER-DOC SPAN set feeding the
text-rebuild join (realistic contamination is a small fraction of the
corpus, but just over 10 MB of spans used to shuffle every tokenized
row). Measured at 5M docs: 6,889 → 122 MB shuffle
(SPAN_decontam_sf100_r10.json; SCALING.md §span-sf100). Over-budget
sides decline the hint and keep the honest shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _gram_key(gram, hash_family: str):
    if hash_family == "md5":
        return F.md5(gram)
    if hash_family == "xxhash64":
        return F.xxhash64(gram)
    raise ValueError(f"unknown hash_family {hash_family!r} (md5 | xxhash64)")


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, toks) with the house single-space split — identical to
    DuckDB ``string_split(text, ' ')`` including the [''] result for
    empty text, so oracles stay cheap (see queries_pipeline.py)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("toks"),
    )


def reference_gram_keys(
    ref_docs: DataFrame, *, text_col: str, k: int, hash_family: str = "md5"
) -> DataFrame:
    """Distinct k-gram keys of a reference corpus — the probe set for
    span-level DECONTAMINATION (cut training spans that leak eval
    text, the surgical sibling of operators/decontam.py's doc-level
    flag). One column ``key``; pass as ``reference_keys`` to the
    functions below. Same (k, hash_family) discipline as everywhere:
    keys from different settings never match."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    return (
        ref_docs.select(toks.alias("toks"))
        .where(F.size("toks") >= F.lit(k))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - F.lit(k)),
                    lambda i: _gram_key(
                        F.array_join(F.slice("toks", i + 1, k), " "),
                        hash_family,
                    ),
                )
            ).alias("key")
        )
        .distinct()
        # column metadata pins the config ON the frame (it also
        # survives the parquet round-trip of the persisted index), so
        # the probe-side guard can catch a k mismatch — which the key
        # dtype alone cannot (8-gram and 10-gram xxhash64 keys are both
        # bigint and would silently never match). Stamped on a plain
        # projection: Generate's output attributes drop alias metadata.
        .select(
            F.col("key").alias(
                "key", metadata={"k": int(k), "hash_family": hash_family}
            )
        )
    )


def write_reference_gram_index(
    ref_docs: DataFrame,
    path: str,
    *,
    text_col: str,
    k: int,
    hash_family: str = "xxhash64",
) -> None:
    """Persist a reference corpus's distinct gram keys for reuse —
    decontamination sets are IMMUTABLE (a frozen eval benchmark does
    not change), so unlike the minhash/IVF indexes this needs no
    lease, no versioned layout, no compaction: one overwrite commit of
    a ``keys`` table plus a one-row ``meta`` table pinning (k,
    hash_family), because band-key discipline applies here too — keys
    from a different (k, hash_family) never match and would silently
    decontaminate nothing. Use :func:`decontaminate_spans` to query:
    it reads the pinned config instead of trusting the caller to
    repeat it."""
    keys = reference_gram_keys(
        ref_docs, text_col=text_col, k=k, hash_family=hash_family
    )
    spark = ref_docs.sparkSession
    keys.write.mode("overwrite").parquet(f"{path}/keys")
    spark.createDataFrame(
        [(int(k), str(hash_family))], "k int, hash_family string"
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_reference_gram_index(spark, path: str):
    """(keys DataFrame, k, hash_family) from a persisted reference
    index — the pinned config travels with the keys."""
    meta = spark.read.parquet(f"{path}/meta").collect()
    if len(meta) != 1:
        raise ValueError(f"corrupt reference index meta at {path} ({len(meta)} rows)")
    return (
        spark.read.parquet(f"{path}/keys"),
        int(meta[0]["k"]),
        str(meta[0]["hash_family"]),
    )


def decontaminate_spans(
    docs: DataFrame,
    index_path: str,
    *,
    id_col: str,
    text_col: str,
    out_col: str = "clean_text",
    spans_broadcast_max_bytes: int = 64 * 1024 * 1024,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Span-level decontamination against a persisted reference index:
    (doc_id, clean_text) with every k-gram run present in the reference
    cut out. k and hash_family come from the index's pinned meta — the
    one query signature a scheduled scrub job needs.
    ``spans_broadcast_max_bytes`` passes through to the rebuild-join
    guard (micro-batch callers pass 0: their base side is already one
    small batch, and the guard's eager checkpoint per batch would
    accumulate for no win — see streaming/decontam_stream.py)."""
    keys, k, hash_family = load_reference_gram_index(docs.sparkSession, index_path)
    return remove_duplicate_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        hash_family=hash_family,
        reference_keys=keys,
        out_col=out_col,
        spans_broadcast_max_bytes=spans_broadcast_max_bytes,
        reference_broadcast_max_bytes=reference_broadcast_max_bytes,
    )


def duplicate_gram_hits(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int = 2,
    hash_family: str = "md5",
    reference_keys: DataFrame | None = None,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """(doc_id, start) for every k-gram occurrence whose key appears
    >= ``min_count`` times corpus-wide — or, with ``reference_keys``
    (from :func:`reference_gram_keys`), every occurrence PRESENT in
    the reference set (decontamination mode; ``min_count`` does not
    apply). ``start`` is the 0-based token index of the window's first
    token; a doc shorter than k tokens contributes no grams. Steps 1-3
    of the module plan.

    ``reference_broadcast_max_bytes`` (decontam mode only): a frozen
    eval benchmark's gram set is bounded by contract — broadcasting it
    keeps the training-side gram table entirely map-side, the same
    design as doc-level decontam.py. Catalyst's ESTIMATE for a derived
    reference (an aggregate over an eval split) blows past the
    auto-broadcast threshold at scale and silently degrades the
    semi-join to shuffling the FULL corpus gram table (measured: 4.7 GB
    of a 5M-doc scrub's 4.7 GB total — SCALING.md §span-sf100), so the
    guard MEASURES the checkpointed key set and hints broadcast under
    budget; an over-budget reference keeps the honest shuffle join.
    ``0`` disables (micro-batch streams: the batch side is the small
    one, and a per-batch checkpoint would accumulate)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Gram build = Generate-codegen, NOT a higher-order transform()
    # tower (r13, applying the r12-measured kernel receipt now that the
    # span driver bisect is read out): explode(transform(sequence,
    # struct(i, md5(array_join(slice)))))) runs the lambda INTERPRETED
    # per gram — measured 1889–1955 CPU-s vs 1003–1039 for this shape
    # on the full sf100 corpus (SCALING.md r12 gram-kernel receipt;
    # the same swap shipped 6.3× on the graph pair kernel). Here the
    # whole pipeline is codegen: explode the start sequence, then one
    # concat_ws over k get() lookups + the hash in a Project above the
    # Generate. Values are bit-identical (concat_ws(' ', t[s..s+k-1])
    # == array_join(slice(toks, s+1, k), ' ') for in-range s, pinned
    # by tests/test_spandedup.py + the DuckDB parity suites).
    #
    # Two shape details, both guide §2.4/§7.2:
    #  * the length gate is a cheap space-count on the RAW text
    #    (size(split(t,' ')) == count(' ')+1 identically), so the
    #    pushed scan filter does not evaluate split() a second time —
    #    the old where(size(toks) >= k) was rewritten onto the split
    #    expression and re-ran it inside the pushed Filter;
    #  * explode_outer + a null start filter, so
    #    InferFiltersFromGenerate cannot re-derive a sequence-building
    #    filter below the Generate (the sequence is provably non-empty
    #    once the length gate holds: size - k >= 0).
    txt = F.coalesce(F.col(text_col), F.lit(""))
    doc = docs.select(F.col(id_col).alias("doc_id"), txt.alias("_txt")).where(
        (F.length("_txt") - F.length(F.translate("_txt", " ", "")))
        >= F.lit(k - 1)
    )
    starts = (
        doc.select("doc_id", F.split("_txt", " ").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode_outer(
                F.sequence(F.lit(0), F.size("toks") - F.lit(k))
            ).alias("start"),
        )
        .where(F.col("start").isNotNull())
    )
    gram = F.concat_ws(
        " ", *[F.get("toks", F.col("start") + F.lit(j)) for j in range(k)]
    )
    grams = starts.select(
        "doc_id", "start", _gram_key(gram, hash_family).alias("key")
    )
    if reference_keys is not None:
        # a reference built with a different (k, hash_family) never
        # matches anything — the scrub would silently return the text
        # uncut. Two structural guards: the config metadata stamped by
        # reference_gram_keys (catches EVERY mismatch, including same-
        # dtype ones like k=8 vs k=10), and the key dtype
        # as a fallback for hand-built frames without metadata.
        meta = reference_keys.schema["key"].metadata or {}
        if meta.get("k") is not None or meta.get("hash_family") is not None:
            if int(meta.get("k", -1)) != int(k) or meta.get(
                "hash_family"
            ) != hash_family:
                raise ValueError(
                    f"reference_keys was built with k={meta.get('k')}, "
                    f"hash_family={meta.get('hash_family')!r} but probed with "
                    f"k={k}, hash_family={hash_family!r} — keys from different "
                    "configs never match; rebuild the reference or fix the call"
                )
        want = grams.schema["key"].dataType
        got = reference_keys.schema["key"].dataType
        if got != want:
            raise ValueError(
                f"reference_keys key type {got.simpleString()} does not match "
                f"hash_family={hash_family!r} ({want.simpleString()}) — the "
                "reference must be built with the same (k, hash_family)"
            )
        dup_keys = _measured_broadcast(
            reference_keys.select("key").distinct(),
            F.lit(8).cast("long")
            + _unsafe_row_slot(F.col("key"), reference_keys.schema["key"].dataType),
            reference_broadcast_max_bytes,
        )
    else:
        dup_keys = (
            grams.groupBy("key")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= min_count)
            .select("key")
        )
    return grams.join(dup_keys, "key", "leftsemi").select("doc_id", "start")


def duplicate_spans(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int = 2,
    hash_family: str = "md5",
    reference_keys: DataFrame | None = None,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Maximal duplicated spans per doc: (doc_id, span_start, span_end),
    token indices, end exclusive. Overlapping AND back-to-back k-gram
    hits merge (a hit at the exact end of the running span extends it:
    the duplicated region is contiguous). Sort + windows run inside one
    doc_id exchange; the closing groupBy touches duplicate-only rows.
    ``reference_keys`` switches to decontamination mode (see
    :func:`duplicate_gram_hits`)."""
    hits = duplicate_gram_hits(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_count=min_count,
        hash_family=hash_family,
        reference_keys=reference_keys,
        reference_broadcast_max_bytes=reference_broadcast_max_bytes,
    )
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + F.lit(k)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "opens",
        F.when(prev_end.isNull() | (F.col("start") > prev_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("opens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(k)).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def span_dedup_stats(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int = 2,
    hash_family: str = "md5",
    reference_keys: DataFrame | None = None,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Per-doc duplication report over ALL docs (zero-rows included, so
    the output cardinality is the doc count): (doc_id, n_dup_spans,
    dup_tokens, total_tokens, dup_frac_ppm). The number a pipeline
    operator thresholds on before paying for span removal.

    ``dup_frac_ppm`` is INTEGER parts-per-million via floor division
    (``(dup_tokens * 1000000) DIV total_tokens``), NOT a rounded
    double: the r10 driver hash-failed the old ``round(long/long, 6)``
    column — a ratio of two small integers is exactly the value class
    that can land on a decimal half-boundary, where Spark's BigDecimal
    HALF_UP and another engine's multiply-round-divide legitimately
    differ in the last bit. Floor division of nonnegative longs is
    bit-identical on every engine (the energy_approx_flag
    deterministic-binning discipline, queries_extended.py)."""
    spans = duplicate_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_count=min_count,
        hash_family=hash_family,
        reference_keys=reference_keys,
        reference_broadcast_max_bytes=reference_broadcast_max_bytes,
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    totals = _tokens(docs, id_col, text_col).select(
        "doc_id", F.size("toks").cast("long").alias("total_tokens")
    )
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        "total_tokens",
        F.expr(
            "(coalesce(dup_tokens, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT))"
            " DIV total_tokens"
        ).alias("dup_frac_ppm"),
    )


def _measured_broadcast(df: DataFrame, width, max_bytes: int) -> DataFrame:
    """localCheckpoint ``df`` (its plan runs once — every consumer
    needs it anyway), MEASURE its unsafe-row bytes as ``sum(width)``
    observed on that same checkpoint run (no second job), and
    broadcast-hint only when ``measured * 2 <= max_bytes`` (2×
    object-overhead safety factor, the linededup r6 protocol).
    ``max_bytes <= 0`` disables: no checkpoint, no hint."""
    if max_bytes <= 0:
        return df
    obs = Observation()
    df = df.observe(obs, F.sum(width).alias("b")).localCheckpoint()
    if _observed_bytes(obs) * 2 <= max_bytes:
        return F.broadcast(df)
    return df


def _observed_bytes(obs) -> int:
    """The width sum observed on the checkpoint run; a sum over zero
    rows is NULL, which measures 0. The observation sits at the root of
    the checkpointed plan, so AQE never prunes it away (an emptied
    subtree is replaced below it) and its metrics always arrive."""
    return int(obs.get["b"] or 0)


def _unsafe_row_slot(col, dtype) -> "F.Column":
    """Per-row UnsafeRow byte width of one column: fixed-width types
    occupy their 8B slot; string/binary add the 8B-aligned payload on
    top of the offset/length slot (octet_length, not length — UTF-8)."""
    from pyspark.sql.types import BinaryType, StringType

    if isinstance(dtype, (StringType, BinaryType)):
        b = F.coalesce(F.octet_length(col), F.lit(0)).cast("long")
        return F.shiftleft(F.shiftright(b + F.lit(7), 3), 3) + F.lit(8)
    return F.lit(8).cast("long")


def _guarded_span_side(
    per_doc: DataFrame, id_type, max_bytes: int, extra_row_bytes: int
) -> DataFrame:
    """Measured-byte broadcast guard for the rebuild join's span side —
    the linededup r6 pattern applied to the r10 sf100 finding: the text
    rebuild (``base ⟕ per_doc`` on doc_id) is the DOMINANT exchange of
    span removal once the duplicate-bearing doc set outgrows the
    auto-broadcast threshold, because the non-broadcast fallback
    shuffles the ENTIRE tokenized corpus (measured 6.9 of 6.9 GB total
    at 5M docs with a 267k-doc contaminated set — SCALING.md §span-sf100).
    Realistic contamination/duplication is a small fraction of the
    corpus, so: localCheckpoint the span aggregate (the span plan's
    stages run once — every downstream plan needs them anyway), MEASURE
    its unsafe-row width on that same run (8B
    bitmap + id slot [octet-measured for string ids] + 16B array
    header + 16B per span struct + ``extra_row_bytes`` for the report's
    stat columns), and broadcast-hint only under ``max_bytes`` with the
    2× object-overhead safety factor. ``max_bytes<=0`` disables (the
    pure-lazy plan). A worst-case fully-duplicated corpus measures over
    budget and keeps the honest shuffle join."""
    width = (
        F.lit(8 + 16 + extra_row_bytes).cast("long")
        + _unsafe_row_slot(F.col("doc_id"), id_type)
        + F.size("spans").cast("long") * F.lit(16)
    )
    return _measured_broadcast(per_doc, width, max_bytes)


def span_dedup_report(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int = 2,
    hash_family: str = "md5",
    reference_keys: DataFrame | None = None,
    out_col: str = "clean_text",
    spans_broadcast_max_bytes: int = 64 * 1024 * 1024,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Stats AND removal in ONE plan: (doc_id, n_dup_spans, dup_tokens,
    total_tokens, dup_frac_ppm, clean_text) over ALL docs. The spans
    are computed once — the per-doc aggregate collects the span list
    (for the higher-order-filter cut) and the counts (for the report)
    in the SAME groupBy, so the gram shuffle, the semi-join, and the
    island merge are paid exactly once where running
    :func:`span_dedup_stats` then :func:`remove_duplicate_spans` would
    pay them twice. This is the shape a real pipeline wants anyway:
    threshold on dup_frac_ppm and keep the cleaned text of the
    survivors without a second pass. ``dup_frac_ppm`` is integer
    parts-per-million (floor division) — see :func:`span_dedup_stats`
    for why no float ratio appears in this row."""
    spans = duplicate_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_count=min_count,
        hash_family=hash_family,
        reference_keys=reference_keys,
        reference_broadcast_max_bytes=reference_broadcast_max_bytes,
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
        F.collect_list(F.struct("span_start", "span_end")).alias("spans"),
    )
    per_doc = _guarded_span_side(
        per_doc,
        docs.schema[id_col].dataType,
        spans_broadcast_max_bytes,
        extra_row_bytes=16,  # the two long stat columns
    )
    base = _tokens(docs, id_col, text_col)
    joined = base.join(per_doc, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(
            "spans", F.array().cast("array<struct<span_start:int,span_end:int>>")
        ),
    )
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    total = F.size("toks").cast("long")
    return joined.select(
        "doc_id",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        total.alias("total_tokens"),
        F.expr(
            "(coalesce(dup_tokens, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT))"
            " DIV CAST(size(toks) AS BIGINT)"
        ).alias("dup_frac_ppm"),
        F.concat_ws(" ", kept).alias(out_col),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int = 2,
    hash_family: str = "md5",
    reference_keys: DataFrame | None = None,
    out_col: str = "clean_text",
    spans_broadcast_max_bytes: int = 64 * 1024 * 1024,
    reference_broadcast_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Cut every duplicated span out of the text: (doc_id, clean_text)
    over ALL docs, clean_text = the surviving tokens re-joined with
    single spaces. The cut is a higher-order ``filter`` with the doc's
    (few) merged spans carried as an array column — per-token work is
    O(spans) inside codegen, no Python, no second explode. With
    ``reference_keys`` this is span-level DECONTAMINATION: only text
    leaked from the reference (eval) corpus is cut.
    ``spans_broadcast_max_bytes`` guards the rebuild join's span side
    (see :func:`_guarded_span_side` — at scale this join is the
    dominant exchange unless the duplicate-bearing set broadcasts)."""
    spans = duplicate_spans(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        min_count=min_count,
        hash_family=hash_family,
        reference_keys=reference_keys,
        reference_broadcast_max_bytes=reference_broadcast_max_bytes,
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    per_doc = _guarded_span_side(
        per_doc,
        docs.schema[id_col].dataType,
        spans_broadcast_max_bytes,
        extra_row_bytes=0,
    )
    base = _tokens(docs, id_col, text_col)
    joined = base.join(per_doc, "doc_id", "left").withColumn(
        "spans",
        F.coalesce(
            "spans", F.array().cast("array<struct<span_start:int,span_end:int>>")
        ),
    )
    kept = F.filter(
        "toks",
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.select("doc_id", F.concat_ws(" ", kept).alias(out_col))
