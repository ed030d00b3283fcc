"""Text analysis operators (north-star ops): language-ID, quality scoring,
token counting, document fingerprinting. All native expressions — these run
per-row inside the scan stage with zero shuffles, which is exactly what a
100TB corpus pass needs (pure map, parallel by input split).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigdataproject_spark.functions.tokenize import DEFAULT_STOPWORDS, tokenize_expr

# Marker-word language profiles (n-gram-heuristic stand-in; real corpora
# would use charset ranges + frequent-word profiles per language).
DEFAULT_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "los", "una"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def lang_scores(tokens: Column | str, markers: Mapping[str, Sequence[str]]) -> Column:
    """struct of per-language marker-hit counts over a token array.

    One cheap union-set prefilter, then the per-language counts run
    over the (much smaller) hit array (r13): the old shape ran one
    interpreted filter pass over EVERY token per language; the union
    prefilter is a single InSet probe per token (>10 literals →
    OptimizeIn hash set) and marker hits are a minority of tokens, so
    5×full-pass becomes 1×full + 5×small. sf10 CPU receipt: 35.0–35.8
    → 24.5–26.3 CPU-s for the lang-id projection, values identical
    (tokens outside every marker set score for no language either
    way). The fold-style single-pass variant (one aggregate over a
    5-int struct accumulator) measured 330 CPU-s — ~9× WORSE: per
    element, F.aggregate rebuilds the accumulator struct interpreted,
    which is exactly the cost class this module keeps out of hot
    kernels. Do not re-walk."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    union = sorted({w for ws in markers.values() for w in ws})
    hits = F.filter(t, lambda x: x.isin(*union))
    fields = []
    for lang, words in markers.items():
        arr = F.array(*[F.lit(w) for w in words])
        fields.append(
            F.size(F.filter(hits, lambda x: F.array_contains(arr, x))).alias(lang)
        )
    return F.struct(*fields)


def lang_id_expr(
    tokens: Column | str,
    markers: Mapping[str, Sequence[str]] | None = None,
    default: str = "und",
) -> Column:
    """Predicted language = argmax marker hits (ties → lexicographic first
    language key order as declared; zero hits → ``default``).

    Implemented as a greatest-of chain so the whole thing stays one
    codegen'd projection."""
    markers = DEFAULT_LANG_MARKERS if markers is None else markers
    scores = lang_scores(tokens, markers)
    langs = list(markers)

    # Let-bind the score struct: the argmax fold references each running
    # best twice per step, so building it directly over the raw count
    # expressions duplicates the token-filter passes ~2^n_langs times
    # (when() branches are excluded from codegen CSE — measured 20s for
    # 50k docs at 10× scale, ~3s bound). Inside the lambda each s[lang]
    # is a cheap field extraction of the once-evaluated struct.
    def _argmax(s: Column) -> Column:
        best, best_cnt = F.lit(langs[0]), s[langs[0]]
        for lang in langs[1:]:
            gt = s[lang] > best_cnt
            best = F.when(gt, F.lit(lang)).otherwise(best)
            best_cnt = F.when(gt, s[lang]).otherwise(best_cnt)
        return F.when(best_cnt > 0, best).otherwise(F.lit(default))

    return F.element_at(F.transform(F.array(scores), _argmax), 1)


def quality_features(text: Column | str, tokens: Column | str) -> dict[str, Column]:
    """Quality-scoring feature set (length / punctuation / stopword ratios
    — the classic C4/Gopher-style filters).

    Constant-factor engineering (HOFs evaluate interpreted, so per-token
    work inside lambdas is the cost center; measured at sf0.1, noop
    sink): the stopword test is ``isin`` — OptimizeIn rewrites >10
    literals to an O(1) hash-set InSet, where ``array_contains`` on a
    literal array scanned all 20 stopwords per token (−0.13 s); mean
    token length sums lengths via one ``concat_ws`` (codegen, one pass)
    instead of an interpreted per-token ``aggregate`` fold (−0.03 s);
    punctuation is ``regexp_count`` (counts matches) instead of a
    ``regexp_replace`` that materialized the stripped string just to
    length it. All three are value-identical to the originals (same
    counts, same pattern), so oracle hashes are unchanged.

    Cross-engine float discipline (r11): the ratio columns are emitted
    UNROUNDED. Each is a single IEEE-754 division of two exact
    integers, which every engine computes bit-identically — whereas
    ``round(ratio, n)`` is the hazard: a ratio of small integers can
    land exactly on a decimal half-boundary (e.g. 1/128 at 6dp), where
    Spark's BigDecimal HALF_UP and another engine's
    multiply-round-divide legitimately differ in the last bit (the r10
    span-dedup driver hash failure class)."""
    s = F.col(text) if isinstance(text, str) else text
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n_chars = F.length(s)
    n_tokens = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: x.isin(*DEFAULT_STOPWORDS)))
    n_punct = F.regexp_count(s, F.lit(r"[^\w\s]"))
    mean_tok_len = F.when(
        n_tokens > 0,
        F.length(F.concat_ws("", t)) / n_tokens,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": mean_tok_len,
        "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens).otherwise(
            F.lit(0.0)
        ),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(
            F.lit(0.0)
        ),
    }


def repetition_features(tokens: Column | str) -> dict[str, Column]:
    """Gopher-style repetition signals over the token array (Rae et al.
    2021 §A1.1 repetition filters, re-expressed for word-soup docs) —
    both pure map-stage expressions, zero shuffles:

      * ``dup_token_ratio``: 1 − distinct/total tokens — how much of the
        doc is repeated vocabulary;
      * ``top_bigram_ratio``: occurrences of the modal word 2-gram over
        all 2-gram positions — the "most common n-gram fraction" filter.

    The modal-bigram count needs a per-doc mode; instead of an
    explode→groupBy (a shuffle per doc-token), the 2-grams are
    ``array_sort``-ed and the longest equal-run is read off — O(n log n)
    per row inside the scan stage, so the operator stays a pure map at
    100 TB.

    r13 kernel: the run length is computed with NATIVE collection/string
    ops, not an ``aggregate`` fold — sf10 CPU decomposition showed the
    interpreted per-element struct fold was ~170 of the feature set's
    ~200 CPU-s (and a fold-based lang-id rewrite measured 9× WORSE than
    filter passes — F.aggregate is the most expensive HOF per element;
    keep it out of hot kernels). Shape: one ``zip_with`` hashes each
    neighbor pair directly (``xxhash64(x, y)`` — no separate
    whole-array token-hash pass), ``array_sort`` groups equal bigrams,
    a second cheap ``zip_with`` emits an 'a'/'b' neighbor-equality mark
    string, and the longest 'a'-run is ``split``-on-'b' →
    ``array_sort`` → last element (all-'a' strings sort by length) →
    ``length`` + 1. sf10 receipt: 157–178 → 105–107 CPU-s, values
    identical. ``dup_token_ratio`` now counts distinct TOKENS directly
    (``array_distinct`` is a native op; the old pre-hash pass bought
    nothing once the fold was gone) — that is exactly what the DuckDB
    oracle computes (``list_distinct(toks)``), so the hash-collision
    caveat moves to the bigram side only (equality classes merge on an
    in-doc xxhash64(x, y) collision, ~n²/2⁶⁵ per doc — the same
    accepted trade as ``dedup.hashed_word_shingles``)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(t)
    dup_ratio = F.when(
        n > 0, 1.0 - F.size(F.array_distinct(t)) / n
    ).otherwise(F.lit(0.0))

    m = F.greatest(n - 1, F.lit(0))
    sorted_bg = F.array_sort(
        F.zip_with(
            F.slice(t, 1, m),
            F.slice(t, 2, m),
            lambda x, y: F.xxhash64(x, y),
        )
    )
    mb = F.greatest(F.size(sorted_bg) - 1, F.lit(0))
    marks = F.array_join(
        F.zip_with(
            F.slice(sorted_bg, 1, mb),
            F.slice(sorted_bg, 2, mb),
            lambda x, y: F.when(x == y, F.lit("a")).otherwise(F.lit("b")),
        ),
        "",
    )
    longest_a = F.length(F.element_at(F.array_sort(F.split(marks, "b", -1)), -1))
    max_run = F.when(F.size(sorted_bg) > 0, longest_a + F.lit(1)).otherwise(
        F.lit(0)
    )
    top_bigram = F.when(n >= 2, max_run / (n - 1)).otherwise(F.lit(0.0))
    # unrounded on purpose — single int-ratio divisions are bit-exact
    # cross-engine; round() is the half-boundary hazard (r11 audit)
    return {
        "dup_token_ratio": dup_ratio,
        "top_bigram_ratio": top_bigram,
    }


def quality_score_expr(feats: Mapping[str, Column]) -> Column:
    """Integer centi-score in [0, 100]: length in range (+40), some
    stopwords (+30), low punctuation (+30) — a deterministic weighted
    blend of the features, emitted as BIGINT so the column carries no
    float at all (r11 audit: the old ``round(0.4a + 0.3b + 0.3c, 4)``
    double coupled the hash to both engines' literal-arithmetic types
    and rounding; integer weights are engine-proof — the
    energy_approx_flag deterministic-binning discipline). Threshold at
    50 where the old [0,1] score thresholded at 0.5."""
    len_ok = (
        F.when((feats["n_tokens"] >= 10) & (feats["n_tokens"] <= 100000), 1)
        .otherwise(0)
    )
    stop_ok = F.when(feats["stopword_ratio"] >= 0.01, 1).otherwise(0)
    punct_ok = F.when(feats["punct_ratio"] <= 0.2, 1).otherwise(0)
    return (40 * len_ok + 30 * stop_ok + 30 * punct_ok).cast("long")


# BPE-ish pretokenizer regex (GPT-2 style contractions/words/numbers/other),
# shared between the Spark expression and the DuckDB oracle (both RE2/Java
# compatible for this subset).
BPEISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_counts(text: Column | str) -> dict[str, Column]:
    """Whitespace token count + BPE-ish pretoken count (north-star token
    counting)."""
    s = F.col(text) if isinstance(text, str) else text
    ws = F.size(F.filter(F.split(s, r"\s+"), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(s, F.lit(BPEISH_PATTERN), 0))
    return {"n_ws_tokens": ws.cast("long"), "n_bpe_tokens": bpe.cast("long")}


def fingerprint_expr(tokens: Column | str, head: int = 64) -> Column:
    """Content fingerprint: md5 over the first ``head`` normalized tokens —
    prefix-stable (whitespace/punctuation-insensitive) doc identity."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.md5(F.concat_ws(" ", F.slice(t, 1, head)))


def winnowing_fingerprints(
    tokens: Column | str, *, k: int = 5, window: int = 4
) -> Column:
    """Winnowing fingerprint set (Schleimer et al., SIGMOD'03): k-gram
    hashes, min per sliding window, distinct mins — robust partial-overlap
    detection.

    K-gram hashes are portable 48-bit values (first 12 hex chars of md5,
    parsed — ``dedup.portable_hash48``), computable verbatim in DuckDB,
    so the fingerprint set is cross-engine hash-checkable. The result is
    array<bigint>: numeric window-mins over 8-byte cells replaced the
    earlier lexicographic mins over 32-char hex strings (measured 23.7 s
    → 9 s for the oracled query at 50k docs). K-grams are built with a
    zip_with concat chain over k slices, not a per-index ``slice`` copy
    (HOFs evaluate interpreted, so each array copy costs)."""
    from bigdataproject_spark.operators.dedup import portable_hash48

    t = F.col(tokens) if isinstance(tokens, str) else tokens
    m = F.greatest(F.size(t) - (k - 1), F.lit(0))
    kg_strings = F.slice(t, 1, m)
    for i in range(1, k):
        kg_strings = F.zip_with(
            kg_strings,
            F.slice(t, i + 1, m),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    kgram_hashes = F.transform(kg_strings, portable_hash48)
    empty_t = "array<bigint>"

    # Let-bind the kgram hash array: referencing the raw expression from
    # each window slice would re-evaluate the FULL k-gram hashing once
    # per window (O(n²) hashes — measured 187s for 50k docs at 10× scale;
    # 4.5s after binding). transform(array(x), kg -> body) evaluates x
    # once per row and binds it to kg.
    def _windows(kg: Column) -> Column:
        # window minima as a least() zip_with chain over `window` slices —
        # same trick as the k-gram stage, one array copy per offset
        # instead of a slice copy per window position.
        n_windows = F.greatest(F.size(kg) - window + 1, F.lit(0))
        mins = F.slice(kg, 1, n_windows)
        for i in range(1, window):
            mins = F.zip_with(
                mins, F.slice(kg, i + 1, n_windows), lambda x, y: F.least(x, y)
            )
        return F.when(
            F.size(kg) > 0,
            F.array_distinct(
                F.when(n_windows > 0, mins).otherwise(F.array(F.array_min(kg)))
            ),
        ).otherwise(F.array().cast(empty_t))

    return F.element_at(F.transform(F.array(kgram_hashes), _windows), 1)


def line_repetition_features(text: Column | str) -> dict[str, Column]:
    """Gopher LINE-level repetition filters (Rae et al. 2021 Table A1:
    "duplicate line fraction" and "duplicate line character fraction")
    — the per-document boilerplate signals every LLM corpus pipeline
    thresholds on, complementing the corpus-level removal in
    operators/linededup.py and the token-level signals in
    :func:`repetition_features`. Pure map-stage array expressions,
    zero shuffle at any scale.

    Semantics pinned for the oracle: lines split on ``\\r\\n?|\\n``;
    blank/whitespace-only lines are excluded (a run of empty lines is
    formatting, not boilerplate — the same normalization linededup's
    hot-line key applies); duplicate matching is EXACT line equality
    (Gopher's definition — no lowercasing, unlike the corpus-level
    dedup key). ``dup_line_char_frac`` counts the characters of every
    occurrence beyond a line's first — computed as
    (total_chars − distinct_chars) without any per-occurrence
    bookkeeping. Ratios are unrounded single int/int divisions — the
    bit-exact-cross-engine value class (r11 float audit; PLANS.md)."""
    t = F.col(text) if isinstance(text, str) else text
    return line_repetition_from_lines(F.split(t, r"\r\n?|\n"))


def line_repetition_from_lines(raw_lines: Column) -> dict[str, Column]:
    """:func:`line_repetition_features` over an ALREADY-SPLIT line
    array. This is the canonical computation; the text variant is just
    ``from_lines(split(text))``. Callers that construct lines
    synthetically (e.g. the re-lined oracle query in
    queries_pipeline.py) MUST use this form rather than joining with
    '\\n' and re-splitting — a token containing an embedded CR/LF would
    otherwise split into extra lines on the Spark side only, silently
    diverging from an oracle that counts one line per constructed
    slice (r12 review finding, repro'd with "aa\\nbb" inside a
    token)."""
    lines = F.filter(raw_lines, lambda x: F.trim(x) != F.lit(""))
    uniq = F.array_distinct(lines)

    def _chars(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )

    n = F.size(lines).cast("long")
    nd = F.size(uniq).cast("long")
    tc = _chars(lines)
    dc = _chars(uniq)
    return {
        "n_lines": n,
        "n_dup_lines": (n - nd).cast("long"),
        "dup_line_frac": F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0)),
        "dup_line_char_frac": F.when(tc > 0, (tc - dc) / tc).otherwise(
            F.lit(0.0)
        ),
    }
