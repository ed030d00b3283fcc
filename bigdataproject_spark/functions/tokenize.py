"""Tokenization — rebuild of reference UDF U2 (pluggable backend).

Reference semantics (hot/preprocess_high_energy.py:40-61, ``seg_text``):
jieba CJK segmentation, then drop stopwords (28-word set), tokens of
length<=1, and pure-numeric tokens; null → [].

Backends:
  * ``regex`` (default): native ``F.split`` on non-word boundaries —
    stays in codegen, correct for whitespace-delimited text (the driver's
    testdata documents are space-separated). This is the scale path.
  * ``jieba``: Arrow-batched pandas_udf wrapping jieba for CJK; only
    registered if the library is importable (it is not baked into this
    container — SURVEY §7.4.1 tokenizer-determinism risk). Never a
    row-at-a-time Python UDF.

The stopword list and min length are parameters, applied as native
``F.filter`` on the token array in both backends so the filter logic is
identical and codegen'd.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# English-ish analogue of the reference's 28-word CJK stopword set
# (hot/preprocess_high_energy.py:46-58); injected as data.
DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "this", "that", "was", "for", "on", "are", "as", "with", "at", "be",
)

_SPLIT_PATTERN = r"[^\p{L}\p{N}]+"  # split on any non letter/digit run


def _post_filter(
    tokens: Column, stopwords: Sequence[str], min_len: int, drop_numeric: bool
) -> Column:
    # r13 (per-token constant factors — HOF lambdas run interpreted, so
    # every per-token op counts; same receipt class as the textstats
    # isin swap): stopwords via ``isin`` (OptimizeIn rewrites >10
    # literals to an O(1) InSet hash probe; ``array_contains`` scanned
    # the 20-literal array per token) and the pure-numeric test via
    # ``translate`` (deletes ASCII digits; empty result ⟺ ^[0-9]+$ —
    # no regex matcher per token). Value-identical: min_len >= 1
    # excludes the empty token before the numeric test either way, and
    # split() never yields NULL elements. sf10 CPU receipt for the
    # word-count shape: 24.5 → 22.7-23.4 CPU-s from this alone (the
    # post-explode restructure in q_word_count stacks on top).
    if min_len < 1:
        # min_len 0 would keep the empty token, which the translate
        # numeric test drops but '^[0-9]+$' (the oracle's) keeps
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    cond = lambda t: (  # noqa: E731
        (F.length(t) >= min_len)
        & (~t.isin(*stopwords) if stopwords else F.lit(True))
        & (
            (F.translate(t, "0123456789", "") != F.lit(""))
            if drop_numeric
            else F.lit(True)
        )
    )
    return F.filter(tokens, cond)


def tokenize_expr(
    text: Column | str,
    *,
    stopwords: Sequence[str] = DEFAULT_STOPWORDS,
    min_len: int = 2,
    drop_numeric: bool = True,
    lowercase: bool = True,
) -> Column:
    """array<string> tokens via the native regex backend.

    Equivalent oracle SQL (DuckDB)::

        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    t -> len(t) >= 2 AND t NOT IN (...) AND NOT regexp_matches(t, '^[0-9]+$'))
    """
    col = F.col(text) if isinstance(text, str) else text
    if lowercase:
        col = F.lower(col)
    tokens = F.split(col, _SPLIT_PATTERN)
    filtered = _post_filter(tokens, stopwords, min_len, drop_numeric)
    return F.coalesce(filtered, F.array())  # null text → []


def cjk_bigram_tokens(
    text: Column | str,
    *,
    stopwords: Sequence[str] = (),
) -> Column:
    """CJK fallback tokenizer: character bigrams over Han runs + intact
    non-CJK words (SURVEY §7.4.1 — without jieba, whitespace splitting is
    wrong for CJK; bigrams are the standard dictionary-free stand-in and
    MUST be kept clearly separated from jieba-mode outputs in any golden
    comparison, since word counts differ by construction).

    Native expressions only: Han runs via ``regexp_extract_all``, bigram
    expansion via nested ``transform`` + ``flatten``.
    """
    col = F.col(text) if isinstance(text, str) else text
    runs = F.regexp_extract_all(col, F.lit(r"[\p{IsHan}]+"), 0)
    bigrams = F.flatten(
        F.transform(
            runs,
            # len>=2 → sliding bigrams at offsets 1..len-1; len==1 → the
            # single char itself (sequence(1,1) + substr(1,2) == the char)
            lambda run: F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(run) - 1, F.lit(1))),
                lambda i: run.substr(i, F.lit(2)),
            ),
        )
    )
    latin = F.filter(
        F.split(F.lower(col), r"[^\p{L}\p{N}]+"),
        lambda t: (t != "") & ~t.rlike(r"[\p{IsHan}]"),
    )
    toks = F.array_distinct(F.concat(bigrams, latin))
    if stopwords:
        sw = F.array(*[F.lit(s) for s in stopwords])
        toks = F.filter(toks, lambda t: ~F.array_contains(sw, t))
    return F.coalesce(toks, F.array())


def get_tokenizer(
    backend="regex",
    *,
    stopwords: Sequence[str] = (),
    min_len: int = 1,
    drop_numeric: bool = False,
    lowercase: bool = True,
    bpe_merges=None,
    cjk_words: Sequence[str] | None = None,
):
    """Injectable tokenizer seam: returns ``Column|str -> Column``
    (array<string> tokens) so every token-consuming stage — chunking,
    packing budgets, token counts — is tokenizer-agnostic (the chunk/
    pack math consumes token ARRAYS and never re-tokenizes; proven in
    tests/test_tokenizer_seam.py).

    ``backend`` is one of:
      * ``"regex"`` — native split (:func:`tokenize_expr`); the codegen
        scale path and the deterministic default, unchanged;
      * ``"cjk-bigram"`` — dictionary-free CJK fallback
        (:func:`cjk_bigram_tokens`);
      * ``"cjk-dict"`` — pure-Python forward-maximum-matching
        dictionary segmenter (functions/cjk_dict.py; the in-container
        stand-in for jieba's dictionary phase — deterministic, Arrow
        pandas_udf, vendored default word list). Pass ``cjk_words`` to
        segment with your own dictionary (e.g. a domain alias table's
        keys); OOV Han falls back to single chars, which min_len>=2
        then drops like the reference's len<=1 rule;
      * ``"jieba"`` — import-gated Arrow pandas_udf
        (:func:`jieba_tokenize_udf`; raises ImportError without the
        library — same gate pattern);
      * ``"bpe"`` — deterministic pure-Python subword BPE
        (functions/bpe.py; public Sennrich-2016 algorithm, vendored
        default merge table) as an Arrow pandas_udf — pack budgets
        measured in MODEL-ish subword tokens instead of regex words;
        pass ``bpe_merges`` to use your own learned table;
      * any CALLABLE ``Column -> Column`` — bring-your-own tokenizer:
        e.g. an Arrow pandas_udf wrapping a real BPE vocabulary, so
        pack budgets measure true context-window fill instead of regex
        tokens. Passed through verbatim (never a row-at-a-time UDF by
        construction of the seam's contract — document yours).
    """
    if callable(backend):
        return lambda c: backend(F.col(c) if isinstance(c, str) else c)
    if backend == "regex":
        return lambda c: tokenize_expr(
            c,
            stopwords=stopwords,
            min_len=min_len,
            drop_numeric=drop_numeric,
            lowercase=lowercase,
        )
    if backend == "cjk-bigram":
        # The SAME native post-filter as the regex backend, so the
        # min_len/drop_numeric/stopword policy holds across backends
        # (Han bigrams are caseless; the latin half is lowercased inside
        # cjk_bigram_tokens, matching lowercase=True — an explicit
        # lowercase=False is the one knob this backend cannot honor).
        if not lowercase:
            raise ValueError(
                "get_tokenizer: the 'cjk-bigram' backend always lowercases "
                "its latin tokens; lowercase=False is not supported"
            )
        return lambda c: F.coalesce(
            _post_filter(
                cjk_bigram_tokens(c), stopwords, min_len, drop_numeric
            ),
            F.array(),
        )
    if backend == "cjk-dict":
        from bigdataproject_spark.functions.cjk_dict import (
            cjk_dict_tokenize_udf,
        )

        # raw segmentation from the UDF; the SAME native post-filter as
        # the regex/cjk-bigram backends applies the policy, so
        # min_len/drop_numeric/stopwords behave identically across
        # backends (the seam's contract).
        seg = cjk_dict_tokenize_udf(cjk_words, lowercase=lowercase)
        return lambda c: F.coalesce(
            _post_filter(
                seg(F.col(c) if isinstance(c, str) else c),
                stopwords,
                min_len,
                drop_numeric,
            ),
            F.array(),
        )
    if backend == "jieba":
        udf = jieba_tokenize_udf(
            stopwords=stopwords,
            min_len=min_len,
            drop_numeric=drop_numeric,
            lowercase=lowercase,
        )
        return lambda c: udf(F.col(c) if isinstance(c, str) else c)
    if backend == "bpe":
        from bigdataproject_spark.functions.bpe import bpe_tokenize_udf

        udf = bpe_tokenize_udf(
            bpe_merges,
            stopwords=stopwords,
            min_len=min_len,
            drop_numeric=drop_numeric,
            lowercase=lowercase,
        )
        return lambda c: udf(F.col(c) if isinstance(c, str) else c)
    raise ValueError(
        f"get_tokenizer: unknown backend {backend!r} (expected 'regex', "
        "'cjk-bigram', 'cjk-dict', 'jieba', 'bpe', or a callable)"
    )


def token_count_expr(text: Column | str, *, tokenizer=None) -> Column:
    """int token count of ``text`` under any seam tokenizer (default:
    the raw regex backend). ``F.size`` of the token array — whatever
    produced the array, the count math is the same; this is the column
    pack budgets and quality stats should share."""
    tok = tokenizer or get_tokenizer("regex")
    return F.size(tok(text))


def jieba_tokenize_udf(
    *,
    stopwords: Sequence[str] = (),
    min_len: int = 2,
    drop_numeric: bool = True,
    lowercase: bool = False,
):
    """Arrow-batched pandas_udf CJK tokenizer; raises ImportError without jieba.

    Kept out of the default path: jieba output varies by version/dict
    (SURVEY §7.4.1), so golden tests must be tokenizer-tagged.
    ``lowercase`` defaults OFF here (reference parity — seg_text never
    case-folds); :func:`get_tokenizer` passes its own flag through so
    the seam's policy is honored.
    """
    import jieba  # noqa: F401  (gated import; not in this container)
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    sw = set(stopwords)

    @pandas_udf("array<string>")
    def _seg(s: pd.Series) -> pd.Series:
        def seg_one(t):
            if not t:
                return []
            out = []
            for tok in jieba.lcut(t):
                tok = tok.strip()
                if lowercase:
                    tok = tok.lower()
                if len(tok) < min_len or tok in sw:
                    continue
                if drop_numeric and tok.isdigit():
                    continue
                out.append(tok)
            return out

        return s.map(seg_one)

    return _seg
