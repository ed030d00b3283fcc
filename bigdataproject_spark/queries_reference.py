"""Reference-parity queries (SURVEY §3.1, §2.2 A2, §2.10 U1, §2.12 A7-A9)
mapped onto the driver testdata: ``events`` plays the danmaku role
(event_type→bvid, ts→time, value→score), ``documents`` plays the
text-analytics role (FIXTURES.md §B mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataproject_spark.contract import Query as _q

from bigdataproject_spark.functions.etl import clean_tag_transactions, parse_cn_count
from bigdataproject_spark.functions.scoring import tiered_score_expr
from bigdataproject_spark.functions.tokenize import DEFAULT_STOPWORDS, tokenize_expr
from bigdataproject_spark.operators.energy import bucket_energy, flag_top_pct
from bigdataproject_spark.operators.fpgrowth import mine_association_rules, mine_itemsets
from bigdataproject_spark.sources.readers import fan_out, load_table

# English-ish tier dictionary over the testdata vocabulary (the reference
# hardcodes CJK tiers at hot/spark_energy.py:39-46; the dictionary is data).
DOC_TIERS = [
    (["spark", "vector"], 5.0),
    (["fast", "merge"], 3.0),
    (["window", "stream"], 2.0),
    (["slow", "small"], 0.5),
]


def q_energy_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's high-energy pipeline (SURVEY §3.1) on
    ``events``: 10s tumbling bucket → density/sentiment agg → fused energy
    → per-event_type percent_rank → top-decile flag.

    Buckets are emitted as epoch seconds (bigint) and the window ranks over
    energy rounded to 6dp so the DuckDB oracle orders identically.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 10) * 10).cast("long")
    agg = bucket_energy(ev, key="event_type", bucket=bucket, weight=F.col("value"))
    agg = agg.withColumn("energy_r", F.round("energy", 6))
    flagged = flag_top_pct(agg, key="key", order="energy_r")
    return flagged.select(
        F.col("key").alias("event_type"),
        F.col("bucket").alias("bucket_s"),
        F.col("density"),
        F.round("sentiment", 4).alias("sentiment_r"),
        F.col("energy_r"),
        # unrounded (r11 float audit): percent_rank is (rank-1)/(n-1),
        # a single IEEE division of exact ints — bit-identical on both
        # engines; round(int-ratio, 6) was the half-boundary hazard
        F.col("rank_pct"),
        F.col("is_high"),
    )


ORACLE_ENERGY_TIMELINE = """
WITH agg AS (
  SELECT event_type,
         CAST(floor(epoch(ts)/10)*10 AS BIGINT) AS bucket_s,
         count(*) AS density,
         sum(value) AS sentiment
  FROM events GROUP BY 1, 2
), e AS (
  SELECT event_type, bucket_s, density,
         round(sentiment, 4) AS sentiment_r,
         round(0.37*sentiment + 0.63*density, 6) AS energy_r
  FROM agg
)
SELECT event_type, bucket_s, density, sentiment_r, energy_r,
       percent_rank() OVER w AS rank_pct,
       (percent_rank() OVER w) >= 0.9 AS is_high
FROM e
WINDOW w AS (PARTITION BY event_type ORDER BY energy_r)
"""


def q_tiered_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 tier-precedence scoring (hot/spark_energy.py:35-59) as a native
    when-chain over ``documents.text`` — first tier with any substring hit
    wins, god→noise order, default 1.0."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tiered_score_expr("text", DOC_TIERS).alias("score")
    )


ORACLE_TIERED_SCORE = """
SELECT doc_id,
       CAST(CASE WHEN regexp_matches(lower(text), 'spark|vector') THEN 5.0
            WHEN regexp_matches(lower(text), 'fast|merge')   THEN 3.0
            WHEN regexp_matches(lower(text), 'window|stream') THEN 2.0
            WHEN regexp_matches(lower(text), 'slow|small')   THEN 0.5
            ELSE 1.0 END AS DOUBLE) AS score
FROM documents
"""


def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O1: tokenize → explode → groupBy(word).count → top-500
    (hot/preprocess_high_energy.py:61-86), with a deterministic (freq desc,
    word asc) tiebreak the reference lacks. TakeOrderedAndProject: the
    top-k is computed per-partition then merged — no global sort.
    fan_out: the tokenize+explode runs BEFORE the groupBy shuffle, in
    the scan stage — a small local source must not serialize it onto
    one core (identity at scale; measured 22.9 s → map-parallel at a
    100× scale-up on a single-split file)."""
    # r13 (guide §4.1 — keep hot per-token work in codegen): explode
    # the RAW split and filter AFTER the Generate instead of an
    # interpreted higher-order F.filter over the token array. The
    # post-Generate WHERE is whole-stage codegen; it is the tokenizer's
    # own per-token predicate (InSet stopwords, translate numeric test —
    # tokenize._token_keep), and this measured 24.5 → 15.7 CPU-s (−36%) at
    # sf10, output bit-equal. explode_outer, not explode:
    # InferFiltersFromGenerate would otherwise push an inferred
    # size(split(...)) > 0 filter below the fan_out exchange and
    # re-evaluate the split per doc (the graph-family r12/r13 lesson);
    # the WHERE is null-rejecting, so the NULL rows outer-explode adds
    # for null/empty text drop exactly where explode dropped them.
    from bigdataproject_spark.functions.tokenize import (
        _SPLIT_PATTERN,
        DEFAULT_MIN_LEN,
        _token_keep,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), _SPLIT_PATTERN)
    tokens = docs.select(F.explode_outer(toks).alias("word")).where(
        _token_keep(F.col("word"), DEFAULT_STOPWORDS, DEFAULT_MIN_LEN, True)
    )
    return (
        tokens.groupBy("word")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), F.asc("word"))
        .limit(500)
    )


_SW = ", ".join(f"'{w}'" for w in DEFAULT_STOPWORDS)
ORACLE_WORD_COUNT = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
  FROM documents
)
SELECT word, count(*) AS frequency
FROM toks
WHERE length(word) >= 2 AND word NOT IN ({_SW})
  AND NOT regexp_matches(word, '^[0-9]+$')
GROUP BY word
ORDER BY frequency DESC, word ASC
LIMIT 500
"""


# Five fixed CJK phrases, keyed by doc_id % 5, whose forward-maximum-
# matching segmentations under the vendored dictionary
# (functions/cjk_dict.py DEFAULT_CJK_WORDS) are verified facts of the
# segmenter (asserted in tests/test_cjk_tokenize.py): between them they
# exercise greedy longest-match ("前方高能" beats its substring "高能"),
# multi-word runs, and the OOV-single-char fallback that the min_len>=2
# post-filter drops ("看", the fourth "哈", "了") — the reference's
# len<=1 rule (hot/preprocess_high_energy.py:59)."""
_CJK_PHRASES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("我们喜欢看动画", ("我们", "喜欢", "动画")),
    ("前方高能名场面", ("前方高能", "名场面")),
    ("哈哈哈哈", ("哈哈哈",)),
    ("这个故事真的有趣", ("这个", "故事", "真的", "有趣")),
    ("弹幕泪目了", ("弹幕", "泪目")),
)


def q_cjk_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 in DICTIONARY mode: the same tokenize → explode → count →
    top-500 shape as ``word_count``, but through the seam's
    ``backend="cjk-dict"`` FMM segmenter (functions/cjk_dict.py — the
    in-container stand-in for the reference's jieba dictionary phase,
    hot/preprocess_high_energy.py:40-58). The corpus is ``documents``
    with a deterministic CJK phrase (doc_id % 5) prefixed onto each
    text, so the Arrow pandas_udf segments REAL mixed Han/latin input
    and the dictionary phase decides real outputs — while the DuckDB
    oracle stays exact: the phrases' segmentations are fixed, verified
    facts (see ``_CJK_PHRASES``), so the oracle contributes them as
    literal arrays and handles the latin half with the same regex
    pipeline as ``ORACLE_WORD_COUNT``."""
    from bigdataproject_spark.functions.tokenize import get_tokenizer

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    phrase = F.element_at(
        F.array(*[F.lit(p) for p, _ in _CJK_PHRASES]),
        (F.col("doc_id") % len(_CJK_PHRASES) + 1).cast("int"),
    )
    # normalize the document half to the EXACT alphabet the oracle
    # tokenizes ([a-z0-9]) before mixing in the CJK phrase: the FMM
    # segmenter's non-Han word split is Unicode-aware (\w) while the
    # oracle splits on ASCII, so un-normalized input containing 'café'
    # or stray native Han would tokenize differently on the two sides —
    # a latent exact-oracle mismatch the synthetic corpus merely
    # happens not to trigger
    latin = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    mixed = F.concat_ws(" ", phrase, latin)
    tok = get_tokenizer(
        "cjk-dict",
        stopwords=DEFAULT_STOPWORDS,
        min_len=2,
        drop_numeric=True,
    )
    tokens = docs.select(F.explode(tok(mixed)).alias("word"))
    return (
        tokens.groupBy("word")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), F.asc("word"))
        .limit(500)
    )


def _sql_cjk_case() -> str:
    whens = "\n    ".join(
        f"WHEN {i} THEN [{', '.join(repr(w) for w in seg)}]"
        for i, (_, seg) in enumerate(_CJK_PHRASES)
    )
    return f"CASE CAST(doc_id % {len(_CJK_PHRASES)} AS INT)\n    {whens}\n    END"


ORACLE_CJK_WORD_COUNT = f"""
WITH eng AS (
  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
  FROM documents
), engf AS (
  SELECT word FROM eng
  WHERE length(word) >= 2 AND word NOT IN ({_SW})
    AND NOT regexp_matches(word, '^[0-9]+$')
), cjk AS (
  SELECT unnest({_sql_cjk_case()}) AS word
  FROM documents
), toks AS (
  SELECT word FROM engf UNION ALL SELECT word FROM cjk
)
SELECT word, count(*) AS frequency
FROM toks
GROUP BY word
ORDER BY frequency DESC, word ASC
LIMIT 500
"""


def q_word_count_seams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/O1 + U2 in ONE seam-tagged entry (r11: the r9 ANN-merge /
    r10 text-merge trick applied to the word-count family, freeing a
    registry slot for the bm25_rrf_hybrid driver row): the latin
    regex-tokenizer top-500 and the cjk-dict FMM-segmenter top-500,
    UNION ALL under a ``seam`` tag. Identical row shape, both halves
    independently hash-checked through their tagged partitions; the
    standalone queries stay alive in EXTRA_PARITY (and bench.py keeps
    timing the byte-identical standalone word_count plan, so the
    frozen headline series is uninterrupted)."""
    latin = q_word_count(spark, sf_dir).select(
        F.lit("latin").alias("seam"), "word", "frequency"
    )
    cjk = q_cjk_word_count(spark, sf_dir).select(
        F.lit("cjk-dict").alias("seam"), "word", "frequency"
    )
    return latin.unionByName(cjk)


ORACLE_WORD_COUNT_SEAMS = f"""
SELECT 'latin' AS seam, word, frequency FROM ({ORACLE_WORD_COUNT})
UNION ALL
SELECT 'cjk-dict' AS seam, word, frequency FROM ({ORACLE_CJK_WORD_COUNT})
"""


def _doc_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type baskets — the testdata analogue of the
    reference's tag transactions (tag/main.py:55: split tag string →
    array).

    NOTE deliberately NOT document-token transactions: the synthetic docs
    share a ~30-word vocabulary, so nearly every word co-occurs with every
    other in most docs and FP-Growth's output would be all 2^k subsets of
    the common vocabulary — a combinatorial explosion. Market-basket
    semantics need sparse transactions; the (user, day → set of event
    types) basket is the right shape (≤5 items/basket, sizes 1-5 at
    sf0.01 — per-user-lifetime baskets degenerate to all 5 types)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    return ev.groupBy("user_id", day).agg(
        F.array_sort(F.collect_set("event_type")).alias("items")
    )


def q_freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A9: FP-Growth frequent itemsets (tag/main.py:187-191) over
    (user, day) event-type baskets; minSupport 0.05 as the reference.

    Items emitted as a '|'-joined STRING (not array<string>): the driver
    canonicalizer sorts the pandas frame by every column and list-valued
    cells make ``sort_values`` throw "unhashable type: 'list'".

    Hash-checked: baskets hold ≤5 distinct event types, so an exact DuckDB
    oracle enumerates every non-empty subset per basket (≤31) via bitmask
    and counts — Spark's minCount is ceil(minSupport·N), mirrored in the
    HAVING."""
    tx = _doc_transactions(spark, sf_dir)
    sets = mine_itemsets(tx, items_col="items", min_support=0.05)
    return sets.select(
        F.array_join(F.array_sort("items"), "|").alias("items"), F.col("freq")
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: association rules with confidence & lift (tag/main.py:194);
    minConfidence 0.3. Antecedent/consequent as '|'-joined strings (driver
    canonicalizer can't sort list cells). Hash-checked against an exact
    DuckDB oracle: rules are (frequent itemset minus one item → that
    item); confidence = freq(union)/freq(antecedent), lift =
    confidence/(freq(consequent)/N), and apriori guarantees both sides'
    freqs exist in the frequent set."""
    tx = _doc_transactions(spark, sf_dir)
    rules = mine_association_rules(
        tx, items_col="items", min_support=0.05, min_confidence=0.3
    )
    return rules.select(
        F.array_join(F.array_sort("antecedent"), "|").alias("antecedent"),
        F.array_join(F.array_sort("consequent"), "|").alias("consequent"),
        # unrounded (r11 float audit): MLlib computes confidence =
        # freq(union)/freq(antecedent), lift = confidence /
        # (freq(consequent)/N), support = freq(union)/N — the exact
        # division trees the oracle replays, so the doubles are
        # bit-identical cross-engine; round(ratio-of-ints, 6) was the
        # half-boundary hazard (the r10 span-dedup failure class)
        F.col("confidence"),
        F.col("lift"),
        F.col("support"),
    )


# Shared exact-oracle scaffolding: (user, day) baskets, bitmask subset
# enumeration (≤5 items → ≤31 non-empty subsets per basket), Spark's
# minCount = ceil(minSupport · numBaskets) mirrored in the HAVING.
_FPM_CTES = """
WITH tx AS (
  SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
         list_sort(list(DISTINCT event_type)) AS items
  FROM events GROUP BY 1, 2
),
n AS (SELECT count(*) AS total FROM tx),
m AS (SELECT items, unnest(range(1, 1 << len(items))) AS mask FROM tx),
sub AS (
  SELECT list_filter(items, (x, i) -> ((mask >> (i - 1)) & 1) = 1) AS subset
  FROM m
),
freq AS (
  SELECT subset, count(*) AS freq FROM sub GROUP BY subset
  HAVING count(*) >= ceil(0.05 * (SELECT total FROM n))
)
"""

ORACLE_FREQ_ITEMSETS = _FPM_CTES + """
SELECT array_to_string(subset, '|') AS items, freq
FROM freq ORDER BY freq DESC, items
"""

ORACLE_ASSOC_RULES = _FPM_CTES + """,
cand AS (
  SELECT f.subset AS its, f.freq AS union_freq, unnest(f.subset) AS c
  FROM freq f WHERE len(f.subset) >= 2
),
rule AS (
  SELECT list_filter(its, x -> x != c) AS antecedent, c, union_freq FROM cand
)
SELECT array_to_string(r.antecedent, '|') AS antecedent,
       r.c AS consequent,
       CAST(r.union_freq AS DOUBLE) / fa.freq AS confidence,
       (CAST(r.union_freq AS DOUBLE) / fa.freq)
             / (CAST(fc.freq AS DOUBLE) / n.total) AS lift,
       CAST(r.union_freq AS DOUBLE) / n.total AS support
FROM rule r
JOIN freq fa ON fa.subset = r.antecedent
JOIN freq fc ON fc.subset = [r.c]
CROSS JOIN n
WHERE CAST(r.union_freq AS DOUBLE) / fa.freq >= 0.3
ORDER BY lift DESC, antecedent, consequent
"""






def q_tag_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tag pipeline's cleaning ETL (tag/main.py:52-57): parse
    "1.2万"-style follower counts (F11: regexp_extract × unit CASE WHEN),
    split comma tags into transactions, cast ratings, compound filter.
    Messy inputs are built deterministically from documents via
    integer-only string concat so both engines parse byte-identical
    strings."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_expr("text", stopwords=(), min_len=1, drop_numeric=False)
    d = F.col("doc_id")
    raw = docs.select(
        "doc_id",
        F.when(
            d % 2 == 0,
            F.concat(
                (d % 90 + 10).cast("string"),
                F.lit("."),
                (d % 10).cast("string"),
                F.lit("万"),
            ),
        )
        .otherwise((d * 13).cast("string"))
        .alias("followers_raw"),
        F.concat_ws(",", F.slice(toks, 1, 3)).alias("tags_raw"),
        F.concat(
            (d % 9 + 1).cast("string"), F.lit("."), (d % 10).cast("string")
        ).alias("rating_raw"),
    )
    cleaned = clean_tag_transactions(
        raw, tags_col="tags_raw", rating_col="rating_raw", exclude_words=("the",)
    )
    return cleaned.select(
        "doc_id",
        F.round(parse_cn_count("followers_raw"), 1).alias("follows"),
        F.size("tags_arr").alias("n_tags"),
        F.round("rating", 1).alias("rating"),
    )


ORACLE_TAG_ETL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS toks
  FROM documents
), raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN concat(CAST(doc_id % 90 + 10 AS VARCHAR), '.',
                          CAST(doc_id % 10 AS VARCHAR), '万')
              ELSE CAST(doc_id * 13 AS VARCHAR) END AS followers_raw,
         array_to_string(toks[1:3], ',') AS tags_raw,
         concat(CAST(doc_id % 9 + 1 AS VARCHAR), '.',
                CAST(doc_id % 10 AS VARCHAR)) AS rating_raw
  FROM t
), clean AS (
  SELECT doc_id, followers_raw,
         list_filter(string_split(tags_raw, ','), x -> x != '') AS tags_arr,
         TRY_CAST(rating_raw AS DOUBLE) AS rating
  FROM raw
)
SELECT doc_id,
       round(CASE WHEN contains(followers_raw, '万')
             THEN TRY_CAST(regexp_extract(followers_raw,
                  '([0-9]+\.?[0-9]*)', 1) AS DOUBLE) * 10000
             ELSE TRY_CAST(regexp_extract(followers_raw,
                  '([0-9]+\.?[0-9]*)', 1) AS DOUBLE) END, 1) AS follows,
       len(tags_arr) AS n_tags,
       round(rating, 1) AS rating
FROM clean
WHERE len(tags_arr) > 0 AND rating IS NOT NULL
  AND NOT list_contains(tags_arr, 'the')
"""

REFERENCE_QUERIES = {
    "energy_timeline": _q(q_energy_timeline, ORACLE_ENERGY_TIMELINE),
    "tiered_score": _q(q_tiered_score, ORACLE_TIERED_SCORE),
    # r11: word_count + cjk_word_count consolidated into one
    # seam-tagged entry (driver's 50-entry cap — the freed slot is
    # bm25_rrf_hybrid's standing driver row); standalones live on in
    # EXTRA_PARITY and bench.py's headline list.
    "word_count_seams": _q(q_word_count_seams, ORACLE_WORD_COUNT_SEAMS),
    "tag_etl_transactions": _q(q_tag_etl, ORACLE_TAG_ETL),
    "freq_itemsets": _q(q_freq_itemsets, ORACLE_FREQ_ITEMSETS),
    "assoc_rules": _q(q_assoc_rules, ORACLE_ASSOC_RULES),
}
