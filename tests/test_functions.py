"""Unit tests for the native-expression rebuilds of the reference UDFs
(SURVEY §2.10 U1/U2/U3) — tier precedence, entity set semantics, pair
generation, tokenizer filters."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataproject_spark.functions.entities import (
    extract_entities_expr,
    pair_combinations_expr,
)
from bigdataproject_spark.functions.scoring import tiered_score_expr
from bigdataproject_spark.functions.tokenize import tokenize_expr

TIERS = [
    (["god"], 5.0),
    (["high"], 3.0),
    (["mid"], 2.0),
    (["noise"], 0.5),
]


def _scores(spark, texts):
    df = spark.createDataFrame([Row(text=t) for t in texts])
    return [
        r[0]
        for r in df.select(tiered_score_expr("text", TIERS)).collect()
    ]


def test_tier_precedence(spark):
    # A text containing both a noise word and a god word scores the god
    # weight (hot/spark_energy.py:48-55) — first *tier* wins, not first hit.
    assert _scores(spark, ["noise and god here"]) == [5.0]
    assert _scores(spark, ["only noise"]) == [0.5]
    assert _scores(spark, ["mid then high"]) == [3.0]


def test_tier_default_null_empty(spark):
    # null/empty → default 1.0 (hot/spark_energy.py:36)
    assert _scores(spark, ["", "nothing matches"]) == [1.0, 1.0]
    df = spark.createDataFrame([Row(text=None)], "text string")
    assert df.select(tiered_score_expr("text", TIERS)).collect()[0][0] == 1.0


def test_tier_case_folding(spark):
    assert _scores(spark, ["GOD MODE"]) == [5.0]


ALIASES = {"hanli": "HanLi", "han li": "HanLi", "nangong": "NanGong", "mo": "Mo"}


def test_entity_extraction_set_semantics(spark):
    df = spark.createDataFrame(
        [
            Row(text="hanli meets han li"),  # two aliases, one canonical
            Row(text="nangong and hanli and mo"),
            Row(text="nobody"),
            Row(text=None),
        ],
        "text string",
    )
    out = [
        sorted(r[0])
        for r in df.select(extract_entities_expr("text", ALIASES)).collect()
    ]
    assert out[0] == ["HanLi"]
    assert out[1] == ["HanLi", "Mo", "NanGong"]
    assert out[2] == []
    assert out[3] == []


def test_pair_combinations(spark):
    df = spark.createDataFrame([Row(ents=["c", "a", "b"])])
    pairs = df.select(F.explode(pair_combinations_expr("ents")).alias("p")).select(
        "p.src", "p.dst"
    )
    got = sorted((r.src, r.dst) for r in pairs.collect())
    # sorted pairs, src < dst, C(3,2)=3
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]


def test_pair_combinations_edge_cases(spark):
    df = spark.createDataFrame(
        [Row(ents=["only"]), Row(ents=[])], "ents array<string>"
    )
    n = df.select(F.explode(pair_combinations_expr("ents"))).count()
    assert n == 0  # <2 entities → no pairs (reference emits none either)


def test_tokenize_filters(spark):
    df = spark.createDataFrame([Row(text="The cat, CAT! 42 a x runs fast")])
    toks = df.select(tokenize_expr("text")).collect()[0][0]
    # lowercased, stopword 'the'/'a' dropped, len<2 dropped, numeric dropped
    assert toks == ["cat", "cat", "runs", "fast"]


def test_tokenize_rejects_min_len_below_one():
    import pytest

    for bad in (0, -1):
        with pytest.raises(ValueError, match="min_len must be >= 1"):
            tokenize_expr("text", min_len=bad)


def test_word_count_plan_equals_inline_filter(spark, sf_dir):
    """q_word_count's optimized plan is the plan of the inline token
    filter it used before taking the predicate from tokenize.py (kept
    here as the reference), attribute ids aside."""
    import re

    from bigdataproject_spark.functions.tokenize import (
        _SPLIT_PATTERN,
        DEFAULT_STOPWORDS,
    )
    from bigdataproject_spark.queries_reference import q_word_count
    from bigdataproject_spark.sources.readers import fan_out, load_table

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), _SPLIT_PATTERN)
    inline = (
        docs.select(F.explode_outer(toks).alias("word"))
        .where(
            (F.length("word") >= 2)
            & ~F.col("word").isin(*DEFAULT_STOPWORDS)
            & (F.translate("word", "0123456789", "") != F.lit(""))
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), F.asc("word"))
        .limit(500)
    )

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#", text)

    assert "explode" in plan(inline)
    assert plan(q_word_count(spark, sf_dir)) == plan(inline)


def test_tokenize_null(spark):
    df = spark.createDataFrame([Row(text=None)], "text string")
    assert df.select(tokenize_expr("text")).collect()[0][0] == []


def test_winnowing_short_docs(spark):
    """Docs with 0..k-1 tokens must yield an empty fingerprint set, not
    throw (Spark 4: sequence(1, n<=0) is descending and slice(t, 0, k)
    raises INVALID_PARAMETER_VALUE.START without the k-gram guard)."""
    from bigdataproject_spark.operators.textstats import winnowing_fingerprints

    k = 5
    rows = [Row(tokens=["w"] * n) for n in range(k)]  # 0..k-1 tokens
    rows.append(Row(tokens=[f"t{i}" for i in range(k)]))  # exactly k
    rows.append(Row(tokens=[f"t{i}" for i in range(3 * k)]))  # long doc
    df = spark.createDataFrame(rows, "tokens array<string>")
    got = df.select(
        F.size("tokens").alias("n"),
        winnowing_fingerprints("tokens", k=k, window=4).alias("fp"),
    ).collect()
    for r in got:
        if r.n < k:
            assert r.fp == [], f"{r.n}-token doc should have empty fp"
        else:
            assert len(r.fp) >= 1, f"{r.n}-token doc should have fingerprints"


def test_oracle_compare_none_safe(spark):
    """compare() must order rows containing NULLs (left-join outputs)
    instead of raising TypeError on None < int."""
    from bigdataproject_spark.oracle import compare

    df = spark.createDataFrame(
        [Row(k="a", v=None), Row(k="b", v=3)], "k string, v int"
    )
    problems = compare(df, ["k", "v"], [("a", None), ("b", 3)])
    assert problems == []
    # and a genuine mismatch still reports rather than crashes
    problems = compare(df, ["k", "v"], [("a", 1), ("b", None)])
    assert problems


def test_cube_equals_grouping_sets(spark, sf_dir):
    """The .cube() API produces the same rows as the explicit
    grouping-sets enumeration used by the grouping_sets_orders query
    (cube is a grouping-sets macro)."""
    from bigdataproject_spark.queries_extended import q_grouping_sets
    from bigdataproject_spark.sources.readers import load_table

    od = load_table(spark, sf_dir, "orders")
    via_cube = (
        od.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
    )
    a = sorted(map(tuple, via_cube.collect()))
    b = sorted(map(tuple, q_grouping_sets(spark, sf_dir).collect()))
    assert a == b
