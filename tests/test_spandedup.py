"""Exact substring-span dedup (operators/spandedup.py): k-gram hit
detection, island merge (overlap AND adjacency), per-doc stats, span
removal, and hash-family equivalence on a corpus where every expected
span is hand-computable."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from bigdataproject_spark.operators.spandedup import (
    duplicate_gram_hits,
    duplicate_spans,
    remove_duplicate_spans,
    span_dedup_stats,
)

K = 4

CORPUS = [
    # d1/d2 share the 4-gram "t1 t2 t3 t4" (cross-doc, different offsets)
    (1, "t1 t2 t3 t4 u1 u2 u3 u4 u5"),
    (2, "x t1 t2 t3 t4 y z w q"),
    # shorter than k: contributes nothing
    (3, "aa bb"),
    # internal repeat: all three 4-grams are "r r r r" -> one merged span
    (4, "r r r r r r"),
    # overlap merge: hit at 0 (shared with d1/d2) and hit at 1
    # (shared with d6) -> one span [0, 5)
    (5, "t1 t2 t3 t4 t5 m n o"),
    (6, "t2 t3 t4 t5 kk ll mm qq"),
    # adjacency merge: hits at 0 (shared with d8) and 4 (shared with
    # d9), back-to-back -> one span [0, 8)
    (7, "g1 g2 g3 g4 h1 h2 h3 h4"),
    (8, "g1 g2 g3 g4 z1 z2 z3 z4"),
    (9, "y1 y2 y3 y4 h1 h2 h3 h4"),
]

EXPECTED_SPANS = {
    1: [(0, 4)],
    2: [(1, 5)],
    4: [(0, 6)],
    5: [(0, 5)],
    6: [(0, 4)],  # d6's only hit is its leading gram (no second overlap)
    7: [(0, 8)],
    8: [(0, 4)],
    9: [(4, 8)],
}

EXPECTED_CLEAN = {
    1: "u1 u2 u3 u4 u5",
    2: "x y z w q",
    3: "aa bb",
    4: "",
    5: "m n o",
    6: "kk ll mm qq",
    7: "",
    8: "z1 z2 z3 z4",
    9: "y1 y2 y3 y4",
}


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in CORPUS])


def _spans_by_doc(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    return {d: sorted(v) for d, v in out.items()}


def test_hits_and_merged_spans(docs):
    hits = duplicate_gram_hits(docs, id_col="doc_id", text_col="text", k=K)
    got_hits = {}
    for r in hits.collect():
        got_hits.setdefault(r.doc_id, set()).add(r.start)
    assert got_hits[4] == {0, 1, 2}  # internal repeat counts
    assert got_hits[1] == {0} and got_hits[2] == {1}
    assert got_hits[5] == {0, 1} and got_hits[7] == {0, 4}
    assert 3 not in got_hits  # shorter than k

    spans = duplicate_spans(docs, id_col="doc_id", text_col="text", k=K)
    assert _spans_by_doc(spans) == EXPECTED_SPANS


def test_stats_all_docs_with_zero_rows(docs):
    stats = span_dedup_stats(docs, id_col="doc_id", text_col="text", k=K)
    rows = {r.doc_id: r for r in stats.collect()}
    assert set(rows) == {i for i, _ in CORPUS}  # zero-dup docs included
    assert (rows[3].n_dup_spans, rows[3].dup_tokens, rows[3].dup_frac_ppm) == (0, 0, 0)
    assert (rows[4].dup_tokens, rows[4].total_tokens, rows[4].dup_frac_ppm) == (
        6,
        6,
        1_000_000,
    )
    assert rows[7].n_dup_spans == 1 and rows[7].dup_tokens == 8
    # integer ppm = floor((4 * 1e6) / 9), bit-identical on every engine
    assert rows[1].dup_frac_ppm == (4 * 1_000_000) // 9 == 444_444
    # conservation: dup + kept == total for every doc
    clean = {
        r.doc_id: r.clean_text
        for r in remove_duplicate_spans(
            docs, id_col="doc_id", text_col="text", k=K
        ).collect()
    }
    for i, _ in CORPUS:
        kept = len(clean[i].split(" ")) if clean[i] else 0
        assert kept + rows[i].dup_tokens == rows[i].total_tokens, i


def test_remove_duplicate_spans(docs):
    got = {
        r.doc_id: r.clean_text
        for r in remove_duplicate_spans(
            docs, id_col="doc_id", text_col="text", k=K
        ).collect()
    }
    assert got == EXPECTED_CLEAN


def test_hash_families_agree(docs):
    md5 = _spans_by_doc(
        duplicate_spans(docs, id_col="doc_id", text_col="text", k=K, hash_family="md5")
    )
    assert (
        _spans_by_doc(
            duplicate_spans(
                docs, id_col="doc_id", text_col="text", k=K, hash_family="xxhash64"
            )
        )
        == md5
    )
    for fam in ("sha9", "raw"):
        with pytest.raises(ValueError, match="hash_family"):
            duplicate_spans(
                docs, id_col="doc_id", text_col="text", k=K, hash_family=fam
            )
    with pytest.raises(ValueError, match="k must be"):
        duplicate_spans(docs, id_col="doc_id", text_col="text", k=0)


def test_min_count_threshold(spark):
    """min_count=3: a gram shared by only two docs no longer flags."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d x"),
            Row(doc_id=2, text="a b c d y"),
            Row(doc_id=3, text="a b c d z"),
            Row(doc_id=4, text="e f g h x"),
            Row(doc_id=5, text="e f g h y"),
        ]
    )
    spans = duplicate_spans(df, id_col="doc_id", text_col="text", k=4, min_count=3)
    got = _spans_by_doc(spans)
    assert set(got) == {1, 2, 3}  # the pairwise-only e-f-g-h gram drops out
    assert all(v == [(0, 4)] for v in got.values())


def test_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="")],
        "doc_id int, text string",
    )
    stats = span_dedup_stats(df, id_col="doc_id", text_col="text", k=4)
    rows = {r.doc_id: r for r in stats.collect()}
    # split('') == [''] (house convention, matches the DuckDB oracle)
    assert rows[1].total_tokens == 1 and rows[1].dup_tokens == 0
    assert rows[2].total_tokens == 1 and rows[2].dup_frac_ppm == 0


def test_reference_decontamination_mode(spark):
    """reference_keys switches the whole family to span-level
    decontamination: only text leaked from the reference corpus is
    cut, corpus-internal duplication is ignored, and a gram appearing
    ONCE in the reference still marks (min_count does not apply)."""
    from bigdataproject_spark.operators.spandedup import reference_gram_keys

    evalset = spark.createDataFrame(
        [Row(eid=1, text="q1 q2 q3 q4 answer is here")]
    )
    ref = reference_gram_keys(evalset, text_col="text", k=4)
    train = spark.createDataFrame(
        [
            # leaks the eval 4-gram "q1 q2 q3 q4" mid-doc
            Row(doc_id=1, text="intro words q1 q2 q3 q4 outro words"),
            # corpus-internal duplicate pair — must NOT be cut in this mode
            Row(doc_id=2, text="c1 c2 c3 c4 tail1"),
            Row(doc_id=3, text="c1 c2 c3 c4 tail2"),
        ]
    )
    spans = duplicate_spans(
        train, id_col="doc_id", text_col="text", k=4, reference_keys=ref
    )
    assert _spans_by_doc(spans) == {1: [(2, 6)]}

    clean = {
        r.doc_id: r.clean_text
        for r in remove_duplicate_spans(
            train, id_col="doc_id", text_col="text", k=4, reference_keys=ref
        ).collect()
    }
    assert clean == {
        1: "intro words outro words",
        2: "c1 c2 c3 c4 tail1",
        3: "c1 c2 c3 c4 tail2",
    }

    stats = {
        r.doc_id: r
        for r in span_dedup_stats(
            train, id_col="doc_id", text_col="text", k=4, reference_keys=ref
        ).collect()
    }
    assert stats[1].dup_tokens == 4 and stats[2].dup_tokens == 0

    # overlapping leaks merge exactly like corpus mode: doc leaking
    # "q1 q2 q3 q4" and "q2 q3 q4 answer" gets one merged span
    t2 = spark.createDataFrame([Row(doc_id=9, text="x q1 q2 q3 q4 answer y")])
    got = _spans_by_doc(
        duplicate_spans(t2, id_col="doc_id", text_col="text", k=4, reference_keys=ref)
    )
    assert got == {9: [(1, 6)]}


def test_reference_hash_family_mismatch_is_loud(spark):
    """An md5-keyed reference probed with xxhash64 grams would silently
    decontaminate nothing; the type guard makes it a hard error."""
    from bigdataproject_spark.operators.spandedup import reference_gram_keys

    evalset = spark.createDataFrame([Row(eid=1, text="q1 q2 q3 q4 tail")])
    ref_md5 = reference_gram_keys(evalset, text_col="text", k=4, hash_family="md5")
    train = spark.createDataFrame([Row(doc_id=1, text="a q1 q2 q3 q4 b")])
    with pytest.raises(ValueError, match="hash_family"):
        duplicate_spans(
            train,
            id_col="doc_id",
            text_col="text",
            k=4,
            hash_family="xxhash64",
            reference_keys=ref_md5,
        )


def test_reference_k_mismatch_is_loud(spark):
    """Same dtype, different k (r9 review finding): the config metadata
    stamped on the reference column catches what the dtype check can't
    — and survives the persisted index's parquet round-trip."""
    from bigdataproject_spark.operators.spandedup import reference_gram_keys

    evalset = spark.createDataFrame([Row(eid=1, text="q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")])
    ref8 = reference_gram_keys(evalset, text_col="text", k=8, hash_family="xxhash64")
    train = spark.createDataFrame([Row(doc_id=1, text="a q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 b")])
    with pytest.raises(ValueError, match="k=8"):
        duplicate_spans(
            train, id_col="doc_id", text_col="text",
            k=10, hash_family="xxhash64", reference_keys=ref8,
        )


def test_persisted_index_config_survives_roundtrip(spark, tmp_path):
    """The metadata guard keeps working through the parquet store: a
    persisted index read back and probed with the wrong k fails loudly
    even when bypassing decontaminate_spans."""
    from bigdataproject_spark.operators.spandedup import (
        load_reference_gram_index,
        write_reference_gram_index,
    )

    evalset = spark.createDataFrame([Row(eid=1, text="q1 q2 q3 q4 q5 q6 q7 q8 q9")])
    p = str(tmp_path / "idx")
    write_reference_gram_index(evalset, p, text_col="text", k=8, hash_family="xxhash64")
    keys, k, fam = load_reference_gram_index(spark, p)
    assert (k, fam) == (8, "xxhash64")
    meta = keys.schema["key"].metadata
    assert int(meta["k"]) == 8 and meta["hash_family"] == "xxhash64"
    train = spark.createDataFrame([Row(doc_id=1, text="a q1 q2 q3 q4 q5 q6 q7 q8 b")])
    with pytest.raises(ValueError, match="k=8"):
        duplicate_spans(
            train, id_col="doc_id", text_col="text",
            k=6, hash_family="xxhash64", reference_keys=keys,
        )


def test_span_dedup_report_matches_halves(docs):
    """The r10 merged report must agree column-for-column with the
    standalone stats and clean paths on the hand-computed corpus — the
    shared groupBy (span list + counts in ONE aggregate) is the only
    thing that differs, so any divergence is a merge bug."""
    from bigdataproject_spark.operators.spandedup import span_dedup_report

    rep = {
        r.doc_id: r
        for r in span_dedup_report(
            docs, id_col="doc_id", text_col="text", k=K
        ).collect()
    }
    stats = {
        r.doc_id: r
        for r in span_dedup_stats(
            docs, id_col="doc_id", text_col="text", k=K
        ).collect()
    }
    assert set(rep) == {i for i, _ in CORPUS}
    for i, _ in CORPUS:
        assert rep[i].clean_text == EXPECTED_CLEAN[i], i
        for col in ("n_dup_spans", "dup_tokens", "total_tokens", "dup_frac_ppm"):
            assert getattr(rep[i], col) == getattr(stats[i], col), (i, col)


def test_rebuild_join_broadcast_guard(docs):
    """The r10 measured-byte guard on the rebuild join: a small span
    side must enter the plan as a broadcast (the corpus never shuffles
    for the text rebuild), guard=0 must keep the pure-lazy plan with
    no broadcast hint, and both paths must return identical rows."""
    from bigdataproject_spark.operators.spandedup import span_dedup_report

    guarded = span_dedup_report(docs, id_col="doc_id", text_col="text", k=K)
    lazy = span_dedup_report(
        docs, id_col="doc_id", text_col="text", k=K,
        spans_broadcast_max_bytes=0,
    )
    gplan = guarded._jdf.queryExecution().executedPlan().toString()
    # the guarded plan's rebuild join is a broadcast join over the
    # checkpointed span aggregate (scan of an RDD, not a re-derivation)
    assert "BroadcastHashJoin" in gplan
    assert "Scan ExistingRDD" in gplan
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(guarded) == rows(lazy)
