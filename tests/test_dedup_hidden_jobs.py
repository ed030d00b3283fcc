"""The text-dedup operators' Spark-job budget and the span byte guard.

* Exact build and run job counts of a MinHash-LSH call on the collapse
  path, and the build job count of a span report, so an eager action or
  a recomputed intermediate reintroduced into either fails a test.
* A cached shuffle product (the LSH band rows) holds the partitions AQE
  coalesced it to, not ``spark.sql.shuffle.partitions`` of them.
* A NULL id pairs with nothing on either collapse branch.
* The span guard's byte count, observed on its checkpoint job, equals
  the aggregate over the checkpoint that it replaced (kept only here),
  and the guard's 2x boundary holds at both of its call sites.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataproject_spark.operators import spandedup
from bigdataproject_spark.operators.dedup import (
    _DEDUP_CACHES,
    minhash_lsh_dedup_pairs,
    portable_hashed_shingles,
    release_dedup_caches,
)
from bigdataproject_spark.operators.spandedup import (
    reference_gram_keys,
    span_dedup_report,
)

TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight",
    "red green blue cyan magenta yellow black white",
    "alpha beta gamma delta epsilon zeta eta iota",
]
SPAN_KW = dict(id_col="doc_id", text_col="text", k=3)


def _dup_heavy(spark):
    """4 texts x 4 exact copies (distinct share 0.25: the collapse
    path), the first and last text near-duplicates of each other."""
    rows = [(i * 10 + c, t) for i, t in enumerate(TEXTS) for c in range(4)]
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "sh", portable_hashed_shingles(F.split("text", " "), 3)
    )


def _minhash(df):
    return minhash_lsh_dedup_pairs(
        df, id_col="doc_id", shingles_col="sh", threshold=0.5
    )


def test_minhash_collapse_job_budget(spark, count_jobs):
    df = _dup_heavy(spark)
    release_dedup_caches(spark)
    pairs, build = count_jobs(lambda: _minhash(df))
    # the collapse gate's one aggregate over the (id, shingles) cache:
    # 1 cache fill, 1 partial-aggregate map stage, 1 final result
    assert build == 3
    rows, run = count_jobs(pairs.collect)
    # 2 keyed-cache fills (the rep aggregate and the rep join each scan
    # it; the second fill waits on the first's blocks); 1 map stage of
    # the (min id, member ids) aggregate; 1 broadcast for the rep join;
    # 2 rep-cache fills (the in-group expansion and the band-row plan
    # each scan it); 1 signature map stage; 2 band-row cache fills (the
    # two sides of the band self-join); 5 broadcasts (the band self-join,
    # the verify's two shingle lookups, the two member-id lookups);
    # 1 result stage
    assert run == 15
    # 4 groups of 4 copies: 6 in-group pairs each, plus 4 x 4 pairs
    # between the near-duplicate first and last texts (Jaccard 5/7)
    assert len(rows) == 4 * 6 + 16
    assert sum(1 for r in rows if r.jaccard == 1.0) == 24


def test_cached_band_rows_are_coalesced(spark):
    """The persisted band rows come from the signature shuffle; AQE may
    coalesce a cached plan's output partitions (a session default), so
    the cache holds fewer partitions than spark.sql.shuffle.partitions."""
    df = _dup_heavy(spark)
    release_dedup_caches(spark)
    _minhash(df).collect()
    cached = _DEDUP_CACHES[id(spark.sparkContext)]
    band_rows = next(
        f for f in cached if f.columns == ["id", "band_id", "band_hash"]
    )
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_partitions > 1
    assert band_rows.rdd.getNumPartitions() < shuffle_partitions
    release_dedup_caches(spark)


def test_null_id_never_pairs_on_either_branch(spark, monkeypatch):
    """A NULL id pairs with nothing, on the collapse path as on the
    direct one (whose joins compare ids with ``<``)."""
    from bigdataproject_spark.operators import dedup

    rows = [(i * 10 + c, t) for i, t in enumerate(TEXTS) for c in range(2)]
    rows += [(None, TEXTS[0]), (None, TEXTS[3])]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "sh", portable_hashed_shingles(F.split("text", " "), 3)
    )
    got, keyed = {}, {}
    # the gate takes the direct path when d >= ratio * n
    for branch, ratio in (("direct", -1.0), ("collapse", 2.0)):
        monkeypatch.setattr(dedup, "COLLAPSE_DISTINCT_RATIO", ratio)
        release_dedup_caches(spark)
        got[branch] = sorted(tuple(r) for r in _minhash(df).collect())
        # only the collapse path caches the keyed (id, obj, k) frame
        keyed[branch] = any(
            f.columns == ["id", "obj", "k"]
            for f in _DEDUP_CACHES.get(id(spark.sparkContext), [])
        )
    assert keyed == {"direct": False, "collapse": True}
    assert got["collapse"] == got["direct"]
    assert all(
        a is not None and b is not None and a < b for a, b, _ in got["direct"]
    )
    # 4 in-group pairs, and 2 x 2 between the near-duplicate texts
    assert len(got["direct"]) == 4 + 4


def _span_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c d e x y"),
            (3, "p q r s"),
            (4, "x y z w q r s"),
        ],
        "doc_id long, text string",
    )


def test_span_report_build_job_budget(spark, count_jobs):
    docs = _span_docs(spark)
    rep, build = count_jobs(lambda: span_dedup_report(docs, **SPAN_KW))
    # the span guard's checkpoint runs the span plan once: 1 gram-count
    # map stage, 1 gram-row map stage, 1 broadcast of the duplicated
    # keys, 1 hits map stage (doc_id exchange for the island windows),
    # 1 checkpoint job with the byte width observed on it
    assert build == 5
    assert len(rep.collect()) == 4


class _GuardProbe:
    """Records every measured guard call: its input, its width, its
    budget, the bytes the checkpoint observed, and whether it hinted."""

    def __init__(self, monkeypatch):
        self.calls = []
        real_measured, real_observed = (
            spandedup._measured_broadcast,
            spandedup._observed_bytes,
        )

        def measured(df, width, max_bytes):
            call = {"df": df, "width": width, "max_bytes": max_bytes}
            self.calls.append(call)
            out = real_measured(df, width, max_bytes)
            plan = out._jdf.queryExecution().analyzed().toString()
            call["hinted"] = "ResolvedHint" in plan
            return out

        def observed(obs):
            b = real_observed(obs)
            self.calls[-1]["observed"] = b
            return b

        monkeypatch.setattr(spandedup, "_measured_broadcast", measured)
        monkeypatch.setattr(spandedup, "_observed_bytes", observed)

    def measured(self):
        return [c for c in self.calls if c["max_bytes"] > 0]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _boundary(monkeypatch, build):
    """``build(budget)`` builds a report whose one measured guard gets
    ``budget``. The observed bytes equal the aggregate over the
    checkpointed side; 2 x measured broadcasts, one byte less declines,
    and both plans return the same rows."""
    probe = _GuardProbe(monkeypatch)
    build(1 << 30)
    (call,) = probe.measured()
    # the measurement the observation replaced: an aggregate job over
    # the checkpointed side
    stored = call["df"].localCheckpoint()
    want = stored.agg(F.sum(call["width"]).alias("b")).collect()[0]["b"]
    assert call["observed"] == want > 0
    probe.calls.clear()
    fits = build(2 * want)
    over = build(2 * want - 1)
    assert [c["hinted"] for c in probe.measured()] == [True, False]
    assert _rows(fits) == _rows(over)
    return _rows(fits)


def test_span_side_guard_boundary(spark, monkeypatch):
    docs = _span_docs(spark)
    rows = _boundary(
        monkeypatch,
        lambda budget: span_dedup_report(
            docs, **SPAN_KW, spans_broadcast_max_bytes=budget
        ),
    )
    lazy = span_dedup_report(docs, **SPAN_KW, spans_broadcast_max_bytes=0)
    assert rows == _rows(lazy)
    assert [r[-1] for r in rows] == ["f g", "x y", "p", "x y z w"]


def test_reference_keys_guard_boundary(spark, monkeypatch):
    docs = _span_docs(spark)
    ref = reference_gram_keys(
        spark.createDataFrame([("c d e",), ("q r s",)], "text string"),
        text_col="text",
        k=3,
    )
    rows = _boundary(
        monkeypatch,
        lambda budget: span_dedup_report(
            docs,
            **SPAN_KW,
            reference_keys=ref,
            reference_broadcast_max_bytes=budget,
            spans_broadcast_max_bytes=0,
        ),
    )
    assert [r[-1] for r in rows] == ["a b f g", "a b x y", "p", "x y z w"]


def test_guards_on_empty_sides_measure_zero(spark, monkeypatch):
    """No duplicated span and a reference with no k-gram: both guarded
    sides are empty, observe 0 bytes and broadcast."""
    probe = _GuardProbe(monkeypatch)
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g h")], "doc_id long, text string"
    )
    ref = reference_gram_keys(
        spark.createDataFrame([("a b",)], "text string"), text_col="text", k=3
    )
    rows = _rows(span_dedup_report(docs, **SPAN_KW, reference_keys=ref))
    assert [(c["observed"], c["hinted"]) for c in probe.measured()] == [(0, True)] * 2
    assert [r[-1] for r in rows] == ["a b c d", "e f g h"]
