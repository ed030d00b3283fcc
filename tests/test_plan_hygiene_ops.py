"""Plan hygiene for the composite library ops that live OUTSIDE the
query registry (corpus funnel, redaction) — same gates as
test_plan_hygiene.py: no CartesianProduct, no row-at-a-time Python.

connected_components is excluded: it is iterative with driver-bounded
convergence probes, so a single static plan does not describe it; its
per-round building blocks (groupBy min + equi-join) are shapes already
pinned elsewhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataproject_spark.operators.corpus import clean_corpus, corpus_funnel
from bigdataproject_spark.operators.redact import pii_counts, redact_expr


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, sf_dir):
    from bigdataproject_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
    )
    return docs.withColumn("tokens", tokens)


def test_funnel_plan_no_cartesian_no_python(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    for df in (
        corpus_funnel(docs, near_dup=False),
        clean_corpus(docs, near_dup=False),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan


def test_linededup_plan_no_cartesian_no_python(spark, sf_dir):
    from bigdataproject_spark.operators.linededup import dedup_lines

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    for kf in (False, True):
        plan = _plan(dedup_lines(docs, keep_first=kf))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        # the keep-first mark is a pre-aggregated min(struct), never a
        # per-key window: one boilerplate line occurring 10^9 times must
        # not become a single-task sort (r3 verdict hazard #2)
        assert "Window" not in plan
        # r6 measured guard: on this (small) corpus the counted hot set
        # fits the budget, so the hot-side broadcast hint MUST be
        # present — without it, past the static autoBroadcast threshold
        # the exploded corpus (with line text) shuffles by line key
        # against a few-thousand-row hot set (the 10x rehearsal's
        # 4.4 MB -> 809 MB plan transition, guaranteed at 100 TB).
        logical = (
            dedup_lines(docs, keep_first=kf)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "strategy=broadcast" in logical
        # ... but an UNconditioned pin stays banned (r3 hazard #1: with
        # min_count=2 a web-scale hot set can be billions of rows).
        # guard off = the r5 pure-lazy shape: no checkpoint, no hint —
        # the choice is left to AQE's runtime sizes.
        logical_off = (
            dedup_lines(docs, keep_first=kf, hot_broadcast_max_bytes=0)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "strategy=broadcast" not in logical_off
        # guard on but measured size over budget: falls back to the
        # un-hinted shuffle join (the billions-of-hot-lines path). Needs
        # a corpus with a guaranteed-nonempty hot set — an EMPTY hot set
        # measures 0 bytes and is (correctly) broadcast even at budget 1.
        hot_docs = docs.sparkSession.createDataFrame(
            [(1, "banner\na"), (2, "banner\nb")], "doc_id long, text string"
        )
        logical_over = (
            dedup_lines(hot_docs, keep_first=kf, hot_broadcast_max_bytes=1)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "strategy=broadcast" not in logical_over


def test_hot_lines_count_is_combinable(spark, sf_dir):
    """The hot-line aggregate's shuffle must carry partial
    (map-side-combined) aggregates — count and min both reduce before
    the exchange."""
    from bigdataproject_spark.operators.linededup import _hot_stats, dedup_lines

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plan = _plan(_hot_stats(docs, id_col="doc_id", text_col="text", min_count=2))
    assert "partial_count" in plan
    # guard-off build: with the measured guard on, the hot aggregation
    # runs at construction (localCheckpoint) and the final plan shows a
    # checkpointed scan instead of the aggregate — the combinable shape
    # is asserted on the lazy plan, which is the same aggregation the
    # checkpoint job executes.
    plan = _plan(
        dedup_lines(docs, keep_first=True, hot_broadcast_max_bytes=0)
    )
    assert "partial_count" in plan and "partial_min" in plan


def test_chunking_zero_shuffle(spark, sf_dir):
    """chunk_documents is one generate in the scan stage — any Exchange
    means a 100 TB chunk pass started shuffling the corpus."""
    from bigdataproject_spark.operators.chunking import chunk_documents

    docs = _docs(spark, sf_dir)
    plan = _plan(chunk_documents(docs, chunk_tokens=64, overlap=8))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_packing_single_exchange(spark, sf_dir):
    """pack_sequences: ONE hash exchange (on the shard column). The
    (shard, pack) position window must reuse the shard partitioning —
    hashpartitioning(shard) satisfies ClusteredDistribution(shard,
    pack), so a second exchange appearing means Catalyst stopped
    recognizing that and the op silently doubled its shuffle cost."""
    from bigdataproject_spark.operators.chunking import chunk_documents
    from bigdataproject_spark.operators.packing import pack_sequences

    docs = _docs(spark, sf_dir)
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8).withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    packed = pack_sequences(
        chunks, shard_col="shard", order_cols=["doc_id", "chunk_id"],
        target_tokens=512,
    )
    plan = _plan(packed)
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_ivf_blas_corpus_stays_in_place(spark, sf_dir, tmp_path):
    """ivf_topk_indexed(impl='blas'): the corpus must NOT shuffle — the
    matmul runs inside the scan stage (one MapInPandas directly over
    the pruned corpus read) and the only hash exchange is the tiny
    candidate-ranking window. A cogroup-shaped regression here moves
    n_probe/n_centroids of the corpus per batch (terabytes at scale)."""
    import re

    from bigdataproject_spark.operators.simsearch import (
        ivf_topk_indexed,
        ivf_write_index,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_idx")
    ivf_write_index(emb, idx, id_col="vec_id", vec_col="embedding", n_centroids=8)
    plan = _plan(
        ivf_topk_indexed(
            spark, idx, emb.limit(50), id_col="vec_id", vec_col="embedding",
            k=5, n_probe=2, impl="blas",
        )
    )
    assert plan.count("MapInPandas") == 1
    assert "FlatMapCoGroupsInPandas" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_training_shards_single_exchange(spark, sf_dir):
    """write_training_shards' plan: exactly one repartition exchange
    (the content-keyed shard assignment), nothing else."""
    from bigdataproject_spark.sources.writers import training_shard_plan

    docs = _docs(spark, sf_dir)
    plan = _plan(training_shard_plan(docs, key_col="doc_id", n_shards=8))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_redact_is_single_map_projection(spark, sf_dir):
    """Redaction + counts must stay one shuffle-free codegen'd map pass
    — the whole point of the regexp-chain design."""
    docs = _docs(spark, sf_dir)
    out = docs.select(
        "doc_id",
        redact_expr("text").alias("red"),
        *[c.alias(n) for n, c in pii_counts("text").items()],
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_ivf_append_assignment_single_exchange_no_join(spark, sf_dir, tmp_path):
    """r6: the append's assignment plan is a pure map-side projection
    (literal-centroid argmin — no join against a centroid table, no
    shuffle of the delta except the ONE clustered-write exchange), so
    a corpus delta costs its own scan plus one delta-sized shuffle."""
    from bigdataproject_spark.operators.simsearch import (
        _collect_index_centroids,
        assign_cell_struct_expr,
        ivf_write_index,
    )
    from bigdataproject_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "idx")
    ivf_write_index(
        emb.filter(F.col("vec_id") % 2 == 0), idx,
        id_col="vec_id", vec_col="embedding", n_centroids=8,
    )
    from bigdataproject_spark.operators.versioned import table_read_dir

    ctrs = _collect_index_centroids(
        spark, idx, table_read_dir(spark, idx, "cells")
    )
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    assigned = delta.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("_vd"),
    ).select(
        "neighbor_id", assign_cell_struct_expr("_vd", ctrs).alias("_a")
    )
    plan = _plan(assigned)
    # the assignment itself: zero joins, zero exchanges, zero Python
    for marker in (
        "Join", "Exchange", "CartesianProduct", "BatchEvalPython",
        "MapInPandas", "ArrowEvalPython",
    ):
        assert marker not in plan, marker
    # the write path adds exactly ONE exchange (the cell/salt clustering)
    clustered = (
        assigned.select("neighbor_id", F.col("_a.cell").alias("cell"))
        .withColumn("_salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(4)))
        .repartition(F.col("cell"), F.col("_salt"))
    )
    wplan = _plan(clustered)
    assert wplan.count("Exchange") == 1


def test_spandedup_plan_hygiene(spark, sf_dir):
    """Span dedup (r9): exactly TWO hash exchanges — gram key (combinable
    count) and doc_id (island windows) — and the duplicate-only filter
    ahead of the doc_id exchange; no cartesian, no Python, and the
    closing groupBy(doc_id, island) rides the window's partitioning
    instead of adding a third shuffle (see PLANS.md)."""
    import re

    from bigdataproject_spark.operators.spandedup import (
        remove_duplicate_spans,
        span_dedup_report,
        span_dedup_stats,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    for df in (
        span_dedup_stats(docs, id_col="doc_id", text_col="text", k=8),
        remove_duplicate_spans(docs, id_col="doc_id", text_col="text", k=8),
        # the r10 merged report must pay the SAME two exchanges as either
        # standalone half — that single shared plan is its entire point
        span_dedup_report(docs, id_col="doc_id", text_col="text", k=8),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_spandedup_decontam_plan_hygiene(spark, sf_dir):
    """Decontamination mode drops the count aggregate: at most ONE hash
    exchange (the doc_id island windows — the reference side broadcasts
    at this size), still no cartesian, no Python."""
    import re

    from bigdataproject_spark.operators.spandedup import (
        reference_gram_keys,
        remove_duplicate_spans,
    )
    from pyspark.sql import functions as F2

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kh = F2.substring(F2.md5(F2.col("doc_id").cast("string")), 1, 2)
    ref = reference_gram_keys(docs.where(kh < "0d"), text_col="text", k=8)
    plan = _plan(
        remove_duplicate_spans(
            docs.where(kh >= "0d"),
            id_col="doc_id",
            text_col="text",
            k=8,
            reference_keys=ref,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
