"""Reader safety DURING compaction — the r8 versioned layout's core
promise (operators/versioned.py): an external search service (IVF) or
batch probe (dedup index) that reads INSIDE the compaction swap window
never errors and never sees torn state. The windows are hook-injected
by wrapping ``publish_version`` (the pointer flip + GC step, imported
function-locally by both compactors): the hook reads ONCE right before
the flip (next generation complete on disk, pointer still naming the
old one) and once right after (pointer flipped, superseded generations
GC'd to the grace copy) — the two instants the pre-versioned
rename-aside layout could not survive. A third case proves the
one-generation GRACE window: a scan plan resolved BEFORE a compaction
still collects correctly AFTER it (the superseded generation lives
until the NEXT compaction's GC), and the mid-flip pointer-less fallback
resolves to the newest complete generation.
"""

from __future__ import annotations

import pytest

import glob
import os

from pyspark.sql import functions as F

from bigdataproject_spark.operators import versioned
from bigdataproject_spark.operators.dedup import hashed_word_shingles
from bigdataproject_spark.operators.dedup_index import (
    compact_index,
    incremental_minhash_pairs,
    write_minhash_index,
)
from bigdataproject_spark.operators.simsearch import (
    ivf_append_index,
    ivf_compact_index,
    ivf_index_drift,
    ivf_topk_indexed,
    ivf_write_index_from_centroids,
    sample_centroids,
)
from bigdataproject_spark.operators.versioned import table_read_dir
from bigdataproject_spark.sources.readers import load_table


def _hooked_publish(reader_assert, seen):
    """A publish_version wrapper that runs ``reader_assert(table)``
    immediately before AND after the real flip — the two sides of the
    swap window."""
    real = versioned.publish_version

    def hook(spark, path, table, version, prev_live):
        reader_assert(f"pre-flip:{table}")
        real(spark, path, table, version, prev_live)
        reader_assert(f"post-flip:{table}")
        seen.append(table)

    return hook


@pytest.mark.slow
def test_ivf_search_inside_compaction_swap_never_errors(
    spark, sf_dir, tmp_path, monkeypatch
):
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    delta = emb.filter(F.col("vec_id") % 3 == 1)
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    ivf_append_index(
        delta, idx, id_col="vec_id", vec_col="embedding", guard_ids=True
    )

    def _search():
        return [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(
                spark, idx, queries, id_col="vec_id", vec_col="embedding",
                k=5, n_probe=8,
            ).collect()
        ]

    expected = _search()
    drift_before = ivf_index_drift(spark, idx)

    def reader_assert(where):
        # the search service's poll — full resolve + scan + rank
        assert _search() == expected, where
        # and the drift monitor's poll (a pure reader since r8)
        d = ivf_index_drift(spark, idx)
        assert d["n_indexed_at_build"] == drift_before["n_indexed_at_build"], where
        assert d["n_appended_total"] == drift_before["n_appended_total"], where

    seen: list[str] = []
    monkeypatch.setattr(
        versioned, "publish_version", _hooked_publish(reader_assert, seen)
    )
    ivf_compact_index(spark, idx)
    assert seen == ["cells", "stats"]  # both swaps actually exercised
    monkeypatch.undo()
    assert _search() == expected


def test_ivf_grace_window_and_pointerless_fallback(
    spark, sf_dir, tmp_path
):
    """A scan resolved BEFORE a compaction collects fine AFTER it (the
    superseded generation survives one cycle); with the pointer file
    deleted (the non-atomic fallback's mid-flip instant) resolution
    falls through to the newest complete generation."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    pre_dir = table_read_dir(spark, idx, "cells")
    pre_plan = spark.read.parquet(pre_dir)
    n = pre_plan.count()

    ivf_compact_index(spark, idx)
    assert table_read_dir(spark, idx, "cells") != pre_dir
    assert pre_plan.count() == n  # grace copy still on disk
    assert os.path.isdir(pre_dir)

    # mid-flip fallback: no pointer -> newest complete generation
    os.remove(f"{idx}/cells.version")
    d = table_read_dir(spark, idx, "cells")
    assert glob.glob(f"{d}/_SUCCESS")
    assert spark.read.parquet(d).count() == n
    # a second compaction heals the pointer; because it ran POINTER-LESS
    # it cannot prove the legacy dir was already superseded, so the
    # legacy grace extends one conservative cycle (r8: a pointer-less
    # publish treats itself as the table's first) — the THIRD compaction
    # collects it.
    ivf_compact_index(spark, idx)
    assert os.path.isfile(f"{idx}/cells.version")
    assert os.path.isdir(pre_dir)  # conservative extra grace
    ivf_compact_index(spark, idx)
    assert not os.path.isdir(pre_dir)


@pytest.mark.slow
def test_dedup_probe_inside_compaction_swap_never_errors(
    spark, tmp_path, monkeypatch
):
    def _docs(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tokens = F.filter(
            F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
        )
        return df.withColumn("shingles", hashed_word_shingles(tokens, 3))

    base = (
        "the story begins when the old sailor and the young cook set out "
        "to sea because the harbor is empty and the wind is fair for travel"
    )
    stored = _docs(
        [
            (1, base),
            (2, "completely different content about spark query engines "
                "and their adaptive execution of shuffles joins and "
                "aggregates at scale with columnar storage and readers"),
        ]
    )
    probe = _docs(
        [
            (21, base + " tonight"),  # near-dup of stored 1
            (22, "totally novel musings on cartography and the projection "
                 "of coastlines onto flat maps with careful attention to "
                 "distortion near the poles and the equator alike"),
        ]
    )
    idx = str(tmp_path / "idx")
    write_minhash_index(
        stored, idx, id_col="doc_id", shingles_col="shingles"
    )

    def _pairs():
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"], r["vs_index"])
            for r in incremental_minhash_pairs(
                spark, probe, idx,
                id_col="doc_id", shingles_col="shingles", threshold=0.8,
            ).collect()
        )

    expected = _pairs()
    assert expected  # the probe really finds the stored near-dup

    def reader_assert(where):
        assert _pairs() == expected, where

    seen: list[str] = []
    monkeypatch.setattr(
        versioned, "publish_version", _hooked_publish(reader_assert, seen)
    )
    compact_index(spark, idx)
    # shingles snapshots/publishes FIRST (the membership table must be
    # the one that can lose a racing append's rows — see the ordering
    # argument in dedup_index._compact_index_leased)
    assert seen == ["shingles", "bands"]
    monkeypatch.undo()
    assert _pairs() == expected


def test_rebuild_pairs_centroids_with_generation(spark, sf_dir, tmp_path):
    """The r8 pairing contract: every generation carries its
    ``_centroids`` copy, and searches, appends, drift, and compaction
    all resolve the quantizer from the SAME directory as the cells —
    no centroid table lives anywhere else under the index root."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    delta = emb.filter(F.col("vec_id") % 3 == 1)
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    cells_dir = table_read_dir(spark, idx, "cells")
    assert os.path.isdir(f"{cells_dir}/_centroids")  # paired copy exists
    # ... and is INVISIBLE to the cells scan (underscore prefix)
    assert "ctr" not in spark.read.parquet(cells_dir).columns

    def _search():
        return [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(
                spark, idx, queries, id_col="vec_id", vec_col="embedding",
                k=5, n_probe=8,
            ).collect()
        ]

    assert not os.path.exists(f"{idx}/centroids")
    rep = ivf_append_index(
        delta, idx, id_col="vec_id", vec_col="embedding", guard_ids=True
    )
    assert rep["n_appended"] == delta.count()
    ivf_compact_index(spark, idx)  # carries _centroids to the new gen
    new_dir = table_read_dir(spark, idx, "cells")
    assert new_dir != cells_dir
    assert os.path.isdir(f"{new_dir}/_centroids")
    assert ivf_index_drift(spark, idx)["n_appended_total"] == delta.count()


@pytest.mark.slow
def test_search_inside_rebuild_swap_never_errors_or_mixes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A REBUILD (new quantizer!) publishing mid-search: a reader at
    any swap instant must see either the complete OLD index or the
    complete NEW one — never old cells with new centroids or a missing
    path. The search binds (quantizer, partitioning) from one resolved
    generation (simsearch._centroids_dir), so every in-window read
    equals one of the two consistent results."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    grown = emb.filter(F.col("vec_id") % 3 != 2)
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    ctrs_old = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=4
    )
    ctrs_new = sample_centroids(
        grown, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs_old, id_col="vec_id", vec_col="embedding"
    )
    ivf_compact_index(spark, idx)  # versioned layout from here on

    def _search():
        return [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(
                spark, idx, queries, id_col="vec_id", vec_col="embedding",
                k=5, n_probe=99,  # full probe: quantizer-independent rank
            ).collect()
        ]

    old = _search()
    # the rebuilt index's expected full-probe results, from a twin
    twin = str(tmp_path / "twin")
    ivf_write_index_from_centroids(
        grown, twin, ctrs_new, id_col="vec_id", vec_col="embedding"
    )
    new = [
        (r.q_id, r.rank, r.neighbor_id, r.cosine)
        for r in ivf_topk_indexed(
            spark, twin, queries, id_col="vec_id", vec_col="embedding",
            k=5, n_probe=99,
        ).collect()
    ]

    def reader_assert(where):
        got = _search()
        assert got in (old, new), where  # consistent snapshot, no mix

    seen: list[str] = []
    monkeypatch.setattr(
        versioned, "publish_version", _hooked_publish(reader_assert, seen)
    )
    ivf_write_index_from_centroids(
        grown, idx, ctrs_new, id_col="vec_id", vec_col="embedding"
    )
    assert "cells" in seen
    monkeypatch.undo()
    assert _search() == new


def test_rebuild_refuses_foreign_lease(spark, sf_dir, tmp_path):
    """Rebuilds are full rewrites and must respect the single-writer
    lease: a rebuild racing a lease-holding compaction would target the
    same next generation and tear its files."""
    import pytest

    from bigdataproject_spark.operators.lease import LeaseHeldError

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=4
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    with open(f"{idx}/_writer.lock", "w") as fh:
        fh.write("somebody-else")
    with pytest.raises(LeaseHeldError):
        ivf_write_index_from_centroids(
            seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
        )

    docs = spark.createDataFrame(
        [(1, ["a", "b", "c"])], "doc_id long, shingles array<string>"
    )
    didx = str(tmp_path / "didx")
    write_minhash_index(docs, didx, id_col="doc_id", shingles_col="shingles")
    with open(f"{didx}/_writer.lock", "w") as fh:
        fh.write("somebody-else")
    with pytest.raises(LeaseHeldError):
        write_minhash_index(
            docs, didx, id_col="doc_id", shingles_col="shingles"
        )


def test_compaction_sweeps_late_band_appends(spark, tmp_path, monkeypatch):
    """The lease-TOCTOU straggler: an append whose bands write lands
    AFTER compaction's bands snapshot. The late-file sweep must fold
    those rows into the generation being published — without it the
    rows die with the superseded generation while their shingle
    membership survives, the unhealable recall hole."""
    docs = spark.createDataFrame(
        [
            (1, [11, 12, 13, 14]),
            (2, [21, 22, 23, 24]),
        ],
        "doc_id long, shingles array<bigint>",
    )
    idx = str(tmp_path / "idx")
    write_minhash_index(docs, idx, id_col="doc_id", shingles_col="shingles")

    real_tot = versioned.table_overwrite_target
    injected = {"done": False}

    def hooked_tot(spark_, path_, table_, **kw):
        if table_ == "bands" and not injected["done"]:
            injected["done"] = True
            # the racing append: new band rows for doc 999 land in the
            # live dir AFTER the snapshot was taken
            live = table_read_dir(spark_, path_, "bands")
            late = spark.createDataFrame(
                [(999, b, "1|2|3|4") for b in range(8)],
                "id long, band_id int, band_hash string",
            )
            late.coalesce(1).write.mode("append").parquet(live)
        return real_tot(spark_, path_, table_, **kw)

    monkeypatch.setattr(versioned, "table_overwrite_target", hooked_tot)
    compact_index(spark, idx)
    monkeypatch.undo()
    bands = spark.read.parquet(table_read_dir(spark, idx, "bands"))
    assert injected["done"]
    assert bands.filter(F.col("id") == 999).count() == 8  # swept in


def test_crashed_rebuild_leaves_no_complete_orphan_without_centroids(
    spark, sf_dir, tmp_path
):
    """A generation is marked complete only AFTER its paired
    _centroids lands (deferred _SUCCESS), so a crash between the cells
    write and the centroids write leaves an INCOMPLETE dir that
    resolution ignores — never a complete-looking generation that
    would pair fresh cells with a stale quantizer; and a torn paired
    copy (no _centroids/_SUCCESS) fails the search loudly, naming the
    generation, since there is no other quantizer to fall back to."""
    import shutil

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    ivf_compact_index(spark, idx)  # -> cells-v1 with paired _centroids
    v1 = table_read_dir(spark, idx, "cells")
    assert os.path.isfile(f"{v1}/_SUCCESS")
    assert os.path.isfile(f"{v1}/_centroids/_SUCCESS")

    def _search():
        return [
            (r.q_id, r.rank, r.neighbor_id, r.cosine)
            for r in ivf_topk_indexed(
                spark, idx, queries, id_col="vec_id", vec_col="embedding",
                k=5, n_probe=8,
            ).collect()
        ]

    expected = _search()

    # crashed rebuild: cells-v2 fully written EXCEPT the deferred
    # completeness marker (and no _centroids — the crash happened
    # between the two writes)
    v2 = v1.rsplit("-v", 1)[0] + "-v2"
    shutil.copytree(v1, v2)
    os.remove(f"{v2}/_SUCCESS")
    shutil.rmtree(f"{v2}/_centroids")
    assert table_read_dir(spark, idx, "cells") == v1  # v2 invisible
    os.remove(f"{idx}/cells.version")  # even via newest-complete
    assert table_read_dir(spark, idx, "cells") == v1
    assert _search() == expected
    shutil.rmtree(v2)

    # torn paired copy: _centroids present but incomplete -> the
    # search raises naming the generation (pointer restored via a
    # compaction)
    ivf_compact_index(spark, idx)
    cur = table_read_dir(spark, idx, "cells")
    os.remove(f"{cur}/_centroids/_SUCCESS")
    with pytest.raises(IOError, match=f"generation {cur} has no complete"):
        _search()
