"""r7 IVF stats-ledger hardening: the compaction fold bounds the ledger
to one file while preserving the drift report and the per-ledger-id
at-most-once guarantee; the stats-first ledger protocol survives the
crash window between the stats write and the cells append; the
occupancy-skew signal fires on a hot cell while mean-d2 stays flat; and
a long stream under auto-compaction keeps the stats file count bounded.
"""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from bigdataproject_spark.operators.simsearch import (
    _write_index_stats,
    ivf_append_index,
    ivf_compact_index,
    ivf_index_drift,
    ivf_write_index_from_centroids,
    sample_centroids,
)
from bigdataproject_spark.sources.readers import load_table


def _parts(path: str) -> list[str]:
    return sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))


def _tdir(spark, idx: str, table: str) -> str:
    """Current generation dir of a versioned index table (after a
    compaction the flat {idx}/{table} path is a superseded grace copy,
    not the live table)."""
    from bigdataproject_spark.operators.versioned import table_read_dir

    return table_read_dir(spark, idx, table)


def _seed_and_deltas(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") % 3 == 0)
    d1 = emb.filter(F.col("vec_id") % 3 == 1)
    d2 = emb.filter(F.col("vec_id") % 3 == 2)
    ctrs = sample_centroids(
        seed, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return seed, d1, d2, ctrs


def _drift_eq(a: dict, b: dict) -> None:
    for k in ("n_indexed_at_build", "n_appended_total", "hot_cell"):
        assert a[k] == b[k], k
    for k in ("build_mean_d2", "appended_mean_d2", "drift_ratio",
              "max_cell_share"):
        if a[k] is None:
            assert b[k] is None, k
        else:
            assert b[k] == pytest.approx(a[k], rel=1e-12), k
    assert a["rebuild_recommended"] == b["rebuild_recommended"]


def test_compaction_folds_ledger_and_preserves_drift(spark, sf_dir, tmp_path):
    seed, d1, d2, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    for i, d in enumerate((d1, d2)):
        ivf_append_index(
            d, idx, id_col="vec_id", vec_col="embedding",
            guard_ids=True, ledger_id=f"batch-{i}",
        )
    files_before = _parts(f"{idx}/stats")
    assert len(files_before) == 3  # build row + one tiny file per batch
    before = ivf_index_drift(spark, idx)

    stats = ivf_compact_index(spark, idx)
    assert stats["stats_files_before"] == 3
    assert stats["stats_files_after"] == 1  # the fold's whole point
    assert len(_parts(_tdir(spark, idx, "stats"))) == 1
    _drift_eq(before, ivf_index_drift(spark, idx))

    # a second fold is a fixpoint (sums of sums, markers distinct)
    ivf_compact_index(spark, idx)
    _drift_eq(before, ivf_index_drift(spark, idx))


def test_ledger_id_survives_fold(spark, sf_dir, tmp_path):
    """A replayed batch whose stats row was folded must STILL be
    at-most-once: the fold keeps zero-row ledger-id markers."""
    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    rep1 = ivf_append_index(
        d1, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    ivf_compact_index(spark, idx)
    rows = spark.read.parquet(_tdir(spark, idx, "cells")).count()

    rep2 = ivf_append_index(  # replay after the fold
        d1, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    assert rep2["n_appended"] == 0
    assert rep2["n_appended_total"] == rep1["n_appended_total"] == d1.count()
    assert spark.read.parquet(_tdir(spark, idx, "cells")).count() == rows


def test_stats_first_crash_window_heals_on_replay(spark, sf_dir, tmp_path):
    """Crash between the ledger-keyed stats write and the cells append
    (the protocol's one intermediate state): the replay must append the
    cells WITHOUT double-writing the stats row, converging to the same
    index a crash-free run produces."""
    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    # crash-free twin: learn the batch's true post-guard stats row
    twin = str(tmp_path / "twin")
    shutil.copytree(idx, twin)
    ivf_append_index(
        d1, twin, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    srow = (
        spark.read.schema("kind string, n_rows long, sum_d2 double, ledger_id string")
        .parquet(f"{twin}/stats")
        .where("ledger_id = 'batch-0'")
        .collect()[0]
    )

    # reproduce the crashed state on the original: stats row written,
    # cells NOT appended
    _write_index_stats(
        spark, idx, kind="append", n_rows=srow["n_rows"],
        sum_d2=srow["sum_d2"], append=True, ledger_id="batch-0",
    )
    rep = ivf_append_index(  # the replay
        d1, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    assert rep["n_appended"] == d1.count()  # cells appended on replay
    _drift_eq(ivf_index_drift(spark, twin), ivf_index_drift(spark, idx))
    assert (
        spark.read.parquet(f"{idx}/cells").count()
        == spark.read.parquet(f"{twin}/cells").count()
    )
    # exactly ONE stats row carries the ledger id
    n_rows = (
        spark.read.schema("kind string, n_rows long, sum_d2 double, ledger_id string")
        .parquet(f"{idx}/stats")
        .where("ledger_id = 'batch-0'")
        .count()
    )
    assert n_rows == 1


def test_ledger_id_requires_guard(spark, sf_dir, tmp_path):
    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    with pytest.raises(ValueError, match="guard_ids"):
        ivf_append_index(
            d1, idx, id_col="vec_id", vec_col="embedding", ledger_id="b0"
        )


def test_occupancy_skew_flips_rebuild_while_drift_stays_flat(spark, tmp_path):
    """The r6 verdict's missed failure mode: appends concentrate NEAR
    one existing centroid — mean-d2 stays under the 2x drift threshold
    (the appends are in-distribution for their cell) while one cell
    grows toward most of the corpus, so probe pruning dies. The
    occupancy signal must fire; with the occupancy check disabled the
    same report must not."""
    dim = 4
    seed = spark.createDataFrame(
        [(i, [float(i % 4 == j) * 10.0 + 0.05 * (i % 5) for j in range(dim)])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    ctrs = sample_centroids(
        # four well-separated axis clusters -> 4 sample centroids from
        # the first ids of each cluster region
        seed, id_col="vec_id", vec_col="embedding", n_centroids=4,
    )
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    base = ivf_index_drift(spark, idx)
    assert base["rebuild_recommended"] is False

    # 3x the seed volume, all hugging cluster-0's centroid: tiny d2
    hot = spark.createDataFrame(
        [(1000 + i, [10.0 + 0.05 * (i % 5), 0.0, 0.0, 0.0])
         for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    rep = ivf_append_index(
        hot, idx, id_col="vec_id", vec_col="embedding", guard_ids=True
    )
    assert rep["drift_ratio"] < 2.0  # the d2 signal alone would miss it
    assert rep["max_cell_share"] > 0.5
    assert rep["hot_cell"] is not None
    assert rep["rebuild_recommended"] is True

    quiet = ivf_index_drift(spark, idx, max_cell_share_threshold=None)
    assert quiet["max_cell_share"] is None
    assert quiet["rebuild_recommended"] is False  # d2 alone stays calm
    # the threshold actually applied is reported (r8: scaled to k)
    assert rep["max_cell_share_threshold"] == max(0.5, 3.0 / 4)


def test_occupancy_threshold_scales_with_small_k(spark, tmp_path):
    """r8 ADVICE fix: with few centroids the largest cell NATURALLY
    holds a big share (any imbalance at k=2 exceeds 0.5), so a flat
    default threshold would flag a healthy index forever and automation
    keyed on rebuild_recommended would rebuild-loop. The effective
    threshold scales as 3/n_centroids: a k=2 index with mild imbalance
    must stay quiet, while the share itself is still measured."""
    dim = 2
    # two clusters, 60/40 split: max share 0.6 > 0.5 but < 3/2 = 1.5
    rows = [(i, [10.0 + 0.01 * i, 0.0]) for i in range(60)]
    rows += [(100 + i, [0.0, 10.0 + 0.01 * i]) for i in range(40)]
    seed = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    ctrs = [(0, [10.0, 0.0]), (1, [0.0, 10.0])]
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    rep = ivf_index_drift(spark, idx)
    assert rep["max_cell_share"] is not None
    assert rep["max_cell_share"] > 0.5  # a flat 0.5 would have fired
    assert rep["max_cell_share_threshold"] == 1.5  # 3/n_cells floor
    assert rep["rebuild_recommended"] is False


def _files(p: str) -> list[str]:
    import os

    return sorted(os.path.join(r, n) for r, _, fs in os.walk(p) for n in fs)


def test_stats_swap_window_read_in_place_and_writer_heals(
    spark, sf_dir, tmp_path
):
    """Rename-aside stats debris (a complete ``stats__compacting`` copy
    or the ledger set aside as ``stats__old``) is no state any writer of
    the layout leaves. A drift report (reader), an append and a
    compaction (writers) each refuse it with an IOError naming the
    debris, and none of them touches the filesystem; restored by hand,
    the ledger reports and folds exactly as before."""
    from bigdataproject_spark.operators.versioned import TableMissingError

    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    for debris in ("stats__compacting", "stats__old"):
        idx = str(tmp_path / debris)
        ivf_write_index_from_centroids(
            seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
        )
        ivf_append_index(
            d1, idx, id_col="vec_id", vec_col="embedding",
            guard_ids=True, ledger_id="batch-0",
        )
        want = ivf_index_drift(spark, idx)
        shutil.move(f"{idx}/stats", f"{idx}/{debris}")
        before = _files(idx)
        for op in (
            lambda: ivf_index_drift(spark, idx),
            lambda: ivf_append_index(
                spark.createDataFrame([], "vec_id long, embedding array<float>"),
                idx, id_col="vec_id", vec_col="embedding",
                guard_ids=True, ledger_id="batch-heal",
            ),
            lambda: ivf_compact_index(spark, idx),
        ):
            with pytest.raises(IOError, match=debris) as ei:
                op()
            assert not isinstance(ei.value, TableMissingError)
            assert _files(idx) == before

        shutil.move(f"{idx}/{debris}", f"{idx}/stats")  # restored by hand
        _drift_eq(want, ivf_index_drift(spark, idx))
        ivf_compact_index(spark, idx)
        _drift_eq(want, ivf_index_drift(spark, idx))


def test_reader_never_mutates_under_foreign_lease(spark, sf_dir, tmp_path):
    """A drift poll that meets stats debris while ANOTHER writer holds
    the lease fails with the debris IOError and leaves every path
    untouched; a writer under the same foreign lease is refused by the
    lease before it resolves anything."""
    import os

    from bigdataproject_spark.operators.lease import LeaseHeldError

    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    ivf_append_index(
        d1, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    shutil.move(f"{idx}/stats", f"{idx}/stats__compacting")
    with open(f"{idx}/_writer.lock", "w") as fh:
        fh.write("somebody-else")  # a foreign compaction is live

    before = _files(idx)
    with pytest.raises(IOError, match="stats__compacting"):
        ivf_index_drift(spark, idx)
    assert _files(idx) == before  # the filesystem is untouched
    with pytest.raises(LeaseHeldError):
        ivf_append_index(
            d1, idx, id_col="vec_id", vec_col="embedding",
            guard_ids=True, ledger_id="batch-1",
        )
    assert _files(idx) == before
    os.remove(f"{idx}/_writer.lock")


def test_append_after_fold_crash_heals_instead_of_rebuilding(
    spark, sf_dir, tmp_path
):
    """An append meeting a crashed ledger fold's debris (stats gone, a
    copy aside) must NOT rebuild the ledger from the cells table: that
    absorbs every appended row into the build baseline, zeroes the
    append history and drops the at-most-once markers (reproduced
    earlier: build 167->334, n_appended_total 333->166). The debris is
    refused with a plain IOError — not TableMissingError, the one
    exception that triggers the rebuild — and, restored by hand, the
    ledger still holds its baseline, history and batch-0 marker."""
    import os

    from bigdataproject_spark.operators.versioned import TableMissingError

    seed, d1, d2, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    ivf_append_index(
        d1, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-0",
    )
    want_build = ivf_index_drift(spark, idx)["n_indexed_at_build"]
    assert want_build == seed.count()

    for debris in ("stats__compacting", "stats__old"):
        shutil.move(f"{idx}/stats", f"{idx}/{debris}")
        with pytest.raises(IOError, match=debris) as ei:
            ivf_append_index(
                d2, idx, id_col="vec_id", vec_col="embedding",
                guard_ids=True, ledger_id="batch-1",
            )
        assert not isinstance(ei.value, TableMissingError)
        assert not os.path.exists(f"{idx}/stats")  # no rebuilt ledger
        shutil.move(f"{idx}/{debris}", f"{idx}/stats")  # restored by hand
        rep = ivf_index_drift(spark, idx)
        assert rep["n_indexed_at_build"] == want_build
        assert rep["n_appended_total"] == d1.count()
        # the ledger still carries batch-0's at-most-once marker
        replay = ivf_append_index(
            d1, idx, id_col="vec_id", vec_col="embedding",
            guard_ids=True, ledger_id="batch-0",
        )
        assert replay["n_appended"] == 0
        assert replay["n_appended_total"] == d1.count()


def test_occupancy_scan_reads_zero_data_columns(spark, sf_dir, tmp_path):
    """The skew signal's cost claim, pinned: the occupancy aggregate
    projects ONLY the Hive partition column, so the parquet scan's
    ReadSchema is the empty struct — row counts come from footers and
    directory structure, never data pages."""
    seed, _, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    plan = (
        spark.read.parquet(f"{idx}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ReadSchema: struct<>" in plan


def test_fold_prunes_markers_to_keep_set(spark, sf_dir, tmp_path):
    """keep_marker_ids bounds the folded ledger to sums + kept markers;
    the kept id stays at-most-once on replay, drift totals unchanged."""
    seed, d1, d2, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    for i, d in enumerate((d1, d2)):
        ivf_append_index(
            d, idx, id_col="vec_id", vec_col="embedding",
            guard_ids=True, ledger_id=f"batch-{i}",
        )
    before = ivf_index_drift(spark, idx)

    # prune to the "still replayable" set {batch-1} — the streaming
    # flow's shape inside foreachBatch of batch 1
    ivf_compact_index(spark, idx, keep_marker_ids={"batch-1"})
    sdf = spark.read.parquet(_tdir(spark, idx, "stats"))
    assert sdf.count() == 3  # build sum + append sum + one marker
    assert [r["ledger_id"] for r in sdf.where("ledger_id is not null").collect()] == ["batch-1"]
    _drift_eq(before, ivf_index_drift(spark, idx))

    # the kept id is still at-most-once
    rep = ivf_append_index(
        d2, idx, id_col="vec_id", vec_col="embedding",
        guard_ids=True, ledger_id="batch-1",
    )
    assert rep["n_appended"] == 0
    _drift_eq(before, ivf_index_drift(spark, idx))


def test_explicit_share_threshold_honored_verbatim(spark, tmp_path):
    """r8-end driver ADVICE: the 3/n_centroids floor applies only to the
    default ("auto") — an operator's EXPLICIT max_cell_share_threshold
    is used verbatim, so a deliberately low trigger on a small-k index
    actually fires."""
    rows = [(i, [10.0 + 0.01 * i, 0.0]) for i in range(60)]
    rows += [(100 + i, [0.0, 10.0 + 0.01 * i]) for i in range(40)]
    seed = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ctrs = [(0, [10.0, 0.0]), (1, [0.0, 10.0])]
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    # auto: floored to 3/2 = 1.5 -> quiet (existing behavior)
    auto = ivf_index_drift(spark, idx)
    assert auto["max_cell_share_threshold"] == 1.5
    assert auto["rebuild_recommended"] is False
    # explicit 0.5: applied verbatim, max share 0.6 fires
    exp = ivf_index_drift(spark, idx, max_cell_share_threshold=0.5)
    assert exp["max_cell_share_threshold"] == 0.5
    assert exp["max_cell_share"] == pytest.approx(0.6)
    assert exp["rebuild_recommended"] is True


def test_drift_report_carries_publish_cadence(spark, sf_dir, tmp_path):
    """r8 VERDICT item 2: the one-generation grace window needs a
    monitorable cadence — the drift report carries the cells table's
    generation / publish bound / last-publish age, advancing with each
    compaction."""
    seed, d1, _, ctrs = _seed_and_deltas(spark, sf_dir)
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(
        seed, idx, ctrs, id_col="vec_id", vec_col="embedding"
    )
    rep = ivf_index_drift(spark, idx)
    assert rep["generation"] is None  # legacy layout, never compacted
    assert rep["publish_count"] == 0
    assert rep["last_publish_age_seconds"] is None

    ivf_compact_index(spark, idx)
    rep1 = ivf_index_drift(spark, idx)
    assert rep1["generation"] == 1
    assert rep1["publish_count"] == 1
    assert rep1["last_publish_age_seconds"] >= 0.0

    ivf_append_index(d1, idx, id_col="vec_id", vec_col="embedding",
                     guard_ids=True)
    ivf_compact_index(spark, idx)
    rep2 = ivf_index_drift(spark, idx)
    assert rep2["generation"] == 2
    assert rep2["publish_count"] == 2
