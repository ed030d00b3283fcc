"""The IVF index's Spark-job budget and the values its cuts must keep.

* The multi-probe assignment is one map-side projection
  (``_probe_plan``); the cross-join + q_id-window formula it replaced
  survives only here, as the reference it must equal on edge inputs.
* Exact job counts for one search, one append and one compaction, so an
  eager action reintroduced into any of them fails a test.
* The drift and compaction report fields that moved from count jobs to
  driver-side arithmetic and write observations equal the values the
  count jobs give.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdataproject_spark.operators.simsearch import (
    _centroids_dir,
    _probe_plan,
    ivf_append_index,
    ivf_compact_index,
    ivf_index_drift,
    ivf_topk_indexed,
    ivf_write_index_from_centroids,
)
from bigdataproject_spark.operators.versioned import table_read_dir

KW = dict(id_col="vec_id", vec_col="embedding")
NAN, INF = float("nan"), float("inf")

# duplicate centroids (0/2 and 1/4) make exact d2 ties; listed out of
# cell order on purpose — the kernel must not depend on list order
DUP_CTRS = [
    (3, [0.0, 2.0, 0.0]),
    (0, [0.0, 0.0, 0.0]),
    (4, [1.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 0.0, 0.0]),
]
# centroids of unequal length: one query row gets NULL d2 for some
# cells and numbers for others
RAGGED_CTRS = [(0, [0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [5.0, 5.0, 5.0])]

EDGE_QUERIES = [
    (1, [0.5, 0.0, 0.0]),  # equidistant from all four of cells 0, 1, 2, 4
    (2, [0.1, 1.9, 0.2]),
    (3, None),  # NULL vector
    (4, [NAN, 0.0, 0.0]),  # NaN component
    (5, [1.0, 0.0]),  # shorter than the centroids
    (6, [1.0, 0.0, 0.0, 5.0]),  # longer than the centroids
    (7, [1.0, None, 0.0]),  # NULL element
    (8, [INF, 0.0, 0.0]),  # d2 = inf for every cell
    (9, [-0.0, 0.0, 0.0]),
    (10, [0.0, 0.0]),
]


def _window_probe(spark, q, centroids, n_probe):
    """Reference: the broadcast cross join against the centroid table
    and a per-q_id row_number window over (d2, cell)."""
    ctr = spark.createDataFrame(centroids, "cell int, ctr array<double>")
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv").cast("array<double>"), "ctr", lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(ctr))
        .select("q_id", "cell", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n_probe)
    )


def _pairs(df):
    return sorted((r["q_id"], r["cell"]) for r in df.select("q_id", "cell").collect())


def _queries(spark, rows, vec_type="array<double>"):
    return spark.createDataFrame(rows, f"q_id long, qv {vec_type}").withColumn(
        "qn", F.lit(1.0)
    )


@pytest.mark.parametrize(
    "centroids,vec_type",
    [
        (DUP_CTRS, "array<double>"),
        (DUP_CTRS, "array<float>"),
        (RAGGED_CTRS, "array<double>"),
    ],
    ids=["dup-double", "dup-float", "ragged"],
)
def test_probe_kernel_equals_window_probe(spark, centroids, vec_type):
    q = _queries(spark, EDGE_QUERIES, vec_type)
    for n_probe in (0, 1, 2, 3, len(centroids), len(centroids) + 3):
        got = _pairs(_probe_plan(q, centroids, n_probe))
        want = _pairs(_window_probe(spark, q, centroids, n_probe))
        assert got == want, n_probe
    # map-side: no join, no exchange, no window
    plan = _probe_plan(q, centroids, 2)._jdf.queryExecution().executedPlan().toString()
    for marker in ("Join", "Exchange", "Window", "CartesianProduct"):
        assert marker not in plan, marker


def test_probe_kernel_repeated_q_id_probes_each_row(spark):
    """A q_id shared by two rows: each row gets its own n_probe cells
    (the window formula would pool them and keep n_probe in total)."""
    rows = [(1, [0.0, 0.0, 0.0]), (1, [0.0, 2.0, 0.0]), (2, [1.0, 0.0, 0.0])]
    q = _queries(spark, rows)
    # reference: the window formula over one synthetic q_id per row
    per_row = _queries(spark, [(i, v) for i, (_, v) in enumerate(rows)])
    owner = {i: qid for i, (qid, _) in enumerate(rows)}
    for n_probe in (1, 2):
        got = _pairs(_probe_plan(q, DUP_CTRS, n_probe))
        ref = _window_probe(spark, per_row, DUP_CTRS, n_probe)
        assert got == sorted((owner[i], c) for i, c in _pairs(ref)), n_probe
    assert _pairs(_probe_plan(q, DUP_CTRS, 1)) == [(1, 0), (1, 3), (2, 1)]
    assert _pairs(_window_probe(spark, q, DUP_CTRS, 1)) == [(1, 0), (2, 1)]


def test_probe_kernel_empty_queries(spark):
    q = _queries(spark, [], "array<double>")
    assert _pairs(_probe_plan(q, DUP_CTRS, 2)) == []
    assert _pairs(_window_probe(spark, q, DUP_CTRS, 2)) == []


def _index(spark, tmp_path, n_rows=200):
    """A small sample-quantized index on parquet inputs, plus a query
    table and an append batch already read (their schema-inference jobs
    belong to the caller, not to the op under test)."""
    d = tmp_path / "in"
    spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), float(i % 4)]) for i in range(n_rows)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(d / "base"))
    spark.createDataFrame(
        [(1000 + i, [float(i % 9), 1.0, 2.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(d / "delta"))
    spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(d / "q"))
    base = spark.read.parquet(str(d / "base"))
    ctrs = [(c, [float(c), float(c % 5), float(c % 4)]) for c in range(8)]
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(base, idx, ctrs, **KW)
    return idx, spark.read.parquet(str(d / "q")), spark.read.parquet(str(d / "delta"))


def test_search_job_budget(spark, tmp_path, count_jobs):
    idx, q, _ = _index(spark, tmp_path)
    df, build = count_jobs(
        lambda: ivf_topk_indexed(spark, idx, q, k=5, n_probe=3, impl="blas", **KW),
    )
    # 1 schema inference of the cells table (its id/vector types vary),
    # 1 centroid collect (fixed schema, sorted driver-side),
    # 1 probe-row collect (map-only; the rows carry the probed cells)
    assert build == 3
    rows, run = count_jobs(df.collect)
    # the candidate-ranking window: its shuffle map stage + result stage
    assert run == 2
    assert len(rows) == 20 * 5


def test_append_job_budget(spark, tmp_path, count_jobs):
    idx, _, delta = _index(spark, tmp_path)
    rep, n = count_jobs(lambda: ivf_append_index(delta, idx, **KW))
    # 1 centroid collect; 2 for the clustered cells write (exchange map
    # stage + write; n and sum_d2 observed on it); 1 stats row write
    # from a one-partition source; 2 for the ledger's four-sum
    # aggregate; 3 for occupancy (cells schema inference + one
    # groupBy-count collect's map and result stages)
    assert n == 9
    assert rep["n_appended"] == 50


def test_compact_job_budget(spark, tmp_path, count_jobs):
    idx, _, delta = _index(spark, tmp_path)
    ivf_append_index(delta, idx, **KW)
    rep, n = count_jobs(lambda: ivf_compact_index(spark, idx))
    # 1 cells schema inference; 1 centroid collect (n_cells for the
    # files-per-cell target); 3 for the rewrite (dedup exchange,
    # clustering exchange, write; row counts before and after the
    # dedup observed on it); 3 for the ledger fold (per-kind sums
    # exchange, marker distinct exchange, write). The paired centroids
    # are a file copy.
    assert n == 8
    assert rep["rows"] == 250 and rep["dup_rows_dropped"] == 0


def _occupancy_by_aggregate(spark, idx):
    """Reference: the centroid count job and the two-level occupancy
    aggregate with the struct-max tie-break (largest n, smallest cell)."""
    cells_dir = table_read_dir(spark, idx, "cells")
    n_cells = spark.read.parquet(_centroids_dir(spark, idx, cells_dir)).count()
    occ = (
        spark.read.parquet(cells_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("total"),
            F.max(
                F.struct(
                    F.col("n").alias("n"),
                    (-F.col("cell")).cast("long").alias("negc"),
                )
            ).alias("mx"),
        )
        .collect()[0]
    )
    return (
        int(-occ["mx"]["negc"]),
        int(occ["mx"]["n"]) / int(occ["total"]),
        max(0.5, 3.0 / max(int(n_cells), 1)),
    )


def test_drift_tied_hot_cell_equals_aggregate(spark, tmp_path):
    """Cells 1 and 3 tie for the largest occupancy: the smaller id wins,
    in the standalone report and in the one the append returns."""
    ctrs = [(c, [float(10 * c), 0.0]) for c in range(4)]
    sizes = {0: 5, 1: 10, 2: 2, 3: 10}
    rows = [
        (100 * c + i, [float(10 * c) + 0.01 * i, 0.0])
        for c, n in sizes.items()
        for i in range(n)
    ]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    ivf_write_index_from_centroids(base, idx, ctrs, **KW)
    want = _occupancy_by_aggregate(spark, idx)
    assert want[0] == 1
    rep = ivf_index_drift(spark, idx)
    assert (rep["hot_cell"], rep["max_cell_share"], rep["max_cell_share_threshold"]) == want
    # an append that keeps the tie (two rows into each of cells 1 and 3)
    more = spark.createDataFrame(
        [(900, [10.0, 0.0]), (901, [10.1, 0.0]), (902, [30.0, 0.0]), (903, [30.1, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rep = ivf_append_index(more, idx, **KW)
    want = _occupancy_by_aggregate(spark, idx)
    assert want[0] == 1
    assert (rep["hot_cell"], rep["max_cell_share"], rep["max_cell_share_threshold"]) == want


def test_compact_counts_equal_count_jobs_after_replay(spark, tmp_path):
    """An unguarded replayed append duplicates (neighbor_id, cell) rows:
    the observed counts equal the count jobs they replaced."""
    idx, _, delta = _index(spark, tmp_path)
    ivf_append_index(delta, idx, **KW)
    ivf_append_index(delta, idx, **KW)  # replay, no guard
    df = spark.read.parquet(table_read_dir(spark, idx, "cells"))
    before = df.count()
    after = df.dropDuplicates(["neighbor_id", "cell"]).count()
    assert before - after == 50
    rep = ivf_compact_index(spark, idx)
    assert rep["rows"] == after
    assert rep["dup_rows_dropped"] == before - after
    assert spark.read.parquet(table_read_dir(spark, idx, "cells")).count() == after
