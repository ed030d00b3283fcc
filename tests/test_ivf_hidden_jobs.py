"""The IVF index's Spark-job budget and the values its cuts must keep.

* The multi-probe assignment is one map-side projection
  (``_probe_plan``); the cross-join + q_id-window formula it replaced
  survives only here, as the reference it must equal on edge inputs.
* Exact job counts for one search, one append (plain and ledger) and
  one compaction, so an eager action reintroduced into any of them
  fails a test; the compaction rewrite's single exchange.
* The drift and compaction report fields that moved from count jobs to
  driver-side arithmetic and write observations equal the values the
  count jobs give; the append's report equals a standalone one.
* Stats rows written from literals read back exactly, also next to
  files written through a Python-built frame.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdataproject_spark.operators.simsearch import (
    _INDEX_STATS_SCHEMA,
    _SERIAL_LEDGER_FILES,
    _centroids_dir,
    _clustered_dedup,
    _ledger_id_recorded,
    _probe_plan,
    _read_stats,
    _write_index_stats,
    ivf_append_index,
    ivf_compact_index,
    ivf_index_drift,
    ivf_topk_indexed,
    ivf_write_index_from_centroids,
)
from bigdataproject_spark.operators.versioned import n_parquet_files, table_read_dir

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
    # 1 centroid collect;
    # 2 for the clustered cells write (exchange map stage + write; n and
    #   sum_d2 observed on it);
    # 1 stats row write from a one-partition literal frame;
    # 1 for the ledger's four-sum aggregate (one partition, no exchange);
    # 2 for occupancy (fixed-schema scan: the groupBy-count collect's
    #   map and result stages)
    assert n == 7
    assert rep["n_appended"] == 50


def test_ledger_append_job_budget(spark, tmp_path, count_jobs):
    """The stats-first ledger path: the delta's count rides on its
    checkpoint, and both reads of the short ledger are single-task
    jobs."""
    idx, _, delta = _index(spark, tmp_path)
    rep, n = count_jobs(
        lambda: ivf_append_index(delta, idx, guard_ids=True, ledger_id="b1", **KW)
    )
    # 1 centroid collect;
    # 2 for the touched-cell distinct collect (map and result stages);
    # 1 schema inference of the cells table the id guard reads;
    # 1 broadcast of the touched cells' ids for the anti join;
    # 1 localCheckpoint of the post-guard delta (n and sum_d2 observed
    #   on it);
    # 1 ledger-membership probe (one task);
    # 1 stats row write;
    # 2 for the clustered cells write;
    # 1 for the ledger's four-sum aggregate;
    # 2 for occupancy
    assert n == 13
    assert rep["n_appended"] == 50
    # the replay is at-most-once: no second stats row, nothing appended
    rep, _ = count_jobs(
        lambda: ivf_append_index(delta, idx, guard_ids=True, ledger_id="b1", **KW)
    )
    assert rep["n_appended"] == 0 and rep["n_appended_total"] == 50


def test_compact_job_budget(spark, tmp_path, count_jobs):
    idx, _, delta = _index(spark, tmp_path)
    ivf_append_index(delta, idx, **KW)
    rep, n = count_jobs(lambda: ivf_compact_index(spark, idx))
    # 1 cells schema inference;
    # 2 for the rewrite: the one (cell, _salt) exchange's map stage and
    #   the dedup + write (row counts before and after the dedup
    #   observed on it);
    # 1 for the ledger fold (one partition in: sums, marker distinct and
    #   write in one task).
    # n_cells for the files-per-cell target is a listing, the paired
    # centroids a file copy, and the file counts listings.
    assert n == 4
    assert rep["rows"] == 250 and rep["dup_rows_dropped"] == 0


def test_compact_rewrite_is_one_exchange(spark, tmp_path):
    """The rewrite's only exchange clusters on exactly (cell, _salt);
    the dedup aggregate reuses it."""
    idx, _, _ = _index(spark, tmp_path)
    df = spark.read.parquet(table_read_dir(spark, idx, "cells"))
    plan = _clustered_dedup(df, 2)._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1, plan
    kind, keys = exchanges[0]
    assert kind == "hashpartitioning", plan
    assert [k.split("#")[0] for k in keys.split(", ")[:-1]] == ["cell", "_salt"], plan
    assert "REPARTITION_BY_COL" in plan


def test_compact_multi_task_keeps_files_per_cell(spark, tmp_path):
    """With AQE coalescing off the rewrite runs one task per shuffle
    partition: every cell still gets at most ``files_per_cell`` files,
    and the duplicates an unguarded replay left die across tasks."""
    idx, _, delta = _index(spark, tmp_path)
    ivf_append_index(delta, idx, **KW)
    ivf_append_index(delta, idx, **KW)  # replay, no guard
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rep = ivf_compact_index(spark, idx, files_per_cell=2)
    finally:
        spark.conf.set(key, old)
    assert rep["rows"] == 250 and rep["dup_rows_dropped"] == 50
    cells = table_read_dir(spark, idx, "cells")
    per_cell = {
        d: len([f for f in os.listdir(f"{cells}/{d}") if f.endswith(".parquet")])
        for d in os.listdir(cells)
        if d.startswith("cell=")
    }
    assert len(per_cell) == 8 and max(per_cell.values()) <= 2
    assert sum(per_cell.values()) == rep["files_after"]
    df = spark.read.parquet(cells)
    assert df.count() == df.dropDuplicates(["neighbor_id", "cell"]).count() == 250


def test_append_report_equals_standalone_drift(spark, tmp_path):
    """The append reports on the generations it resolved; a standalone
    drift report right after it reads the same numbers."""
    idx, _, delta = _index(spark, tmp_path)
    ivf_compact_index(spark, idx)  # versioned generations
    for kw in ({}, {"guard_ids": True, "ledger_id": "b2"}):
        rep = ivf_append_index(delta, idx, **kw, **KW)
        want = ivf_index_drift(spark, idx)
        assert want.keys() <= rep.keys()
        for k, v in want.items():
            if k != "last_publish_age_seconds":
                assert rep[k] == v, k


def _stats_rows(spark, stats_dir):
    return sorted(
        (r["kind"], r["n_rows"], r["sum_d2"], r["ledger_id"])
        for r in spark.read.schema(_INDEX_STATS_SCHEMA).parquet(stats_dir).collect()
    )


def test_literal_stats_rows_round_trip(spark, tmp_path):
    """Stats rows written from a literal keep every value: quotes and
    backslashes in a ledger id, a NULL id, non-finite and exact d2
    sums. The ledger probe finds the quoted id and no other."""
    d = str(tmp_path / "stats")
    odd = "it's a \\ 'batch' \u00fc\n2"
    rows = [
        ("build", 10, 0.1 + 0.2, None),
        ("append", 3, float("inf"), odd),
        ("append", 0, 1e-310, "plain"),
    ]
    for i, (kind, n, d2, lid) in enumerate(rows):
        _write_index_stats(
            spark, d, kind=kind, n_rows=n, sum_d2=d2, append=i > 0, ledger_id=lid
        )
    nan_dir = str(tmp_path / "nan")
    _write_index_stats(spark, nan_dir, kind="append", n_rows=1, sum_d2=float("nan"))
    assert _stats_rows(spark, d) == [rows[2], rows[1], rows[0]]
    got_nan = _stats_rows(spark, nan_dir)[0][2]
    assert got_nan != got_nan
    assert _ledger_id_recorded(spark, d, odd)
    assert not _ledger_id_recorded(spark, d, "it's a")


def test_mixed_format_stats_table(spark, tmp_path):
    """A stats table holding files written through a Python-built frame
    (parquet ``optional`` columns) next to literal-frame files
    (``required`` columns): the drift report and the compaction fold
    read the same values from both."""
    import pyarrow.parquet as pq

    idx, _, delta = _index(spark, tmp_path)
    stats = table_read_dir(spark, idx, "stats")
    spark.createDataFrame(
        spark.sparkContext.parallelize([("append", 7, 3.5, "old-1")], 1),
        _INDEX_STATS_SCHEMA,
    ).write.mode("append").parquet(stats)
    ivf_append_index(delta, idx, guard_ids=True, ledger_id="new-1", **KW)
    nullable = {
        pq.read_schema(f"{stats}/{f}").field("kind").nullable
        for f in os.listdir(stats)
        if f.endswith(".parquet")
    }
    assert nullable == {True, False}
    rows = _stats_rows(spark, stats)
    b = [r for r in rows if r[0] == "build"]
    a = [r for r in rows if r[0] == "append"]
    rep = ivf_index_drift(spark, idx)
    assert rep["n_indexed_at_build"] == sum(r[1] for r in b) == 200
    assert rep["n_appended_total"] == sum(r[1] for r in a) == 57
    assert rep["appended_mean_d2"] == sum(r[2] for r in a) / 57
    ivf_compact_index(spark, idx)
    folded = _stats_rows(spark, table_read_dir(spark, idx, "stats"))
    assert [r for r in folded if r[3] is not None] == [
        ("append", 0, 0.0, "new-1"),
        ("append", 0, 0.0, "old-1"),
    ]
    after = ivf_index_drift(spark, idx)
    for k in ("n_indexed_at_build", "n_appended_total", "build_mean_d2"):
        assert after[k] == rep[k], k
    assert after["appended_mean_d2"] == pytest.approx(
        rep["appended_mean_d2"], rel=1e-12
    )


def test_long_ledger_reads_distributed(spark, tmp_path, count_jobs):
    """A ledger of at most ``_SERIAL_LEDGER_FILES`` files is read in one
    task, no exchange under its aggregate; one file more and it is read
    distributed, because the one task would read every file serially.
    Both reads give the same drift numbers, id probe and fold."""
    idx, _, _ = _index(spark, tmp_path)
    stats = table_read_dir(spark, idx, "stats")

    def exchanges():
        agg = _read_stats(spark, stats).agg(F.sum("n_rows"))
        return agg._jdf.queryExecution().executedPlan().toString().count("Exchange")

    def add(i):
        _write_index_stats(
            spark, stats, kind="append", n_rows=i, sum_d2=0.5 * i,
            append=True, ledger_id=f"b{i}",
        )

    assert n_parquet_files(spark, stats) == 1  # the build row
    for i in range(1, _SERIAL_LEDGER_FILES):
        add(i)
    assert exchanges() == 0
    short, n_short = count_jobs(
        lambda: ivf_index_drift(spark, idx, max_cell_share_threshold=None)
    )
    add(_SERIAL_LEDGER_FILES)
    assert n_parquet_files(spark, stats) == _SERIAL_LEDGER_FILES + 1
    assert exchanges() == 1
    long, n_long = count_jobs(
        lambda: ivf_index_drift(spark, idx, max_cell_share_threshold=None)
    )
    # the four-sum aggregate: one job in one task, else the exchange's
    # map stage and the result stage
    assert (n_short, n_long) == (1, 2)
    assert long["n_indexed_at_build"] == short["n_indexed_at_build"] == 200
    added = sum(range(1, _SERIAL_LEDGER_FILES + 1))
    assert long["n_appended_total"] == short["n_appended_total"] + _SERIAL_LEDGER_FILES == added
    assert long["appended_mean_d2"] == 0.5
    assert _ledger_id_recorded(spark, stats, f"b{_SERIAL_LEDGER_FILES}")
    assert not _ledger_id_recorded(spark, stats, "b0")
    rep = ivf_compact_index(spark, idx)
    assert rep["stats_files_before"] == _SERIAL_LEDGER_FILES + 1
    after = ivf_index_drift(spark, idx, max_cell_share_threshold=None)
    for k in ("n_indexed_at_build", "n_appended_total", "appended_mean_d2"):
        assert after[k] == long[k], k


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
