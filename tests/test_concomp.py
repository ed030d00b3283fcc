"""Connected components + near-dup cluster collapse (operators/concomp.py).

Verification strategy mirrors the repo's oracle pattern: a pure-Python
union-find is the exact reference on random graphs and edge cases, a
DuckDB recursive CTE (transitive closure -> min reachable id) is the
SQL oracle, and the end-to-end test runs the real minhash pair set at
sf0.001 through cluster assignment.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdataproject_spark.operators.concomp import (
    connected_components,
    dedup_cluster_assignment,
    drop_near_duplicates,
)


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to the component MIN (find() unions min as root)
    return {n: find(n) for n in parent}


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, src="id_a", dst="id_b")
    return {r["node"]: r["component"] for r in out.collect()}


def test_chain_long_diameter(spark):
    """A 60-node path is the worst case for plain min-propagation
    (diameter rounds); star-contraction must still converge inside the
    operator's max_iter and label everything with the chain min."""
    edges = [(i, i + 1) for i in range(60)]
    got = _spark_components(spark, edges)
    assert got == {i: 0 for i in range(61)}


def test_two_components_and_self_loops(spark):
    edges = [(5, 3), (3, 9), (20, 21), (21, 21), (7, 7)]
    got = _spark_components(spark, edges)
    assert got[3] == got[5] == got[9] == 3
    assert got[20] == got[21] == 20
    # pure self-loop nodes are singleton components of themselves
    assert got[7] == 7


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    expected = _union_find(edges)
    # union-find keys only nodes that appear in an edge; drop pure
    # self-loop-free isolated ids the same way the operator does
    got = _spark_components(spark, edges)
    assert got == expected


def test_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string"
    )
    out = connected_components(df, src="id_a", dst="id_b")
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duckdb_recursive_oracle_parity(spark):
    """Transitive-closure recursive CTE as the SQL oracle: component =
    min(id, min reachable id)."""
    rng = random.Random(7)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(a, b)"
    )
    oracle = {
        (n,): c
        for n, c in con.execute(
            """
            WITH RECURSIVE und AS (
              SELECT a s, b t FROM e UNION SELECT b, a FROM e
            ),
            reach(s, t) AS (
              SELECT s, t FROM und
              UNION
              SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s
            )
            SELECT s AS node, LEAST(s, MIN(t)) AS component
            FROM reach GROUP BY s
            """
        ).fetchall()
    }
    got = {(n,): c for n, c in _spark_components(spark, edges).items()}
    # the CTE keys every node in an edge incl. self-loops; so does the op
    assert got == oracle


def test_cluster_assignment_and_survivors(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 9)], "id_a long, id_b long"
    )
    assign = dedup_cluster_assignment(docs, pairs).collect()
    by_id = {r["doc_id"]: r for r in assign}
    assert len(by_id) == 10
    for d in (1, 4, 7):
        assert by_id[d]["cluster_id"] == 1
    assert by_id[2]["cluster_id"] == 2 and by_id[9]["cluster_id"] == 2
    survivors = {r["doc_id"] for r in assign if r["is_survivor"]}
    assert survivors == {0, 1, 2, 3, 5, 6, 8}
    kept = drop_near_duplicates(docs, pairs)
    assert {r["doc_id"] for r in kept.collect()} == survivors
    assert kept.columns == ["doc_id", "text"]


def test_empty_pairs_all_singletons(spark):
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    rows = dedup_cluster_assignment(docs, pairs).collect()
    assert all(r["is_survivor"] and r["cluster_id"] == r["doc_id"] for r in rows)


def test_minhash_pairs_end_to_end(spark, sf_dir):
    """Real near-dup pairs at sf0.001 -> clusters; union-find on the
    same collected pairs is the exact reference."""
    from bigdataproject_spark.queries_pipeline import q_dedup_minhash
    from bigdataproject_spark.sources.readers import load_table

    pairs_df = q_dedup_minhash(spark, sf_dir).select("id_a", "id_b")
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    assert pairs, "fixture should contain near-dup pairs"
    expected = _union_find(pairs)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assign = dedup_cluster_assignment(docs, pairs_df)
    got = {r["doc_id"]: r["cluster_id"] for r in assign.collect()}
    n_docs = docs.count()
    assert len(got) == n_docs
    for node, comp in expected.items():
        assert got[node] == comp
    # docs outside any pair are their own cluster
    in_pairs = set(expected)
    assert all(
        got[d] == d for d in got if d not in in_pairs
    )
    # survivor count: corpus minus non-min members of each cluster
    n_dropped = sum(1 for n, c in expected.items() if n != c)
    assert assign.where("is_survivor").count() == n_docs - n_dropped


def test_local_checkpoint_blocks_released(spark):
    """r5 review fix: Dataset.unpersist is a no-op for localCheckpoint
    blocks (they are not CacheManager entries) — the iterative ops use
    session.release_local_checkpoint, which frees the LogicalRDD's
    blocks deterministically instead of waiting on JVM GC."""
    from bigdataproject_spark.session import release_local_checkpoint

    sc = spark.sparkContext

    def persisted():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    # by RDD id, not by count: the ContextCleaner may free RDDs that
    # earlier tests left behind at any moment in between
    base = persisted()
    df = spark.range(50000).localCheckpoint()
    df.count()
    ckpt = df._jdf.queryExecution().analyzed().rdd().id()
    assert persisted() - base == {ckpt}
    assert release_local_checkpoint(df) is True
    assert persisted() - base == set()
    # non-checkpointed frame: nothing to free, reports False, no crash
    assert release_local_checkpoint(spark.range(5)) is False


def test_connected_components_frees_iteration_snapshots(spark):
    """After convergence only the final edge set (plus the node list)
    may remain persisted — superseded per-iteration snapshots must not
    pile up in the block manager."""
    from bigdataproject_spark.operators.concomp import connected_components

    sc = spark.sparkContext
    base = len(sc._jsc.sc().getRDDStorageInfo())
    # a path graph needs several star rounds — multiple snapshots
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    connected_components(pairs, src="id_a", dst="id_b").count()
    # final edge set + all_nodes may stay; earlier rounds must be gone
    assert len(sc._jsc.sc().getRDDStorageInfo()) - base <= 2
