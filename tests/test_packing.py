"""Sequence packing (operators/packing.py): next-fit semantics, the
one-chunk overflow bound, determinism across layouts, DuckDB window
parity, and the single-exchange plan."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdataproject_spark.operators.packing import pack_sequences

ROWS = [
    # (shard, doc_id, chunk_id, n_tokens)
    (0, 1, 0, 60),
    (0, 1, 1, 60),   # crosses the 100 boundary -> pack 1
    (0, 2, 0, 30),
    (0, 2, 1, 0),    # zero-token chunk rides along
    (0, 3, 0, 80),   # 60+60+30+0+80=230 -> pack 2
    (1, 4, 0, 100),  # exactly the target -> still pack 0
    (1, 5, 0, 1),    # next pack
]


def _chunks(spark):
    return spark.createDataFrame(
        ROWS, "shard int, doc_id long, chunk_id int, n_tokens int"
    )


def _packed(spark):
    return pack_sequences(
        _chunks(spark),
        shard_col="shard",
        order_cols=["doc_id", "chunk_id"],
        target_tokens=100,
    )


def test_next_fit_assignment(spark):
    got = {
        (r["shard"], r["doc_id"], r["chunk_id"]): (r["pack_id"], r["pack_pos"])
        for r in _packed(spark).collect()
    }
    assert got == {
        (0, 1, 0): (0, 0),
        (0, 1, 1): (1, 0),   # 120 > 100: chunk lands in the later pack
        (0, 2, 0): (1, 1),   # cum 150
        (0, 2, 1): (1, 2),   # zero tokens: same pack
        (0, 3, 0): (2, 0),   # cum 230
        (1, 4, 0): (0, 0),   # cum 100: exact fit stays in pack 0
        (1, 5, 0): (1, 0),
    }


def test_one_chunk_overflow_bound(spark):
    """Every pack's total lies in (target − max_chunk, target + max_chunk),
    except each shard's LAST pack which may simply be underfull."""
    target = 100
    packs = _packed(spark).groupBy("shard", "pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens")
    )
    stats = packs.collect()
    last = {
        r["shard"]: r["pack_id"]
        for r in packs.groupBy("shard")
        .agg(F.max("pack_id").alias("pack_id")).collect()
    }
    max_chunk = max(r[3] for r in ROWS)
    for r in stats:
        assert r["pack_tokens"] < target + max_chunk
        if r["pack_id"] != last[r["shard"]]:
            assert r["pack_tokens"] > target - max_chunk


def test_deterministic_across_layouts(spark):
    a = {
        tuple(r)
        for r in pack_sequences(
            _chunks(spark).repartition(7),
            shard_col="shard", order_cols=["doc_id", "chunk_id"],
            target_tokens=100,
        ).collect()
    }
    b = {tuple(r) for r in _packed(spark).collect()}
    assert a == b


def test_invalid_target(spark):
    with pytest.raises(ValueError):
        pack_sequences(
            _chunks(spark), shard_col="shard",
            order_cols=["doc_id"], target_tokens=0,
        )


def test_duckdb_window_parity(spark):
    got = {
        (r["shard"], r["doc_id"], r["chunk_id"]): (
            r["pack_id"], r["pack_pos"], r["pack_cum_tokens"]
        )
        for r in _packed(spark).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE c AS SELECT * FROM (VALUES "
        + ",".join(str(r) for r in ROWS)
        + ") v(shard, doc_id, chunk_id, n_tokens)"
    )
    oracle = con.execute("""
        WITH r AS (
          SELECT *, CAST(floor(greatest(
                   sum(n_tokens) OVER (PARTITION BY shard
                       ORDER BY doc_id, chunk_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1, 0) / 100) AS INT)
                 AS pack_raw
          FROM c
        ), s AS (
          SELECT *, CAST(dense_rank() OVER (PARTITION BY shard
                       ORDER BY pack_raw) - 1 AS INT) AS pack_id
          FROM r
        )
        SELECT shard, doc_id, chunk_id, pack_id,
               CAST(row_number() OVER (PARTITION BY shard, pack_id
                    ORDER BY doc_id, chunk_id) - 1 AS INT) AS pack_pos,
               sum(n_tokens) OVER (PARTITION BY shard, pack_id
                   ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS pack_cum
        FROM s
    """).fetchall()
    want = {(r[0], r[1], r[2]): (r[3], r[4], r[5]) for r in oracle}
    assert got == want
