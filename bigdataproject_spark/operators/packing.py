"""Sequence packing: assemble chunked documents into fixed-token-budget
training sequences — the step between chunking and the trainer (a
context window is filled with several short chunks; feeding one short
chunk per sequence wastes most of the batch). No reference counterpart
(the reference never trains); north-star op per BASELINE.json.

Distributed-deterministic NEXT-FIT packing: within each shard
(``shard_col`` — use the content-keyed shard from
``sources.writers.training_shard_plan`` so assignment survives
re-runs), rows are ordered by ``order_cols``, token counts are
prefix-summed, the raw boundary index ``floor((cumsum − 1) / target)``
groups chunks into packs, and a dense rank over that index makes the
final ``pack_id`` gap-free 0..n−1 per shard (an oversized chunk can
jump several boundaries). A chunk whose span crosses a pack boundary
lands in the later pack, so a pack's total lies in
(target − max_chunk, target + max_chunk): the classic next-fit bound —
waste and overflow are each bounded by ONE chunk, and the trainer's
truncation/padding policy stays the caller's (exactly like
tokenization everywhere else in this engine).

Scale shape: ONE hash exchange on ``shard_col``. The per-shard prefix
sum is a window over the shard partition — bounded by shard size, and
the number of shards is the parallelism knob (the same knob the shard
writer exposes). The second window (position within pack) needs rows
clustered by (shard, pack); hash-partitioning on shard alone already
satisfies that ClusteredDistribution, so Catalyst inserts NO second
exchange — pinned in tests/test_plan_hygiene_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    chunks: DataFrame,
    *,
    shard_col: str,
    order_cols: list[str],
    tokens_col: str = "n_tokens",
    target_tokens: int,
) -> DataFrame:
    """Add (pack_id, pack_pos, pack_cum_tokens) to ``chunks``.

    ``pack_id`` is DENSE 0..n−1 within a shard (global identity is
    (shard_col, pack_id); an oversized chunk crossing several
    boundaries does not leave gaps); ``pack_pos`` is the 0-based position of the
    chunk inside its pack; ``pack_cum_tokens`` is the running token
    total through this chunk (the last row's value is the pack's
    size). Zero-token rows ride along in the current pack. The
    assignment is deterministic — same rows + same shard/order columns
    → same packs, on any cluster layout — PROVIDED ``order_cols``
    uniquely orders rows within a shard (e.g. (doc_id, chunk_id));
    with ties the packing is still valid (bounds hold) but the tie
    order, and therefore pack membership among the tied rows, is
    layout-dependent. The running sums use an explicit ROWS frame:
    the default RANGE frame would lump tied order keys into one
    cumulative value and break the next-fit arithmetic."""
    if target_tokens <= 0:
        raise ValueError("target_tokens must be positive")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    raw = F.floor(
        F.greatest(cum - 1, F.lit(0)) / F.lit(target_tokens)
    ).cast("int")
    # dense-rank the raw boundary index so pack ids are DENSE 0..n−1
    # per shard: a chunk larger than the target jumps the raw index by
    # >1 (its span crosses several boundaries), which would otherwise
    # leave empty pack ids for downstream consumers that iterate packs.
    # Same shard partitioning → no additional exchange.
    out = chunks.withColumn("_pack_raw", raw).withColumn(
        "pack_id",
        (
            F.dense_rank().over(
                Window.partitionBy(shard_col).orderBy("_pack_raw")
            )
            - 1
        ).cast("int"),
    ).drop("_pack_raw")
    wp = Window.partitionBy(shard_col, "pack_id").orderBy(*order_cols)
    wp_rows = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        out.withColumn(
            "pack_pos", (F.row_number().over(wp) - 1).cast("int")
        )
        .withColumn("pack_cum_tokens", F.sum(tokens_col).over(wp_rows))
    )

