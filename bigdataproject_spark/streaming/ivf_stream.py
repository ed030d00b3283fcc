"""Streaming IVF index maintenance: an embedding stream appends into a
persisted IVF index (operators/simsearch.py) one micro-batch at a time
— the search-side twin of the streaming dedup-index flow
(streaming/index_stream.py). The reference has no counterpart (its data
model stops at batch scripts); this is the steady-state story a
training-data pipeline needs: documents arrive continuously, their
embeddings must become searchable without a quantizer refit or index
rewrite per delta.

Exactly-once without stream state: foreachBatch is at-least-once, so
every append runs with ``ivf_append_index(guard_ids=True)`` — the
membership anti-join is partition-pruned to the batch's own touched
``cell=`` partitions (assignment against fixed centroids is
deterministic, so a replayed row lands exactly where its first copy
lives; checking those partitions is exhaustive). A replayed or crashed-
and-retried batch therefore appends exactly the missing rows — nothing
twice — and the drift ledger stays honest through the ledger protocol
(r7): each append passes ``ledger_id=f"batch-{batch_id}"`` (batch ids
are checkpoint-stable), so the stats row is written at-most-once and
BEFORE the cells append — a crash between the two no longer loses the
batch's stats row (the pre-r7 crash window).

Single-writer lease: every append and compaction runs under
``lease_owner=f"ivf-stream:{checkpoint}"`` — restart-stable, so a
stream that crashed mid-compaction steals its OWN stale lease back on
the next trigger instead of wedging, while a second maintenance driver
pointed at the same index fails loudly (operators/lease.py).

Unlike the dedup-index flow there is NO bootstrap-from-nothing: an IVF
index needs trained centroids, so the stream maintains an index BUILT
from a seed corpus (``ivf_write_index`` /
``ivf_write_index_from_centroids``). That is the real-world shape — the
coarse quantizer is fit once per epoch on existing data; the stream
keeps the index current between refits, and the per-batch drift report
(``rebuild_recommended``) is the signal that the next refit is due.
The report is surfaced through ``on_report`` (called once per batch,
post-guard) rather than a log line, so a driver loop can route it to
whatever alerting exists.

Auto-compaction policy: per-batch appends grow the cells file count
without bound (≤ _IVF_FILES_PER_CELL files per touched cell per batch)
until someone remembers to call ``ivf_compact_index`` — at 100 TB
"remembers to" is not a policy. ``compact_every_n_batches=N`` compacts
after every N-th batch (batch ids are monotonic and checkpoint-stable:
no writer-side state, survives restarts); ``compact_min_cell_files=M``
compacts whenever the cells table holds ≥ M part files (one recursive
listing per batch). The compaction runs INSIDE foreachBatch after the
append — exactly the between-batches window compaction requires for
WRITERS — and a crash anywhere around it is covered by the
never-touched live generation + the guarded replay. The compaction also folds the
stats ledger (per-batch tiny files → one file) and prunes the
at-most-once markers of every batch that can no longer replay (all
committed ids — everything below the current batch), so the folded
ledger is bounded at ≤3 ROWS in one file for the stream's whole
lifetime, and the per-batch drift read stays listing-cheap forever.

READERS ARE SAFE during drains (r8): ``ivf_compact_index`` writes the
compacted cells/stats into the NEXT generation directory and publishes
it with an atomic pointer flip (operators/versioned.py) — the
generation an external search service resolved stays on disk until the
NEXT compaction's GC, so a search never sees a missing path
mid-compaction. The only reader contract left is the one-generation
grace window: a single resolved scan must not be held across two
compaction cycles (size ``compact_every_n_batches`` accordingly for
long-running external scans).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from bigdataproject_spark.operators.simsearch import (
    ivf_append_index,
    ivf_compact_index,
)
from bigdataproject_spark.operators.versioned import n_live_files

__all__ = ["make_ivf_batch_writer", "stream_embeddings_to_ivf"]


def make_ivf_batch_writer(
    index_path: str,
    *,
    id_col: str,
    vec_col: str,
    rebuild_threshold: float = 2.0,
    compact_every_n_batches: int | None = None,
    compact_min_cell_files: int | None = None,
    on_report: Callable[[int, dict], None] | None = None,
    lease_owner: str | None = None,
):
    """The foreachBatch function (see module docstring). Exposed
    separately from :func:`stream_embeddings_to_ivf` so tests can drive
    replay and crash-window cases directly. ``lease_owner`` should be a
    restart-stable string (:func:`stream_embeddings_to_ivf` derives one
    from the checkpoint path); None falls back to the applicationId,
    which changes per restart and therefore cannot steal back its own
    stale lease after a crash."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        report = ivf_append_index(
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            rebuild_threshold=rebuild_threshold,
            guard_ids=True,
            ledger_id=f"batch-{batch_id}",
            lease_owner=lease_owner,
        )
        if on_report is not None:
            on_report(batch_id, report)

        due = (
            compact_every_n_batches is not None
            and (batch_id + 1) % compact_every_n_batches == 0
        ) or (
            compact_min_cell_files is not None
            and n_live_files(spark, index_path, "cells")
            >= compact_min_cell_files
        )
        if due:
            # keep_marker_ids={current batch}: inside foreachBatch of
            # batch N, every id < N is COMMITTED (Structured Streaming
            # replays at most the batch whose commit is pending), so
            # pruning their at-most-once markers is safe and the folded
            # ledger stays <= 3 rows for the stream's whole lifetime.
            ivf_compact_index(
                spark,
                index_path,
                lease_owner=lease_owner,
                keep_marker_ids={f"batch-{batch_id}"},
            )

    return _write_batch


def stream_embeddings_to_ivf(
    vec_stream: DataFrame,
    *,
    index_path: str,
    checkpoint: str,
    id_col: str = "id",
    vec_col: str = "vec",
    rebuild_threshold: float = 2.0,
    compact_every_n_batches: int | None = None,
    compact_min_cell_files: int | None = None,
    on_report: Callable[[int, dict], None] | None = None,
):
    """Drain an embedding stream into an EXISTING IVF index at
    ``index_path`` (build one from a seed corpus first — see module
    docstring): returns the started StreamingQuery (availableNow
    trigger — process everything pending, then stop; call
    ``.awaitTermination()``)."""
    writer = make_ivf_batch_writer(
        index_path,
        id_col=id_col,
        vec_col=vec_col,
        rebuild_threshold=rebuild_threshold,
        compact_every_n_batches=compact_every_n_batches,
        compact_min_cell_files=compact_min_cell_files,
        on_report=on_report,
        lease_owner=f"ivf-stream:{checkpoint}",
    )
    return (
        vec_stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
