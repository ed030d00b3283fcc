"""Streaming near-dup dedup end-to-end: a document stream drains
through the persisted minhash index (operators/dedup_index.py) one
micro-batch at a time — the full lambda flow executed as ONE pipeline
(stateless cleaning stages stream in corpus_stream.py; the
cross-document state lives in the parquet index, not in stream state).

Effective exactly-once without stream state: foreachBatch is
at-least-once, so the batch step is a two-phase idempotent commit —

  1. the batch's survivor set is decided against the CURRENT store
     (LSH candidates + verify + already-stored anti-join) and written
     to ``{out_path}/batch={batch_id}`` with overwrite. This ledger
     write is the commit point: it happens BEFORE any index mutation,
     and replaying it recomputes the identical set (the store hasn't
     changed) or rewrites the same files.
  2. the survivors' signatures are appended to the index, guarded by
     an anti-join against the store's current ids — idempotent at
     SHINGLE granularity: a replay (or a crash between 1 and 2)
     appends exactly the missing shingle rows and nothing twice.
     Signature membership is defined by the shingles table, which
     `write_minhash_index` writes AFTER the bands table, so a crash
     mid-append can leave orphan or duplicate band rows — harmless
     for correctness (orphans only create candidate pairs the verify
     join then drops; duplicates are collapsed by the candidate
     groupBy) but unbounded in bytes under repeated crashes, so
     `compact_index` drops duplicate (id, band_id, band_hash) rows on
     every compaction (tested in tests/test_streaming_index.py).

A batch containing a doc id accepted by an EARLIER batch treats it as
already stored (dropped), so survivor outputs never duplicate a
document across batch directories — including docs with EMPTY shingle
sets (too short to shingle): the shingles table records every accepted
id, so membership is complete even for docs that can never pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataproject_spark.operators.dedup_index import (
    dropped_ids,
    incremental_minhash_pairs,
    write_minhash_index,
)
from bigdataproject_spark.operators.versioned import n_live_files, touch

__all__ = ["ensure_index", "make_index_batch_writer", "stream_dedup_to_index"]

# Phase-1 commit marker, written BY US after the ledger write returns.
# Hadoop's _SUCCESS is not the commit point on purpose: object-store
# committers routinely run with marksuccessfuljobs=false, and a guard
# that silently never fires would re-decide a replayed batch against a
# store phase 2 already mutated — overwriting a correct ledger with an
# empty survivor set.
_LEDGER_MARKER = "_LEDGER_COMMITTED"


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def ensure_index(
    spark: SparkSession,
    path: str,
    *,
    like: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    lease_owner: str | None = None,
) -> None:
    """Bootstrap an EMPTY index at ``path`` if none exists (zero-row
    band/shingle parquet with the correct schema, derived from
    ``like``) — lets the first micro-batch run the same code path as
    every later one."""
    from bigdataproject_spark.operators.versioned import (
        TableMissingError,
        table_read_dir,
    )

    try:
        table_read_dir(spark, path, "shingles")
        return
    except TableMissingError:
        pass
    write_minhash_index(
        like.limit(0),
        path,
        id_col=id_col,
        shingles_col=shingles_col,
        num_hashes=num_hashes,
        bands=bands,
        lease_owner=lease_owner,
    )


def make_index_batch_writer(
    index_path: str,
    out_path: str,
    *,
    id_col: str,
    shingles_col: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
    compact_every_n_batches: int | None = None,
    compact_min_band_files: int | None = None,
    lease_owner: str | None = None,
):
    """The foreachBatch function (see module docstring for the
    two-phase idempotent commit). Exposed separately from
    :func:`stream_dedup_to_index` so tests can drive replay and
    crash-window cases directly. ``lease_owner`` should be a
    restart-stable string (:func:`stream_dedup_to_index` derives one
    from the checkpoint path) — it guards the index append against a
    concurrent external compaction and lets this stream's own
    compaction steal back its stale lease after a crash
    (operators/lease.py).

    Auto-compaction policy: without it, per-batch appends (and the
    duplicate band rows a crash replay can leave) grow the index's
    file count and bytes without bound until someone remembers to call
    ``compact_index`` — at 100 TB "remembers to" is not a policy.
    ``compact_every_n_batches=N`` compacts after every N-th batch
    (batch ids are monotonic and checkpoint-stable, so the trigger
    needs no writer-side state and survives restarts);
    ``compact_min_band_files=M`` compacts whenever the bands table has
    accumulated ≥ M part files (one cheap listStatus per batch).
    Either, both, or neither may be set. The compaction runs INSIDE
    foreachBatch after phase 2 — exactly the between-batches window
    ``compact_index`` requires (no concurrent reader; the next batch
    starts only after this one returns), and a crash anywhere around
    it is already covered by compaction's never-touched live generation
    + the two-phase batch replay."""
    from bigdataproject_spark.operators.dedup_index import compact_index

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from bigdataproject_spark.operators.lease import (
            LeaseHeldError,
            assert_unleased,
        )
        from bigdataproject_spark.operators.versioned import table_read_dir

        spark = batch_df.sparkSession
        owner = lease_owner or spark.sparkContext.applicationId
        assert_unleased(spark, index_path, owner)
        ensure_index(
            spark,
            index_path,
            like=batch_df,
            id_col=id_col,
            shingles_col=shingles_col,
            num_hashes=num_hashes,
            bands=bands,
            lease_owner=owner,
        )
        out_dir = f"{out_path}/batch={batch_id}"
        stored_ids = spark.read.parquet(
            table_read_dir(spark, index_path, "shingles")
        ).select(F.col("id").alias(id_col))

        # phase 1 — decide + persist the survivor set (skip if this
        # batch's ledger already committed: a replay must not re-decide
        # against the store its own append already changed). The commit
        # point is OUR marker, created after the ledger write returns —
        # a crash between write and marker replays phase 1 against a
        # still-unchanged store (phase 2 has not run), reproducing the
        # identical set.
        if not _exists(spark, f"{out_dir}/{_LEDGER_MARKER}"):
            pairs = incremental_minhash_pairs(
                spark,
                batch_df,
                index_path,
                id_col=id_col,
                shingles_col=shingles_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
            )
            already = batch_df.select(id_col).join(
                stored_ids, id_col, "left_semi"
            )
            # the same keep-policy as accept_batch, by construction
            dropped = dropped_ids(pairs, already, id_col=id_col)
            survivors = batch_df.join(dropped, id_col, "left_anti").drop(
                shingles_col
            )
            survivors.write.mode("overwrite").parquet(out_dir)
            touch(spark, f"{out_dir}/{_LEDGER_MARKER}")

        # phase 2 — append exactly the ledger survivors the store does
        # not know yet (replay-safe by construction). The id set is
        # localCheckpoint'd so the append plan does NOT read the
        # shingles dir it is appending to (same lineage-truncation move
        # as accept_batch).
        new_ids = (
            spark.read.parquet(out_dir)
            .select(id_col)
            .join(stored_ids, id_col, "left_anti")
            .localCheckpoint()
        )
        to_append = batch_df.join(new_ids, id_col, "left_semi")
        try:
            write_minhash_index(
                to_append,
                index_path,
                id_col=id_col,
                shingles_col=shingles_col,
                num_hashes=num_hashes,
                bands=bands,
                append=True,
                lease_owner=owner,
            )
            # BAND-ROW HEAL (r8-end driver ADVICE, same move as
            # accept_batch): a prior run of this batch racing an
            # external compaction can lose its BAND rows while the
            # shingle membership survives the flip — the replay's
            # anti-join above then skips those ids and the recall hole
            # would be permanent. Re-append the MISSING band rows for
            # every ledger survivor that is ALREADY a member (survivors
            # minus new_ids — empty on a first run, so the normal path
            # writes nothing; the check reads only the small per-batch
            # ledger against the checkpointed id set, no store scan;
            # _append_band_rows anti-joins so an intact replay appends
            # nothing and stays row-identical).
            member_ids = (
                spark.read.parquet(out_dir)
                .select(id_col)
                .join(new_ids, id_col, "left_anti")
            )
            if not member_ids.isEmpty():
                from bigdataproject_spark.operators.dedup_index import (
                    _append_band_rows,
                )

                # heal from the STORED shingles, not the batch payload
                # (r9 review: a replayed ledger id whose upstream
                # content drifted must not smuggle foreign band hashes)
                _append_band_rows(
                    member_ids,
                    index_path,
                    id_col=id_col,
                    num_hashes=num_hashes,
                    bands=bands,
                )
        finally:
            # r7: the per-batch id-set checkpoint is fully consumed by
            # the append — release its blocks deterministically so a
            # long stream does not accumulate one snapshot per batch
            # until the JVM happens to GC them.
            from bigdataproject_spark.session import release_local_checkpoint

            release_local_checkpoint(new_ids)

        # lease RE-verification (documented TOCTOU in operators/lease.py):
        # an external compaction acquiring the lease after this batch's
        # entry check would flip the generation out from under the rows
        # just appended — make that loud; the two-phase replay re-appends
        # them on the retried batch.
        try:
            assert_unleased(spark, index_path, owner)
        except LeaseHeldError as ex:
            raise RuntimeError(
                f"index batch {batch_id}: a foreign writer acquired the "
                f"lease on {index_path} DURING this append — the appended "
                f"signatures may be racing its compaction's generation "
                f"flip; the retried batch re-appends them idempotently "
                f"(including band rows for ids whose membership survived "
                f"the flip but whose band write was lost to it)"
            ) from ex

        due = (
            compact_every_n_batches is not None
            and (batch_id + 1) % compact_every_n_batches == 0
        ) or (
            compact_min_band_files is not None
            and n_live_files(spark, index_path, "bands")
            >= compact_min_band_files
        )
        if due:
            compact_index(spark, index_path, lease_owner=lease_owner)

    return _write_batch


def stream_dedup_to_index(
    docs_stream: DataFrame,
    *,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    compact_every_n_batches: int | None = None,
    compact_min_band_files: int | None = None,
):
    """Drain a (already shingled) document stream through the index:
    returns the started StreamingQuery (availableNow trigger — process
    everything pending, then stop; call ``.awaitTermination()``).
    ``compact_every_n_batches`` / ``compact_min_band_files`` enable the
    in-stream auto-compaction policy (see
    :func:`make_index_batch_writer`)."""
    writer = make_index_batch_writer(
        index_path,
        out_path,
        id_col=id_col,
        shingles_col=shingles_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        compact_every_n_batches=compact_every_n_batches,
        compact_min_band_files=compact_min_band_files,
        lease_owner=f"dedup-stream:{checkpoint}",
    )
    return (
        docs_stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
