"""Incremental near-dup detection against a persisted signature index.

Production dedup is incremental: a daily crawl batch must be checked
against the WHOLE historical corpus without recomputing the corpus'
signatures (re-running full-corpus LSH per batch is quadratic in
corpus-lifetime). The store is the minhash index itself — band rows for
candidate generation plus hashed shingle sets for exact verification —
so a batch costs: signatures over the BATCH only, one equi-join against
the stored band rows, verification joins against the stored shingle
sets, then an append of the accepted docs' rows. The reference's
resumable dedup (crawler/spider_worker.py:105-113) is the exact-id
version of this idea; this generalizes it to content similarity.

Scale shape: the stored `bands` table is read with a filter pushed on
nothing (every band row is a candidate target) but joined on the
high-entropy (band_id, band_hash) key — the batch side is small, so
AQE broadcasts it and the corpus-side table is scanned once, never
shuffled. The verify joins touch only candidate ids (semi-join-sized
reads). State lives entirely in parquet — no driver memory, resumable
by construction, and `accept_batch` keeps it monotone. On disk the
index is the `bands` and `shingles` tables in the versioned layout of
operators/versioned.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from bigdataproject_spark.operators.dedup import _plan_size_bytes, lsh_band_rows


def _prepared(
    docs: DataFrame, *, id_col: str, shingles_col: str
) -> DataFrame:
    """(id, sh) for the shingles store — EVERY doc, including empty/NULL
    shingle sets (normalized to []). The shingles table doubles as the
    index's id-membership set: filtering out short docs here would let
    the same id be accepted again by a later batch (the already-stored
    guard in accept_batch / index_stream reads this table). Empty rows
    are inert everywhere else — they have no band rows, so they never
    appear in candidates, and the verify joins only probe candidate
    ids."""
    sh = F.col(shingles_col)
    empty = F.array().cast(docs.schema[shingles_col].dataType.simpleString())
    return docs.select(
        F.col(id_col).alias("id"), F.coalesce(sh, empty).alias("sh")
    )


def _checked_bands(bands: DataFrame, path: str) -> DataFrame:
    """``bands`` (a read of the index's bands table) when its band keys
    are the portable family's strings. An int ``band_hash`` is a store
    written by the retired engine-specific family: its keys never
    match, and appending string rows beside them breaks every later
    read with a cast error — so refuse it by name, before anything is
    written."""
    t = bands.schema["band_hash"].dataType
    if not isinstance(t, StringType):
        raise IOError(
            f"minhash index {path}: stored band_hash is "
            f"{t.simpleString()}, written by the retired murmur3 MinHash "
            f"family; rebuild the index with write_minhash_index"
        )
    return bands


def write_minhash_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    append: bool = False,
    lease_owner: str | None = None,
) -> None:
    """Materialize (or extend) the index: a ``bands`` table with
    (id, band_id, band_hash) and a ``shingles`` table with (id, sh),
    both in the versioned layout of operators/versioned.py (flat
    ``{path}/bands`` until the first compaction versions the table;
    resolve reads through ``table_read_dir``, never hardcode the flat
    path). Bands are written BEFORE shingles on purpose: the shingles
    table is the index's id-membership commit point (see
    streaming/index_stream.py), so a crash between the two APPEND
    writes leaves only harmless orphan band rows, never a
    claimed-but-absent membership. ``lease_owner`` (default: this
    applicationId) is the writer lease a rebuild holds.

    REBUILD atomicity (r10, closing the r8-end driver ADVICE window by
    construction): on an already-versioned index a rebuild writes BOTH
    tables' next generations fully, then publishes them with ONE
    atomic pair-pointer flip (``pair.version``,
    operators/versioned.py:publish_pair) that outranks the per-table
    pointers in resolution — a reader can never observe NEW bands next
    to OLD shingles. A crash before the flip leaves two complete
    orphan generations (standard one-cycle grace, re-run rebuilds
    cleanly over them); a crash after it leaves only lagging per-table
    pointers, healed by the next publish. The crashed rebuild still
    leaves its lease behind (same ``lease_owner`` steals it back;
    appends from other owners fail loudly against it). A NEVER-
    versioned (generation-0) index is overwritten in place —
    documented reader-unsafe during the rewrite; compact once to enter
    the versioned generations if rebuilds must be concurrent with
    readers.

    The same (num_hashes, bands) and the same shingle element type MUST
    be used for every write and query against one index path — band
    keys of different signatures never collide, so a mismatch silently
    finds nothing; callers keep the parameters with the path (they are
    also the arguments of :func:`incremental_minhash_pairs`). Band keys
    are the portable MinHash family's '|'-joined member strings
    (:func:`~bigdataproject_spark.operators.dedup.lsh_band_rows`); a
    store whose ``band_hash`` is not a string predates that family and
    is refused by every reader of the bands table."""
    from bigdataproject_spark.operators.versioned import (
        TableMissingError,
        publish_pair,
        table_overwrite_target,
        table_read_dir,
    )

    spark = docs.sparkSession
    owner = lease_owner or spark.sparkContext.applicationId
    band_df = lsh_band_rows(
        docs,
        id_col=id_col,
        shingles_col=shingles_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    prep = _prepared(docs, id_col=id_col, shingles_col=shingles_col)
    if append:
        band_df.write.mode("append").parquet(
            table_read_dir(spark, path, "bands")
        )
        prep.write.mode("append").parquet(
            table_read_dir(spark, path, "shingles")
        )
        return
    # full REBUILD: runs under the writer lease — a rebuild racing a
    # lease-holding compaction would compute the same next generation
    # number and the two writers would tear each other's files (the
    # append path stays lease-CHECKED, not lease-holding, as
    # documented in operators/lease.py).
    from bigdataproject_spark.operators.lease import acquire_lease, release_lease

    acquire_lease(spark, path, owner)
    try:
        # stage BOTH tables' rewrites first, publish once: no crash
        # point between the two writes is observable (nothing flips
        # until both generations are complete on disk)
        staged: dict[str, tuple[int, str | None]] = {}
        for table, frame in (("bands", band_df), ("shingles", prep)):
            try:
                prev = table_read_dir(spark, path, table)
            except TableMissingError:
                prev = None
            tgt, ver = table_overwrite_target(spark, path, table)
            frame.write.mode("overwrite").parquet(tgt)
            if ver is not None:
                staged[table] = (ver, prev)
        publish_pair(spark, path, staged)
    finally:
        release_lease(spark, path, owner)


def _append_band_rows(
    heal_ids: DataFrame,
    path: str,
    *,
    id_col: str,
    num_hashes: int,
    bands: int,
) -> None:
    """Append exactly the MISSING band rows for the already-member
    ``heal_ids`` (no shingle / membership rows) — the heal half of the
    lease-race remediation (see :func:`accept_batch`): membership
    already exists for these ids, so only the candidate-generation side
    may need restoring. Band rows are recomputed from the STORED
    shingles, never from the current batch's payload (r9 review
    finding): a batch may legitimately re-submit a member id with
    DIFFERENT content, and a payload-derived heal would append band
    hashes advertising text the index does not hold — false candidates
    plus unbounded bands growth on every changed resubmission.
    Deriving from the store keeps ``bands ⊆ f(shingles)`` an invariant
    of every write path. Anti-joining the recomputed rows against the
    stored bands (both sides pruned to the heal ids first — map-side
    semi-joins against the broadcast id set, never shuffled) keeps the
    heal IDEMPOTENT: a resume that lost nothing appends nothing, so
    replay leaves the bands table row-identical. The missing set is
    localCheckpoint'd so the append plan does not read the directory it
    is appending to."""
    from bigdataproject_spark.operators.versioned import table_read_dir
    from bigdataproject_spark.session import release_local_checkpoint

    spark = heal_ids.sparkSession
    live = table_read_dir(spark, path, "bands")
    live_sh = table_read_dir(spark, path, "shingles")
    ids = F.broadcast(heal_ids.select(F.col(id_col).alias("id")).distinct())
    stored_docs = spark.read.parquet(live_sh).join(ids, "id", "left_semi")
    want = lsh_band_rows(
        stored_docs,
        id_col="id",
        shingles_col="sh",
        num_hashes=num_hashes,
        bands=bands,
    )
    stored = _checked_bands(spark.read.parquet(live), path).join(
        ids, "id", "left_semi"
    )
    missing = want.join(
        stored, ["id", "band_id", "band_hash"], "left_anti"
    ).localCheckpoint()
    try:
        if missing.count():
            missing.write.mode("append").parquet(live)
    finally:
        release_local_checkpoint(missing)


def incremental_minhash_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    *,
    id_col: str,
    shingles_col: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Verified near-dup pairs touching the new batch: (id_a, id_b,
    jaccard, vs_index) where id_a is always a new-batch doc, id_b is a
    stored doc (``vs_index`` true) or another new-batch doc (``vs_index``
    false, emitted once with id_a < id_b). Equivalent to running the
    full-corpus pipeline on stored ∪ new and keeping the pairs that
    involve a new doc (equality tested in tests/test_dedup_index.py).

    Rows are unique per ORIENTED (id_a, id_b). On a RESUMED batch
    (some batch ids already appended to the store) self-pairs are
    dropped, a pair reachable both via the store and via the batch
    reports ``vs_index`` true, and a pair of two batch docs one of
    which is also stored can appear in both orientations — once as
    (new, stored) and once as (smaller-new, larger-new); accept_batch
    handles both and stays idempotent.

    No identical-set collapse here (the batch is the small side; the
    collapse front-end pays off on full-corpus self-joins — see
    minhash_lsh_dedup_pairs)."""
    new_prep = _prepared(new_docs, id_col=id_col, shingles_col=shingles_col)
    new_bands = lsh_band_rows(
        new_docs,
        id_col=id_col,
        shingles_col=shingles_col,
        num_hashes=num_hashes,
        bands=bands,
    )
    from bigdataproject_spark.operators.versioned import table_read_dir

    stored_bands = _checked_bands(
        spark.read.parquet(table_read_dir(spark, path, "bands")), path
    )
    stored_sh = spark.read.parquet(table_read_dir(spark, path, "shingles"))

    nb = new_bands.select(
        F.col("id").alias("id_a"), "band_id", "band_hash"
    )
    # new vs stored: every (new, old) bucket collision kept as
    # (new, old); the id_a != id_b guard drops the degenerate self-pair
    # a RESUMED batch would produce (its ids already live in the store).
    cand_old = (
        nb.join(
            stored_bands.select(
                F.col("id").alias("id_b"), "band_id", "band_hash"
            ),
            on=["band_id", "band_hash"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .withColumn("vs_index", F.lit(True))
    )
    cand_new = (
        nb.join(
            new_bands.select(
                F.col("id").alias("id_b"), "band_id", "band_hash"
            ),
            on=["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .withColumn("vs_index", F.lit(False))
    )
    # one row per (id_a, id_b): when a pair is reachable both ways
    # (partner id present in the store AND in the batch — the resumed
    # case again), vs_index=true wins, recording that the store already
    # knows the partner.
    cands = (
        cand_old.unionByName(cand_new)
        .groupBy("id_a", "id_b")
        .agg(F.max("vs_index").alias("vs_index"))
    )

    lookup_a = new_prep.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    # One row per id when an id exists in both store and batch (the
    # resumed case; same content by assumption): keep the batch copy and
    # ANTI-JOIN the store against the broadcast batch ids. NOT
    # dropDuplicates over the union — that shuffles the ENTIRE store
    # per batch (measured 40% of a 5k-batch check against a 500k store);
    # the anti-join leaves the store map-side.
    batch_ids = F.broadcast(new_prep.select(F.col("id")))
    lookup_b = (
        stored_sh.join(batch_ids, "id", "left_anti")
        .select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        .unionByName(
            new_prep.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
            )
        )
    )
    joined = cands.join(lookup_a, "id_a").join(lookup_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # unrounded int-ratio division — same r11 float discipline as
    # dedup.jaccard_pairs (and required for incremental ≡ full parity)
    jac = inter / union
    return joined.select(
        "id_a", "id_b", jac.alias("jaccard"), "vs_index"
    ).filter(F.col("jaccard") >= threshold)


def dropped_ids(
    pairs: DataFrame, already_stored: DataFrame, *, id_col: str
) -> DataFrame:
    """The ONE keep-policy both the batch (:func:`accept_batch`) and the
    streaming (streaming/index_stream.py) flows share: from the verified
    pair set, drop the batch doc (id_a) when the partner is stored, else
    the larger batch id (min-id survivor — consistent with the
    connected-components min-label policy); union the already-stored ids
    so a resumed batch stays idempotent. One pass over the candidate
    pipeline — two .filter() branches would evaluate the whole
    LSH+verify plan twice."""
    return (
        pairs.select(
            F.when(F.col("vs_index"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col)
        )
        .unionByName(already_stored)
        .distinct()
    )


def accept_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    *,
    id_col: str,
    shingles_col: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
    lease_owner: str | None = None,
) -> DataFrame:
    """The full incremental step: find the batch docs that are NOT
    near-dups of the stored corpus or of an earlier (smaller-id) batch
    doc, append their signatures to the index, and return them.

    Keep-policy mirrors the engine default: a batch doc is dropped when
    it matches the stored corpus, or a smaller batch id (the min id of
    a within-batch dup chain survives — consistent with the
    connected-components min-label policy; use operators/concomp.py on
    the pairs when explicit cluster ids are needed).

    The drop-list is localCheckpoint'd BEFORE the index append: that
    truncates the survivor plan's lineage so it no longer reads
    ``{path}/bands`` — re-evaluating the returned frame after the
    append must not see the batch's own just-appended signatures.

    ``lease_owner`` (default: this applicationId) is checked against a
    compaction lease on the index (operators/lease.py): an append racing
    another writer's :func:`compact_index` swap would be silently
    dropped by the swap, so it raises loudly instead."""
    from bigdataproject_spark.operators.lease import (
        LeaseHeldError,
        assert_unleased,
    )
    from bigdataproject_spark.operators.versioned import table_read_dir

    owner = lease_owner or spark.sparkContext.applicationId
    assert_unleased(spark, path, owner)
    pairs = incremental_minhash_pairs(
        spark,
        new_docs,
        path,
        id_col=id_col,
        shingles_col=shingles_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )
    # checkpointed so the heal append below rereads the materialized id
    # set instead of re-scanning the shingles store
    already_stored = new_docs.select(F.col(id_col)).join(
        spark.read.parquet(table_read_dir(spark, path, "shingles")).select(
            F.col("id").alias(id_col)
        ),
        id_col,
        "left_semi",
    ).localCheckpoint()
    # idempotent resume rides inside dropped_ids: a batch id already
    # present in the store (a crash after a partial append, a re-run)
    # must not append a second copy of its signatures.
    dropped = dropped_ids(
        pairs, already_stored, id_col=id_col
    ).localCheckpoint()
    survivors = new_docs.join(dropped, id_col, "left_anti")
    try:
        write_minhash_index(
            survivors,
            path,
            id_col=id_col,
            shingles_col=shingles_col,
            num_hashes=num_hashes,
            bands=bands,
            append=True,
            lease_owner=owner,
        )
        # BAND-ROW HEAL (r8-end driver ADVICE): the lease-race window
        # this function's exit check makes loud can lose a batch's BAND
        # rows while its shingle (membership) rows survive the racing
        # compaction's flip — and a plain re-run could not repair that:
        # the anti-join above sees the id as stored and skips it, a
        # permanent recall hole. So the re-run this function prescribes
        # is made ACTUALLY healing: for every batch id that is already
        # a member, exactly the band rows MISSING from the store are
        # re-appended, recomputed from the STORED shingles so a
        # changed-content resubmission cannot smuggle foreign band
        # hashes in (anti-join inside _append_band_rows — an intact
        # resume appends nothing, keeping replays row-identical). On a
        # fresh batch the member set is empty (one cheap count on the
        # checkpointed set — no extra store scan) and the heal is
        # skipped entirely.
        if already_stored.count():
            _append_band_rows(
                already_stored,
                path,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
            )
    finally:
        from bigdataproject_spark.session import release_local_checkpoint

        release_local_checkpoint(already_stored)
    # lease RE-verification (documented TOCTOU in operators/lease.py):
    # a compaction acquiring the lease after the entry check has been
    # rewriting while we appended — those signature rows land in the
    # superseded generation and are LOST to its flip. One exists-check
    # per batch makes that loss loud and retriable instead of silent.
    try:
        assert_unleased(spark, path, owner)
    except LeaseHeldError as ex:
        raise RuntimeError(
            f"accept_batch: a foreign writer acquired the lease on "
            f"{path} DURING this append — the appended signatures may "
            f"be racing its compaction and could be dropped by the "
            f"generation flip; re-run this batch after the lease clears "
            f"(the re-run is idempotent at shingle granularity AND "
            f"re-appends band rows for already-member batch ids, so a "
            f"band write lost to the racing flip is healed)"
        ) from ex
    return survivors


_TARGET_FILE_BYTES = 128 << 20  # one comfortable parquet split


def compact_index(
    spark: SparkSession,
    path: str,
    *,
    num_files: int | None = None,
    lease_owner: str | None = None,
) -> dict[str, dict[str, int]]:
    """Rewrite the index in place: thousands of per-batch appended part
    files (``accept_batch`` appends every batch) become a few large
    files, clustered for the read patterns the index serves.

    ``bands`` is re-bucketed on ``band_hash`` and sorted within files by
    (band_id, band_hash): batch checks join on that key, so clustering
    gives parquet min-max row-group skipping and locality the
    arrival-order appends destroy. ``shingles`` is re-bucketed on ``id``
    (the verify joins and the resume anti-join both probe by id).
    ``num_files`` defaults to footer-estimated size / 128 MiB.

    MAINTENANCE op under the writer lease, READER-SAFE by layout (r8):
    no concurrent WRITER (an append racing the generation flip would
    land in the superseded generation and be dropped by GC — enforced
    best-effort by the writer lease this function acquires, see
    operators/lease.py; :func:`accept_batch` checks it before AND
    after its append), but concurrent READERS are safe: each table is
    rewritten into its NEXT generation directory
    (``bands-v{N}``/``shingles-v{N}`` — operators/versioned.py) and
    published by an atomic pointer flip, and the generation a reader
    resolved stays on disk until the NEXT compaction's GC (the
    one-generation grace window — a single resolution must not be held
    across two compaction cycles). ``lease_owner`` defaults to this
    applicationId; a restartable maintenance loop should pass a
    restart-stable string (the streaming flow passes its checkpoint
    path) so its own stale lease after a crash is stolen back instead
    of wedging it.

    Crash-safe by construction: the live generation is never touched —
    a crash before a flip leaves an orphan next-generation dir a later
    run skips past; a crash inside the (fallback, non-atomic) flip is
    covered by read resolution's newest-complete rule. Returns
    per-table {files_before, files_after, rows}.
    """
    from bigdataproject_spark.operators.lease import acquire_lease, release_lease

    owner = lease_owner or spark.sparkContext.applicationId
    acquire_lease(spark, path, owner)
    try:
        return _compact_index_leased(spark, path, num_files)
    finally:
        release_lease(spark, path, owner)


def _compact_index_leased(
    spark: SparkSession, path: str, num_files: int | None
) -> dict[str, dict[str, int]]:
    """:func:`compact_index` body, lease already held."""
    from bigdataproject_spark.operators.versioned import (
        n_parquet_files,
        publish_version,
        table_overwrite_target,
        table_read_dir,
    )

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    # ORDER MATTERS, and it is the REVERSE of the append order: appends
    # write bands THEN shingles (shingles = the membership commit), so a
    # compaction racing a not-yet-detected append (the documented lease
    # TOCTOU) snapshots shingles FIRST — a lost late shingle row leaves
    # the id a NON-member and the prescribed re-run re-appends both
    # tables (self-healing), where a lost band row with surviving
    # membership would be a silent recall hole no re-run heals (the
    # re-run's anti-join sees the id as stored). Ordering alone cannot
    # cover an append whose WHOLE write sequence lands after the bands
    # snapshot, so the bands rewrite additionally runs a LATE-FILE
    # SWEEP: the snapshot is an explicit file list, and any part file
    # that appeared in the superseded live dir after it is folded into
    # the new generation before the publish (loop until the listing is
    # stable; a racing append also trips its own post-write lease
    # check, so the sweep converges). The vanishing remainder — a band
    # file landing between the final listing and the pointer rename,
    # while the same append's shingle write resolves the already-
    # published new generation (membership survives, bands lost) — is
    # exactly the append the loud lease re-check on the other side
    # names, and the prescribed re-run HEALS it: accept_batch /
    # index_stream re-append the MISSING band rows for already-member
    # batch ids (r8-end driver ADVICE; _append_band_rows).
    def _part_files(d: str) -> list[str]:
        return sorted(
            st.getPath().toString()
            for st in fs.listStatus(Path(d))
            if st.getPath().getName().endswith(".parquet")
        )

    # resolve and snapshot both tables first, shingles first (the order
    # above): a failure, or a bands table of the retired hash family,
    # leaves the index untouched. Band files landing after the bands
    # snapshot are folded in by the late-file sweep below.
    prevs = {t: table_read_dir(spark, path, t) for t in ("shingles", "bands")}
    snaps = {t: _part_files(d) for t, d in prevs.items()}
    # an empty-but-valid table (ensure_index bootstraps 0-row frames)
    # can have no part files at all — read the dir so the schema still
    # resolves from the directory footer behavior
    frames = {
        t: spark.read.parquet(*snaps[t]) if snaps[t] else spark.read.parquet(d)
        for t, d in prevs.items()
    }
    _checked_bands(frames["bands"], path)
    stats: dict[str, dict[str, int]] = {}
    for table, keys in (("shingles", ["id"]), ("bands", ["band_hash"])):
        prev, snap, df = prevs[table], snaps[table], frames[table]
        if table == "bands":
            # a crash between a replayed append's bands write and its
            # shingles write leaves duplicate band rows (idempotence is
            # exact at shingle granularity only — see
            # streaming/index_stream.py). Harmless for candidate
            # generation (pairs are grouped), but growth is unbounded
            # under repeated crashes; compaction is where they die.
            df = df.dropDuplicates(["id", "band_id", "band_hash"])
        n = num_files
        if n is None:
            n = max(1, -(-_plan_size_bytes(df) // _TARGET_FILE_BYTES))
        sort_cols = ["band_id", "band_hash"] if table == "bands" else ["id"]
        tgt, ver = table_overwrite_target(
            spark, path, table, force_version=True
        )
        (
            df.repartition(n, *keys)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(tgt)
        )
        if table == "bands":
            seen = set(snap)
            for _ in range(5):
                late = [f for f in _part_files(prev) if f not in seen]
                if not late:
                    break
                # raw append of the straggler rows (unsorted, possibly
                # duplicate — both die at the next compaction); what
                # matters is the rows reach the published generation.
                spark.read.parquet(*late).write.mode("append").parquet(tgt)
                seen.update(late)
            else:
                raise RuntimeError(
                    f"compact_index: {prev} kept growing through 5 "
                    f"late-file sweeps — an un-leased writer is "
                    f"appending continuously; stop it and re-run"
                )

        before = n_parquet_files(spark, prev)
        rows = spark.read.parquet(tgt).count()
        publish_version(spark, path, table, ver, prev)
        stats[table] = {
            "files_before": before,
            "files_after": n_parquet_files(spark, tgt),
            "rows": rows,
        }
    return stats


def index_health(spark: SparkSession, path: str) -> dict:
    """Monitoring report for a minhash index — the dedup-side companion
    of simsearch's ``ivf_index_drift`` cadence fields (r8 VERDICT item
    2). Per table (``bands``, ``shingles``): the versioned layout's
    ``{generation, publish_count, last_publish_age_seconds}``
    (operators/versioned.py ``publish_cadence`` — the numbers the
    one-generation grace-window contract is alarmed on: keep compaction
    cadence SLOWER than the slowest external reader's scan) plus the
    live part-file count (the same number the streaming flow's
    ``compact_min_band_files`` trigger reads). Pure reader — listings
    and tiny-file reads only, no data pages, safe in a poll loop."""
    from bigdataproject_spark.operators.versioned import (
        TableMissingError,
        n_parquet_files,
        pair_versions,
        publish_cadence,
        table_read_dir,
    )

    out: dict = {}
    for table in ("bands", "shingles"):
        rep = publish_cadence(spark, path, table)
        try:
            rep["files"] = n_parquet_files(
                spark, table_read_dir(spark, path, table)
            )
        except TableMissingError:
            rep["files"] = None
        out[table] = rep
    # the r10 paired pointer, when present, is what readers actually
    # resolve — after a crashed paired publish the per-table cadence
    # generations LAG it, so a monitor comparing the two sees the
    # healing debt directly (pair[t] > generation[t] ⇒ re-run pending)
    out["pair"] = pair_versions(spark, path)
    return out
