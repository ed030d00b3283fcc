"""Streaming near-dup dedup through the persisted minhash index
(streaming/index_stream.py): a file stream drains micro-batch by
micro-batch through accept_batch, the survivor output equals the
sequential batch-mode result, and a replayed micro-batch (foreachBatch
at-least-once) changes nothing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataproject_spark.operators.dedup import hashed_word_shingles
from bigdataproject_spark.streaming.index_stream import (
    make_index_batch_writer,
    stream_dedup_to_index,
)

THRESHOLD = 0.8
BASE = (
    "the story begins when the old sailor and the young cook set out "
    "to sea because the harbor is empty and the wind is fair for travel"
)
B1 = [
    (1, BASE),
    (2, "completely different content about spark query engines and "
        "their adaptive execution of shuffles joins and aggregates at "
        "scale with columnar storage and vectorized readers"),
]
B2 = [
    (11, BASE + " tonight"),                     # near-dup of stored 1
    (12, "fresh unique text on gardening tomatoes in clay soil with "
         "compost mulch and careful watering through the hot months of "
         "the growing season until harvest time arrives"),
    (13, "fresh unique text on gardening tomatoes in clay soil with "
         "compost mulch and careful watering through the hot months of "
         "the growing season until harvest time ends"),  # dup of 12
]


def _docs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tokens = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
    )
    return df.withColumn("shingles", hashed_word_shingles(tokens, 3))


def _out_ids(spark, out):
    return {
        r["doc_id"] for r in spark.read.parquet(f"{out}/batch=*").collect()
    }


def _read_idx(spark, idx, table):
    """Read an index table through the versioned-layout resolver — after
    a compaction the live generation is ``{table}-v{N}`` named by the
    pointer file, not the flat legacy dir (operators/versioned.py)."""
    from bigdataproject_spark.operators.versioned import table_read_dir

    return spark.read.parquet(table_read_dir(spark, idx, table))


def _stored_ids(spark, idx):
    return {r["id"] for r in _read_idx(spark, idx, "shingles").collect()}


def test_stream_drains_through_index(spark, tmp_path):
    """Two files → two micro-batches (maxFilesPerTrigger=1) → survivors
    on disk equal the sequential accept_batch semantics: 11 dropped
    (near-dup of stored 1), 13 dropped (dup of smaller 12)."""
    src = tmp_path / "src"
    src.mkdir()
    _docs(spark, B1).coalesce(1).write.parquet(str(src / "f1.parquet"))
    _docs(spark, B2).coalesce(1).write.parquet(str(src / "f2.parquet"))
    # file streams read a flat dir of part files; re-lay the two writes
    # as two single part files in one dir
    import glob
    import shutil

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    import os
    import time

    now = time.time()
    for i, d in enumerate(["f1.parquet", "f2.parquet"]):
        part = glob.glob(str(src / d / "part-*.parquet"))[0]
        dst = stream_dir / f"{i:04d}.parquet"
        shutil.copy(part, dst)
        # the file source orders micro-batches by modification time;
        # pin strictly increasing mtimes so f1 is batch 0
        os.utime(dst, (now + i * 10, now + i * 10))

    schema = _docs(spark, B1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    idx, out, ckpt = (
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q = stream_dedup_to_index(
        stream, index_path=idx, out_path=out, checkpoint=ckpt,
        threshold=THRESHOLD,
    )
    q.awaitTermination(120)
    assert _out_ids(spark, out) == {1, 2, 12}
    stored = _stored_ids(spark, idx)
    assert stored == {1, 2, 12}
    # the survivor output carries the original columns, not signatures
    assert "shingles" not in spark.read.parquet(f"{out}/batch=*").columns


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: calling the batch writer twice
    with the same (batch_df, batch_id) — a crash-replay — must leave
    the index and the survivor output byte-identical in content."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    writer(_docs(spark, B2), 1)
    first_out = _out_ids(spark, out)
    n_store = _read_idx(spark, idx, "shingles").count()
    n_bands = _read_idx(spark, idx, "bands").count()

    writer(_docs(spark, B2), 1)  # replay the last micro-batch
    assert _out_ids(spark, out) == first_out == {1, 2, 12}
    assert _read_idx(spark, idx, "shingles").count() == n_store
    assert _read_idx(spark, idx, "bands").count() == n_bands
    # survivors of the replayed batch are still present (not lost to
    # the decide-phase being skipped on replay)
    b1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert b1 == {12}


def test_cross_batch_duplicate_id_not_reemitted(spark, tmp_path):
    """A later batch carrying a doc_id accepted by an EARLIER batch
    must treat it as already stored: the survivor output of the later
    batch must not duplicate the document."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    # re-crawl: doc 1 appears again in a DIFFERENT batch, plus doc 99
    recrawl = B1[:1] + [
        (99, "an entirely new report on alpine weather systems and the "
             "formation of lenticular clouds above high mountain ridges "
             "during stable winter inversions across the plateau")
    ]
    writer(_docs(spark, recrawl), 1)
    b1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert b1 == {99}
    assert _out_ids(spark, out) == {1, 2, 99}
    stored = _stored_ids(spark, idx)
    assert stored == {1, 2, 99}


def test_crash_between_ledger_and_append(spark, tmp_path):
    """Crash window: the survivor ledger committed but the index append
    never ran. The replay must complete the append from the ledger —
    not re-decide survivors against a store its append changed."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    # simulate the half-committed batch 1: run it fully, then roll the
    # INDEX back to its pre-batch state, keeping the ledger
    import shutil

    shutil.copytree(idx, str(tmp_path / "idx_snapshot"))
    writer(_docs(spark, B2), 1)
    shutil.rmtree(idx)
    shutil.copytree(str(tmp_path / "idx_snapshot"), idx)
    assert _stored_ids(spark, idx) == {1, 2}

    writer(_docs(spark, B2), 1)  # replay heals the append
    stored = _stored_ids(spark, idx)
    assert stored == {1, 2, 12}
    b1 = {r["doc_id"] for r in spark.read.parquet(f"{out}/batch=1").collect()}
    assert b1 == {12}


def test_full_lambda_flow_clean_then_index(spark, tmp_path):
    """The complete streaming story in ONE flow: stateless cleaning
    (lang/quality gates + redaction) composed in front of the stateful
    index drain — a crawl stream lands, gets cleaned, is checked
    against the historical corpus, and survivors extend the index."""
    from bigdataproject_spark.streaming.corpus_stream import (
        clean_document_stream,
        read_document_stream,
    )

    body = (
        "the story begins when the old sailor and the young cook set "
        "out to sea because the harbor is empty and the wind is fair "
        "for the long voyage and all the days of travel that follow"
    )
    rows = [
        (1, body, "en", "web", 1),
        (2, body + " tonight", "en", "web", 1),           # near-dup of 1
        (3, "short", "en", "web", 1),                     # quality-dropped
        (4, "contact sam@example.com for the market report that covers "
            "grain prices and the autumn shipping schedules along the "
            "river ports with notes on warehouse stocks and tariffs",
         "en", "web", 1),
        (5, body, "de", "web", 1),                        # language-dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    stream_dir = tmp_path / "crawl"
    docs.coalesce(1).write.parquet(str(stream_dir))

    stream = read_document_stream(spark, str(stream_dir))
    tokens = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
    )
    cleaned = clean_document_stream(stream, tokens).withColumn(
        "shingles", hashed_word_shingles(tokens, 3)
    )
    idx, out, ckpt = (
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q = stream_dedup_to_index(
        cleaned, index_path=idx, out_path=out, checkpoint=ckpt,
        threshold=THRESHOLD,
    )
    q.awaitTermination(120)
    # 3 dropped by quality, 5 by language (before the index); 2 is a
    # near-dup of 1 within the batch (min-id survives); 4 is distinct
    # content and passes with its email redacted
    surv = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{out}/batch=*").collect()
    }
    assert set(surv) == {1, 4}
    assert "<email>" in surv[4] and "sam@example.com" not in surv[4]
    stored = _stored_ids(spark, idx)
    assert stored == {1, 4}


def test_compaction_between_stream_batches(spark, tmp_path):
    """Production interleaving: compact_index runs BETWEEN micro-batches
    of a live stream. Survivor set, stored set, AND the pair set a
    probe batch sees must be identical to the no-compaction run."""
    from bigdataproject_spark.operators.dedup_index import (
        compact_index,
        incremental_minhash_pairs,
    )

    PROBE = [
        (21, BASE + " tomorrow"),  # near-dup of stored 1
        (22, "totally novel musings on cartography and the projection "
             "of coastlines onto flat maps with careful attention to "
             "distortion near the poles and the equator alike"),
    ]

    results = {}
    for mode in ("plain", "compacted"):
        idx = str(tmp_path / f"idx_{mode}")
        out = str(tmp_path / f"out_{mode}")
        writer = make_index_batch_writer(
            idx, out, id_col="doc_id", shingles_col="shingles",
            threshold=THRESHOLD,
        )
        writer(_docs(spark, B1), 0)
        if mode == "compacted":
            stats = compact_index(spark, idx)
            assert stats["bands"]["files_after"] >= 1
        writer(_docs(spark, B2), 1)
        if mode == "compacted":
            compact_index(spark, idx)
        pairs = sorted(
            (r["id_a"], r["id_b"], r["jaccard"], r["vs_index"])
            for r in incremental_minhash_pairs(
                spark, _docs(spark, PROBE), idx,
                id_col="doc_id", shingles_col="shingles",
                threshold=THRESHOLD,
            ).collect()
        )
        results[mode] = (
            _out_ids(spark, out),
            _stored_ids(spark, idx),
            pairs,
        )
    assert results["plain"] == results["compacted"]
    assert results["plain"][0] == {1, 2, 12}
    assert results["plain"][2]  # the probe really found near-dups


def test_crash_mid_compaction_heals_then_stream_replays(spark, tmp_path):
    """Rename-aside debris (live bands renamed aside, a completed
    compacted copy beside it — a swap no writer of the layout performs)
    followed by a stream replay: compaction and the replayed micro-batch
    both refuse the debris by name and change nothing; restored by hand,
    compaction runs and the replay leaves index and output unchanged."""
    import os
    import shutil

    from bigdataproject_spark.operators.dedup_index import compact_index

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    writer(_docs(spark, B2), 1)
    stored_before = _stored_ids(spark, idx)
    n_bands = _read_idx(spark, idx, "bands").count()

    live, tmp_d, old = (
        f"{idx}/bands", f"{idx}/bands__compacting", f"{idx}/bands__old"
    )
    (
        spark.read.parquet(live)
        .repartition(1, "band_hash")
        .sortWithinPartitions("band_id", "band_hash")
        .write.parquet(tmp_d)
    )
    shutil.move(live, old)

    def _files():
        return sorted(
            os.path.join(r, n) for r, _, fs in os.walk(idx) for n in fs
        )

    before = _files()
    with pytest.raises(IOError, match="bands__compacting, .*bands__old"):
        compact_index(spark, idx)
    with pytest.raises(Exception, match="bands__compacting"):
        writer(_docs(spark, B2), 1)
    assert _files() == before

    shutil.rmtree(tmp_d)
    shutil.move(old, live)  # restored by hand
    stats = compact_index(spark, idx)
    assert stats["bands"]["rows"] == n_bands
    assert _read_idx(spark, idx, "bands").count() == n_bands

    writer(_docs(spark, B2), 1)  # stream replay after the restore
    assert _out_ids(spark, out) == {1, 2, 12}
    assert _stored_ids(spark, idx) == stored_before
    assert _read_idx(spark, idx, "bands").count() == n_bands


def test_compaction_drops_crash_duplicate_band_rows(spark, tmp_path):
    """The bands-committed/shingles-crashed replay window leaves
    duplicate band rows (idempotence is exact at shingle granularity —
    module docstring). compact_index must shed them, and the next
    micro-batch must decide identically afterwards."""
    from bigdataproject_spark.operators.dedup_index import compact_index

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    bands = spark.read.parquet(f"{idx}/bands")
    n_unique = bands.count()
    # replayed append whose shingles write never committed: the same
    # band rows land a second time
    bands.filter(F.col("id") == 1).write.mode("append").parquet(f"{idx}/bands")
    assert spark.read.parquet(f"{idx}/bands").count() > n_unique

    compact_index(spark, idx)
    after = _read_idx(spark, idx, "bands")
    assert after.count() == n_unique
    assert after.dropDuplicates(["id", "band_id", "band_hash"]).count() == n_unique

    writer(_docs(spark, B2), 1)
    assert _out_ids(spark, out) == {1, 2, 12}


def test_replay_safe_without_success_markers(spark, tmp_path):
    """r5 review fix: the phase-1 commit point is OUR explicit ledger
    marker, not Hadoop's _SUCCESS — committers configured with
    marksuccessfuljobs=false write no _SUCCESS, and a guard keyed on it
    would re-decide a replayed batch against the store its own phase-2
    append already mutated, overwriting a correct ledger with an empty
    survivor set."""
    import os

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    # simulate a no-_SUCCESS committer: remove the marker Hadoop wrote
    succ = os.path.join(out, "batch=0", "_SUCCESS")
    if os.path.exists(succ):
        os.remove(succ)
    # replay AFTER phase 2 appended this batch's signatures: the ledger
    # marker must keep phase 1 from re-deciding (which would drop every
    # doc as already-stored and empty the batch directory)
    writer(_docs(spark, B1), 0)
    b0 = {r["doc_id"] for r in spark.read.parquet(f"{out}/batch=0").collect()}
    assert b0 == {1, 2}


def test_short_doc_not_duplicated_across_stream_batches(spark, tmp_path):
    """r5 review fix: an accepted doc with an EMPTY shingle set must be
    recorded in the index's membership set — the same id arriving in a
    later micro-batch is dropped, not emitted into a second batch dir."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, [(7, "too short")] + B1), 0)
    writer(_docs(spark, [(7, "too short")]), 1)
    b0 = {r["doc_id"] for r in spark.read.parquet(f"{out}/batch=0").collect()}
    b1rows = spark.read.parquet(f"{out}/batch=1").count()
    assert 7 in b0
    assert b1rows == 0


@pytest.mark.slow
def test_auto_compaction_policy_triggers_in_stream(spark, tmp_path):
    """r6: the auto-compaction policy fires INSIDE the foreachBatch
    loop (every-N-batches and min-band-files variants) — no explicit
    compact_index call — and the survivor set, stored set, and probe
    pairs are identical to the never-compacted run, while the bands
    table ends with strictly fewer part files."""
    from bigdataproject_spark.operators.dedup_index import (
        incremental_minhash_pairs,
    )
    from bigdataproject_spark.operators.versioned import n_live_files

    PROBE = [
        (21, BASE + " tomorrow"),
        (22, "totally novel musings on cartography and the projection "
             "of coastlines onto flat maps with careful attention to "
             "distortion near the poles and the equator alike"),
    ]

    results, band_files = {}, {}
    policies = {
        "plain": {},
        "every1": {"compact_every_n_batches": 1},
        "minfiles": {"compact_min_band_files": 1},
    }
    for mode, pol in policies.items():
        idx = str(tmp_path / f"idx_{mode}")
        out = str(tmp_path / f"out_{mode}")
        writer = make_index_batch_writer(
            idx, out, id_col="doc_id", shingles_col="shingles",
            threshold=THRESHOLD, **pol,
        )
        writer(_docs(spark, B1), 0)
        writer(_docs(spark, B2), 1)
        pairs = sorted(
            (r["id_a"], r["id_b"], r["jaccard"], r["vs_index"])
            for r in incremental_minhash_pairs(
                spark, _docs(spark, PROBE), idx,
                id_col="doc_id", shingles_col="shingles",
                threshold=THRESHOLD,
            ).collect()
        )
        results[mode] = (
            _out_ids(spark, out),
            _stored_ids(spark, idx),
            pairs,
        )
        band_files[mode] = n_live_files(spark, idx, "bands")
    assert results["plain"] == results["every1"] == results["minfiles"]
    assert results["plain"][0] == {1, 2, 12}
    assert results["plain"][2]
    # the policy actually compacted: appended part files were rewritten
    assert band_files["every1"] < band_files["plain"]
    assert band_files["minfiles"] < band_files["plain"]


def test_auto_compaction_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (at-least-once foreachBatch) under the
    every-N policy re-runs compaction harmlessly: index contents and
    survivor output unchanged."""
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD, compact_every_n_batches=1,
    )
    writer(_docs(spark, B1), 0)
    writer(_docs(spark, B2), 1)
    stored = _stored_ids(spark, idx)
    n_bands = _read_idx(spark, idx, "bands").count()
    writer(_docs(spark, B2), 1)  # replay
    assert _out_ids(spark, out) == {1, 2, 12}
    assert _stored_ids(spark, idx) == stored
    assert _read_idx(spark, idx, "bands").count() == n_bands


def test_replay_heals_lost_band_rows(spark, tmp_path):
    """r8-end driver ADVICE (medium), stream side: a prior run of a
    micro-batch racing an external compaction can lose its BAND rows
    while the shingle membership survives the generation flip. The
    foreachBatch replay must restore exactly the missing band rows
    (membership untouched, no duplicates) so the near-dup stays
    findable."""
    import shutil

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    writer = make_index_batch_writer(
        idx, out, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    writer(_docs(spark, B1), 0)
    writer(_docs(spark, B2), 1)

    # damage: survivor 12's band rows vanish, its membership survives
    bands_dir = f"{idx}/bands"
    kept = spark.read.parquet(bands_dir).filter(F.col("id") != 12)
    schema, rows = kept.schema, kept.collect()
    shutil.rmtree(bands_dir)
    spark.createDataFrame(rows, schema).write.parquet(bands_dir)
    n_damaged = spark.read.parquet(bands_dir).count()
    n_members = _read_idx(spark, idx, "shingles").count()

    writer(_docs(spark, B2), 1)  # the prescribed replay
    healed = spark.read.parquet(bands_dir)
    assert healed.filter(F.col("id") == 12).count() > 0
    assert healed.count() > n_damaged
    assert _read_idx(spark, idx, "shingles").count() == n_members
    assert _out_ids(spark, out) == {1, 2, 12}

    # a second replay is a no-op (the heal is anti-joined, not blind)
    n_after = healed.count()
    writer(_docs(spark, B2), 1)
    assert spark.read.parquet(bands_dir).count() == n_after
