"""Incremental dedup index (operators/dedup_index.py): the persisted
band/shingle store must give exactly the pairs the full-corpus pipeline
finds, restricted to pairs touching the new batch; accept_batch must
keep min-id survivors and extend the index monotonically."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataproject_spark.operators.dedup import (
    hashed_word_shingles,
    minhash_lsh_dedup_pairs,
)
from bigdataproject_spark.operators.dedup_index import (
    accept_batch,
    compact_index,
    incremental_minhash_pairs,
    write_minhash_index,
)

THRESHOLD = 0.8
BASE = (
    "the story begins when the old sailor and the young cook set out "
    "to sea because the harbor is empty and the wind is fair for travel"
)


def _docs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tokens = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
    )
    return df.withColumn("tokens", tokens).withColumn(
        "shingles", hashed_word_shingles("tokens", 3)
    )


OLD_ROWS = [
    (1, BASE),
    (2, BASE + " tonight"),                      # near-dup of 1
    (3, "completely different content about spark query engines and "
        "their adaptive execution of shuffles joins and aggregates at "
        "scale with columnar storage and vectorized readers"),
    (4, "a third unrelated document that talks about cooking rice with "
        "mushrooms and herbs in a heavy pot over a slow fire until the "
        "grains are tender and the broth is gone"),
]
NEW_ROWS = [
    (11, BASE + " again"),                       # near-dup of 1/2 (stored)
    (12, "fresh unique text on gardening tomatoes in clay soil with "
         "compost mulch and careful watering through the hot months of "
         "the growing season until harvest time arrives"),
    (13, "fresh unique text on gardening tomatoes in clay soil with "
         "compost mulch and careful watering through the hot months of "
         "the growing season until harvest time ends"),  # near-dup of 12
]


def _pair_set(rows):
    return {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["jaccard"]
        for r in rows
    }


def test_incremental_equals_full_corpus_restriction(spark, tmp_path):
    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")

    inc = incremental_minhash_pairs(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    got = _pair_set(inc)

    full = minhash_lsh_dedup_pairs(
        old.unionByName(new),
        id_col="doc_id",
        shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    new_ids = {r[0] for r in NEW_ROWS}
    want = {
        k: j
        for k, j in _pair_set(full).items()
        if k[0] in new_ids or k[1] in new_ids
    }
    assert got == want
    assert want, "fixture must actually contain cross-batch near-dups"
    # the near-dup of a stored doc is flagged vs_index
    flags = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["vs_index"]
        for r in inc
    }
    assert flags[(1, 11)] is True and flags[(12, 13)] is False


def test_accept_batch_survivors_and_index_growth(spark, tmp_path):
    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")

    kept = accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    # 11 dropped (dup of stored 1/2); 13 dropped (dup of smaller 12)
    assert {r["doc_id"] for r in kept.collect()} == {12}
    # the survivor's signatures are now in the store
    ids = {
        r["id"] for r in spark.read.parquet(f"{idx}/shingles").select("id").collect()
    }
    assert ids == {1, 2, 3, 4, 12}

    # a later batch duplicating the accepted survivor is caught
    batch2 = _docs(spark, [(21, NEW_ROWS[1][1] + " indeed")])
    pairs2 = incremental_minhash_pairs(
        spark, batch2, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs2} == {(21, 12)}
    # re-evaluating the earlier survivor frame after the append must not
    # self-match (lineage was checkpointed before the append)
    assert {r["doc_id"] for r in kept.collect()} == {12}


def test_resumed_batch_is_idempotent(spark, tmp_path):
    """Re-running accept_batch on the SAME batch (crash-resume) must
    not re-append signatures, emit self-pairs, or change survivors."""
    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    first = {r["doc_id"] for r in accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()}
    assert first == {12}
    n_store = spark.read.parquet(f"{idx}/shingles").count()

    # resume: the whole batch again, 12 now already stored
    pairs = incremental_minhash_pairs(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    assert all(r["id_a"] != r["id_b"] for r in pairs)
    # oriented rows are unique
    oriented = [(r["id_a"], r["id_b"]) for r in pairs]
    assert len(oriented) == len(set(oriented))
    # 13 vs stored 12 is now visible as a vs_index pair
    assert any(
        {r["id_a"], r["id_b"]} == {12, 13} and r["vs_index"] for r in pairs
    )
    again = {r["doc_id"] for r in accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()}
    assert again == set()  # nothing new to accept
    assert spark.read.parquet(f"{idx}/shingles").count() == n_store


def test_compaction_preserves_pairs(spark, tmp_path):
    """compact_index must be invisible to queries: identical pairs
    before and after, strictly fewer files after many small appends."""
    old = _docs(spark, OLD_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    # simulate the small-file swamp: many tiny accepted batches
    for i, text in enumerate(
        [
            "each appended batch writes its own part files into the store "
            "and after enough days the footer count dominates the read",
            "another distinct appended document about winter storage of "
            "root vegetables in sand boxes below the frost line outside",
            "a further unique text concerning the repair of wooden boats "
            "with oakum tar and patience over several working seasons",
        ]
    ):
        accept_batch(
            spark,
            _docs(spark, [(100 + i, text)]),
            idx,
            id_col="doc_id",
            shingles_col="shingles",
            threshold=THRESHOLD,
        )
    probe = _docs(spark, NEW_ROWS)

    def _pairs():
        return _pair_set(
            incremental_minhash_pairs(
                spark, probe, idx, id_col="doc_id",
                shingles_col="shingles", threshold=THRESHOLD,
            ).collect()
        )

    before = _pairs()
    assert before, "probe must find pairs for the equality to mean anything"
    n_ids = spark.read.parquet(f"{idx}/shingles").count()
    stats = compact_index(spark, idx)
    assert _pairs() == before
    assert spark.read.parquet(f"{idx}/shingles").count() == n_ids
    for table in ("bands", "shingles"):
        assert stats[table]["files_after"] < stats[table]["files_before"]
        assert stats[table]["files_after"] >= 1
    # compaction is re-runnable (idempotent on an already-compact store)
    stats2 = compact_index(spark, idx)
    assert _pairs() == before
    assert stats2["bands"]["rows"] == stats["bands"]["rows"]


def _assert_bands_debris_refused(spark, idx, probe, debris):
    """Read, append and compaction each refuse ``bands`` debris with an
    IOError naming it (not TableMissingError) and leave every file in
    place."""
    import os

    from bigdataproject_spark.operators.versioned import TableMissingError

    def _files():
        return sorted(
            os.path.join(r, n) for r, _, fs in os.walk(idx) for n in fs
        )

    before = _files()
    for op in (
        lambda: incremental_minhash_pairs(
            spark, probe, idx, id_col="doc_id",
            shingles_col="shingles", threshold=THRESHOLD,
        ).collect(),
        lambda: accept_batch(
            spark, probe, idx, id_col="doc_id",
            shingles_col="shingles", threshold=THRESHOLD,
        ),
        lambda: compact_index(spark, idx),
    ):
        with pytest.raises(IOError, match=debris) as ei:
            op()
        assert not isinstance(ei.value, TableMissingError)
        assert _files() == before


def test_compaction_recovers_interrupted_swap(spark, tmp_path):
    """Rename-aside debris — the live bands table gone beside a complete
    ``bands__compacting`` copy — is no state any writer of the layout
    leaves: read, append and compaction refuse it by name. Stale debris
    beside a RESOLVABLE table is never read: after a compaction the
    versioned generation serves and compacts regardless."""
    import shutil

    old = _docs(spark, OLD_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    probe = _docs(spark, NEW_ROWS)

    def _pairs():
        return _pair_set(
            incremental_minhash_pairs(
                spark, probe, idx, id_col="doc_id",
                shingles_col="shingles", threshold=THRESHOLD,
            ).collect()
        )

    before = _pairs()
    shutil.copytree(f"{idx}/bands", f"{idx}/bands__compacting")
    shutil.rmtree(f"{idx}/bands")
    _assert_bands_debris_refused(spark, idx, probe, "bands__compacting")

    shutil.move(f"{idx}/bands__compacting", f"{idx}/bands")  # by hand
    compact_index(spark, idx)  # bands-v1 now resolves
    shutil.copytree(f"{idx}/bands", f"{idx}/bands__compacting")
    shutil.rmtree(f"{idx}/bands")
    stats = compact_index(spark, idx)
    assert _pairs() == before
    assert stats["bands"]["rows"] > 0


def test_compaction_recovers_from_old_copy(spark, tmp_path):
    """Debris variant: the live bands table renamed aside to
    ``bands__old`` (next to an incomplete ``bands__compacting``). Read,
    append and compaction refuse it by name; restored by hand, the
    index finds the same pairs and compacts."""
    import shutil

    old = _docs(spark, OLD_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    probe = _docs(spark, NEW_ROWS)

    def _pairs():
        return _pair_set(
            incremental_minhash_pairs(
                spark, probe, idx, id_col="doc_id",
                shingles_col="shingles", threshold=THRESHOLD,
            ).collect()
        )

    before = _pairs()
    shutil.move(f"{idx}/bands", f"{idx}/bands__old")
    (tmp_path / "idx" / "bands__compacting").mkdir()
    _assert_bands_debris_refused(spark, idx, probe, "bands__old")

    shutil.move(f"{idx}/bands__old", f"{idx}/bands")  # restored by hand
    stats = compact_index(spark, idx)
    assert _pairs() == before
    assert stats["bands"]["rows"] > 0


def test_empty_batch(spark, tmp_path):
    old = _docs(spark, OLD_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    empty = _docs(spark, []).limit(0)
    assert (
        incremental_minhash_pairs(
            spark, empty, idx, id_col="doc_id", shingles_col="shingles",
            threshold=THRESHOLD,
        ).count()
        == 0
    )
    kept = accept_batch(
        spark, empty, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    assert kept.count() == 0
    assert spark.read.parquet(f"{idx}/shingles").count() == 4


@pytest.mark.slow
def test_hot_band_batch_join_no_key_hotspot(spark, tmp_path):
    """Skew stress (boilerplate-heavy corpus): every document — stored
    and batch — shares a large common shingle core, so minhash band
    hashes collide corpus-wide and the candidate join key is ONE hot
    bucket per band. The design claim (dedup_index.py module docstring)
    is that the batch side broadcasts, so the hot key never serializes
    into a single shuffle task — the stored side stays map-side and
    candidate rows distribute with the stored partitions. Asserted on
    the executed adaptive plan: the new-vs-stored bands join is a
    BroadcastHashJoin (no hash-partition exchange on band_hash), and
    the pathological batch completes with the correct (empty) verified
    pair set — the common core keeps Jaccard below threshold."""
    common = " ".join(f"boiler{j}" for j in range(120))
    idx = str(tmp_path / "idx")

    def mk(i):
        unique = " ".join(f"tok{i}x{j}" for j in range(60))
        return (i, common + " " + unique)

    stored = _docs(spark, [mk(i) for i in range(2000)]).repartition(8)
    write_minhash_index(
        stored, idx, id_col="doc_id", shingles_col="shingles"
    )
    # file-backed batch, as in production (a file-stream micro-batch):
    # the planner KNOWS the batch is small, so both candidate joins get
    # a static broadcast — a createDataFrame batch would carry the
    # unknown-size sentinel and force shuffle planning the real
    # pipeline never sees.
    batch_path = str(tmp_path / "batch")
    _docs(spark, [mk(i) for i in range(10_000, 10_100)]).write.parquet(
        batch_path
    )
    batch = spark.read.parquet(batch_path)
    pairs = incremental_minhash_pairs(
        spark, batch, idx,
        id_col="doc_id", shingles_col="shingles", threshold=THRESHOLD,
    )
    got = pairs.collect()
    # the shared core floods the candidate buckets, but J ≈ 120/300 per
    # pair — the verify stage must reject everything
    assert got == []
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no shuffle keyed on the hot band columns anywhere in the plan
    import re

    assert not re.search(r"Exchange hashpartitioning\(band_id", plan)
    assert not re.search(r"Exchange hashpartitioning\(band_hash", plan)


def test_short_doc_membership_survives_batches(spark, tmp_path):
    """r5 review fix: a doc too short to shingle (empty shingle set) is
    accepted but must still be RECORDED — the shingles table is the
    index's id-membership set, and a later batch carrying the same id
    must treat it as already stored instead of accepting it twice."""
    path = str(tmp_path / "idx_short")
    write_minhash_index(
        _docs(spark, OLD_ROWS),
        path,
        id_col="doc_id",
        shingles_col="shingles",
    )
    short = [
        (21, "too short"),
        (22, "entirely new prose about mountain weather patterns and the "
             "slow drift of glaciers carving valleys over thousands of "
             "years while rivers braid across the outwash plain below"),
    ]
    s1 = accept_batch(
        spark,
        _docs(spark, short),
        path,
        id_col="doc_id",
        shingles_col="shingles",
        threshold=THRESHOLD,
    )
    assert sorted(r.doc_id for r in s1.collect()) == [21, 22]
    # the short doc's id is now in the store's membership set
    stored = {
        r.id for r in spark.read.parquet(f"{path}/shingles").collect()
    }
    assert 21 in stored
    # same id re-arrives (duplicate delivery / overlapping crawl): the
    # already-stored guard must drop it, not accept a second copy
    s2 = accept_batch(
        spark,
        _docs(spark, [(21, "too short")]),
        path,
        id_col="doc_id",
        shingles_col="shingles",
        threshold=THRESHOLD,
    )
    assert s2.count() == 0


def test_rerun_heals_lost_band_rows(spark, tmp_path):
    """r8-end driver ADVICE (medium): an append racing an external
    compaction can lose its BAND rows (written into the superseded
    generation after the late-file sweep) while its SHINGLE membership
    survives (written into the already-published new generation) — a
    member without band rows is invisible to candidate generation, and
    a plain re-run's already-stored anti-join would skip the id
    forever. The prescribed remediation (re-run the batch) must
    therefore actually HEAL: accept_batch re-appends band rows for
    already-member batch ids unconditionally."""
    import shutil

    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()

    # simulate the race's damage: id 12's band rows vanish with the
    # superseded generation, its membership row survives
    bands_dir = f"{idx}/bands"
    kept = spark.read.parquet(bands_dir).filter(F.col("id") != 12)
    schema, rows = kept.schema, kept.collect()
    shutil.rmtree(bands_dir)
    spark.createDataFrame(rows, schema).write.parquet(bands_dir)

    # the hole is real: a fresh near-dup of stored 12 finds nothing
    probe = _docs(spark, [(21, NEW_ROWS[1][1] + " soon")])
    assert (
        incremental_minhash_pairs(
            spark, probe, idx, id_col="doc_id", shingles_col="shingles",
            threshold=THRESHOLD,
        ).count()
        == 0
    )

    # remediation: re-run the SAME batch — still idempotent (nothing
    # newly accepted, membership unchanged) but the heal restores 12's
    # band rows and the probe sees the pair again
    n_members = spark.read.parquet(f"{idx}/shingles").count()
    again = accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    assert again.count() == 0
    assert spark.read.parquet(f"{idx}/shingles").count() == n_members
    assert spark.read.parquet(bands_dir).filter(F.col("id") == 12).count() > 0
    pairs = incremental_minhash_pairs(
        spark, probe, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    assert any(
        {r["id_a"], r["id_b"]} == {12, 21} and r["vs_index"] for r in pairs
    )


def test_index_health_reports_cadence(spark, tmp_path):
    """r8 VERDICT item 2: the grace-window contract needs a monitorable
    cadence signal. index_health carries per-table generation /
    publish bound / pointer age; a compaction advances them."""
    from bigdataproject_spark.operators.dedup_index import index_health

    old = _docs(spark, OLD_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    h0 = index_health(spark, idx)
    for t in ("bands", "shingles"):
        assert h0[t]["generation"] is None  # legacy, never compacted
        assert h0[t]["publish_count"] == 0
        assert h0[t]["last_publish_age_seconds"] is None
        assert h0[t]["files"] >= 1

    compact_index(spark, idx)
    h1 = index_health(spark, idx)
    for t in ("bands", "shingles"):
        assert h1[t]["generation"] == 1
        assert h1[t]["publish_count"] == 1
        assert h1[t]["last_publish_age_seconds"] >= 0.0
        assert h1[t]["files"] >= 1

    compact_index(spark, idx)
    h2 = index_health(spark, idx)
    assert all(h2[t]["generation"] == 2 for t in ("bands", "shingles"))


def test_changed_content_resubmission_does_not_pollute_bands(spark, tmp_path):
    """r9 review finding: the band-row heal must derive from the STORED
    shingles, never from the current batch's payload — a batch that
    legitimately re-submits a member id with DIFFERENT content would
    otherwise append band hashes advertising text the index does not
    hold (false candidates + unbounded bands growth per resubmission).
    After the fix, such a resubmission leaves the bands table
    row-identical, and repeating it stays a no-op."""
    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    accept_batch(
        spark, new, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()

    def bands_snapshot():
        return sorted(
            (r.id, r.band_id, r.band_hash)
            for r in spark.read.parquet(f"{idx}/bands").collect()
        )

    before = bands_snapshot()
    # id 12 comes back with entirely different text (an upstream
    # recrawl reusing the id) — dropped as already-stored, and the heal
    # must not import its new content's band rows
    changed = _docs(
        spark,
        [(12, "totally new recrawled body about deep sea fish and the "
              "bioluminescent organs they use to hunt in the midnight "
              "zone far below the sunlit surface waters")],
    )
    out = accept_batch(
        spark, changed, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    )
    assert out.count() == 0  # member id -> dropped, not re-admitted
    assert bands_snapshot() == before  # row-identical: nothing smuggled in
    # idempotent under repetition too
    accept_batch(
        spark, changed, idx, id_col="doc_id", shingles_col="shingles",
        threshold=THRESHOLD,
    ).collect()
    assert bands_snapshot() == before


def test_store_of_retired_hash_family_is_refused_untouched(spark, tmp_path):
    """A store whose bands carry an int ``band_hash`` (written by the
    retired murmur3 family) shares no key with the portable family's
    string band keys. Appending string rows beside them would break
    every later read with a bare cast error, so the append, the query,
    the heal and the compaction each refuse the store by name, and
    nothing under the index root changes."""
    import os

    from bigdataproject_spark.operators.dedup_index import _append_band_rows

    old = _docs(spark, OLD_ROWS)
    new = _docs(spark, NEW_ROWS)
    idx = str(tmp_path / "idx")
    write_minhash_index(old, idx, id_col="doc_id", shingles_col="shingles")
    spark.createDataFrame(
        [(i, b, i * 31 + b) for i in (1, 2, 3, 4) for b in range(8)],
        "id long, band_id int, band_hash int",
    ).write.mode("overwrite").parquet(f"{idx}/bands")

    def tree():
        out = {}
        for root, _, files in os.walk(idx):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, idx)] = fh.read()
        return out

    before = tree()
    kw = dict(id_col="doc_id", shingles_col="shingles", threshold=THRESHOLD)
    refused = "murmur3.*rebuild the index with write_minhash_index"
    with pytest.raises(IOError, match=refused):
        accept_batch(spark, new, idx, **kw)
    with pytest.raises(IOError, match=refused):
        incremental_minhash_pairs(spark, new, idx, **kw)
    with pytest.raises(IOError, match=refused):
        _append_band_rows(
            old.select("doc_id"), idx, id_col="doc_id", num_hashes=32, bands=8
        )
    with pytest.raises(IOError, match=refused):
        compact_index(spark, idx)
    assert tree() == before
