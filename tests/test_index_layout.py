"""The one on-disk layout of the two maintained indexes
(operators/versioned.py): what every writer leaves under an index root,
and the states no writer leaves, which every reader and writer refuses
loudly instead of guessing.

* Every writer of the IVF index and of the MinHash index leaves only the
  layout's names under the root, and every complete cells generation
  carries its paired ``_centroids`` copy.
* A rebuild that dies before its paired centroid copy is on disk leaves
  a cells generation that search, append and compaction reject with an
  ``IOError`` naming it — there is no other quantizer to fall back to.
* Rename-aside debris (``{t}__compacting`` / ``{t}__old``) beside a
  missing table is rejected by read, append and compaction alike with a
  plain ``IOError`` (never ``TableMissingError``, which would rebuild
  the stats ledger from the cells), and nothing on disk changes.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

from bigdataproject_spark.operators import simsearch
from bigdataproject_spark.operators.dedup_index import (
    accept_batch,
    compact_index,
    incremental_minhash_pairs,
    write_minhash_index,
)
from bigdataproject_spark.operators.simsearch import (
    ivf_append_index,
    ivf_compact_index,
    ivf_index_drift,
    ivf_topk_indexed,
    ivf_write_index,
    ivf_write_index_from_centroids,
)
from bigdataproject_spark.operators.versioned import (
    TableMissingError,
    complete_versions,
    table_read_dir,
    versioned_dir,
)

KW = dict(id_col="vec_id", vec_col="embedding")
MH = dict(id_col="doc_id", shingles_col="shingles")
LAYOUT_NAMES = re.compile(
    r"^(cells|stats|bands|shingles)(-v\d+)?$"
    r"|^(cells|stats|bands|shingles)\.version$"
    r"|^pair\.version$|^_writer\.lock$"
)


def _vectors(spark, lo, hi):
    return spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>",
    )


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, [i % 7, i % 7 + 1, i % 7 + 2, 100 + i]) for i in range(lo, hi)],
        "doc_id long, shingles array<bigint>",
    )


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def _assert_layout(spark, idx):
    names = [n for n in os.listdir(idx) if not re.match(r"^\..*\.crc$", n)]
    assert names and all(LAYOUT_NAMES.match(n) for n in names), names
    if os.path.isdir(f"{idx}/cells"):
        gens = [f"{idx}/cells"] + [
            versioned_dir(idx, "cells", v)
            for v in complete_versions(spark, idx, "cells")
        ]
        gens.append(table_read_dir(spark, idx, "cells"))
        for g in gens:
            assert os.path.isfile(f"{g}/_centroids/_SUCCESS"), g


def test_every_writer_leaves_only_layout_names(spark, tmp_path):
    ivf = str(tmp_path / "ivf")
    base, delta = _vectors(spark, 0, 40), _vectors(spark, 40, 60)
    ivf_write_index(base, ivf, n_centroids=3, max_iter=2, **KW)
    _assert_layout(spark, ivf)
    ctrs = [(0, [0.0, 0.0, 1.0]), (1, [4.0, 2.0, 1.0])]
    ivf_write_index_from_centroids(base, ivf, ctrs, **KW)
    _assert_layout(spark, ivf)
    ivf_append_index(delta, ivf, guard_ids=True, ledger_id="b0", **KW)
    ivf_append_index(delta, ivf, guard_ids=True, ledger_id="b0", **KW)
    _assert_layout(spark, ivf)
    ivf_compact_index(spark, ivf)
    _assert_layout(spark, ivf)
    ivf_write_index_from_centroids(base, ivf, ctrs, **KW)  # versioned rebuild
    _assert_layout(spark, ivf)
    ivf_index_drift(spark, ivf)
    _assert_layout(spark, ivf)

    mh = str(tmp_path / "mh")
    write_minhash_index(_docs(spark, 0, 30), mh, **MH)
    _assert_layout(spark, mh)
    accept_batch(spark, _docs(spark, 25, 45), mh, threshold=0.5, **MH)
    _assert_layout(spark, mh)
    compact_index(spark, mh)
    _assert_layout(spark, mh)
    write_minhash_index(_docs(spark, 0, 45), mh, **MH)  # paired rebuild
    _assert_layout(spark, mh)
    assert os.path.isfile(f"{mh}/pair.version")


def test_torn_rebuild_centroids_raise_naming_generation(
    spark, tmp_path, monkeypatch
):
    """An in-place rebuild (never-compacted index) with a NEW quantizer
    dies after its cells write, before the paired centroid copy: the
    generation-0 cells now hold the new partitioning with no quantizer.
    Search, append and compaction must refuse it, not probe the new
    cells with any other centroid table."""
    idx = str(tmp_path / "idx")
    base = _vectors(spark, 0, 40)
    ivf_write_index_from_centroids(
        base, idx, [(0, [0.0, 0.0, 1.0]), (1, [4.0, 2.0, 1.0])], **KW
    )
    real = simsearch._one_partition_df

    def dies_on_centroids(spark_, rows, schema):
        if schema == simsearch._CENTROIDS_SCHEMA:
            raise RuntimeError("rebuild died before its centroid copy")
        return real(spark_, rows, schema)

    monkeypatch.setattr(simsearch, "_one_partition_df", dies_on_centroids)
    new_ctrs = [(c, [float(c), float(c % 3), 1.0]) for c in range(5)]
    with pytest.raises(RuntimeError, match="rebuild died"):
        ivf_write_index_from_centroids(base, idx, new_ctrs, **KW)
    monkeypatch.undo()
    assert not os.path.exists(f"{idx}/_writer.lock")

    gen = f"{idx}/cells"
    msg = re.escape(f"generation {gen} has no complete _centroids")
    with pytest.raises(IOError, match=msg):
        ivf_topk_indexed(spark, idx, base, k=3, n_probe=2, **KW).collect()
    with pytest.raises(IOError, match=msg):
        ivf_append_index(_vectors(spark, 40, 50), idx, guard_ids=True, **KW)
    with pytest.raises(IOError, match=msg):
        ivf_compact_index(spark, idx)
    # a full rebuild is the remedy
    ivf_write_index_from_centroids(base, idx, new_ctrs, **KW)
    assert ivf_topk_indexed(spark, idx, base, k=3, n_probe=2, **KW).count()


def _ivf_ops(spark, idx, table):
    probe = _vectors(spark, 0, 8)
    reads = [lambda: ivf_index_drift(spark, idx)]
    if table == "cells":
        reads.append(
            lambda: ivf_topk_indexed(
                spark, idx, probe, k=3, n_probe=2, **KW
            ).collect()
        )
    return reads + [
        lambda: ivf_append_index(
            _vectors(spark, 60, 70), idx, guard_ids=True, ledger_id="b9", **KW
        ),
        lambda: ivf_compact_index(spark, idx),
    ]


def _mh_ops(spark, idx):
    batch = _docs(spark, 25, 45)
    return [
        lambda: incremental_minhash_pairs(
            spark, batch, idx, threshold=0.5, **MH
        ).collect(),
        lambda: accept_batch(spark, batch, idx, threshold=0.5, **MH),
        lambda: compact_index(spark, idx),
    ]


@pytest.mark.parametrize("shape", ["__compacting", "__old"])
@pytest.mark.parametrize(
    "index,table", [("ivf", "cells"), ("ivf", "stats"), ("mh", "bands")]
)
def test_debris_rejected_by_read_append_and_compaction(
    spark, tmp_path, monkeypatch, index, table, shape
):
    idx = str(tmp_path / "idx")
    if index == "ivf":
        ivf_write_index_from_centroids(
            _vectors(spark, 0, 40), idx,
            [(0, [0.0, 0.0, 1.0]), (1, [4.0, 2.0, 1.0])], **KW
        )
        ivf_append_index(
            _vectors(spark, 40, 60), idx, guard_ids=True, ledger_id="b0", **KW
        )
        ops = _ivf_ops(spark, idx, table)
    else:
        write_minhash_index(_docs(spark, 0, 30), idx, **MH)
        ops = _mh_ops(spark, idx)
    live, debris = f"{idx}/{table}", f"{idx}/{table}{shape}"
    if shape == "__compacting":  # a complete copy, live gone
        shutil.copytree(live, debris)
        shutil.rmtree(live)
    else:  # live renamed aside
        shutil.move(live, debris)
    assert os.path.isfile(f"{debris}/_SUCCESS")

    def never(*a, **k):
        raise AssertionError("stats ledger reconstructed over debris")

    monkeypatch.setattr(simsearch, "_reconstruct_build_stats", never)
    before = _tree(idx)
    for op in ops:
        with pytest.raises(IOError, match=re.escape(debris)) as ei:
            op()
        assert not isinstance(ei.value, TableMissingError)
        assert "rebuild" in str(ei.value)
        assert _tree(idx) == before
