"""Incremental IVF maintenance measurement (r6): cost of appending a
corpus delta to an existing index vs the full refit+rewrite it
replaces, and search health before/after.

Usage: python tools/ivf_append_bench.py SF_DIR [IDX_DIR]

Protocol: build the index on 90% of the embedding table (KMeans fit —
the expensive once-per-epoch step), append the remaining 10% in 2
batches via `ivf_append_index` (map-side assignment against the
existing centroids + partitioned append), then run one steady-state
query batch (native + blas) against the appended index. For the
comparison, also time a FULL rebuild over the complete table — the
operation the append replaces per delta. Prints one JSON line with
build/append/rebuild timings, the drift report, and the search batch
timings."""
from __future__ import annotations

import json
import shutil
import sys
import time

from sweeplib import control_sec, control_samples, force  # noqa: E402 (sys.path bootstrap)

from pyspark.sql import functions as F

from bigdataproject_spark.operators.simsearch import (
    ivf_append_index,
    ivf_compact_index,
    ivf_topk_indexed,
    ivf_write_index,
    release_search_broadcasts,
)
from bigdataproject_spark.session import get_spark
from bigdataproject_spark.sources.readers import load_table

N_CENTROIDS = 64
N_PROBE = 8
K = 10
BATCH_TARGET = 2000


def main() -> None:
    sf_dir = sys.argv[1]
    idx = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ivf_append_idx"
    shutil.rmtree(idx, ignore_errors=True)
    spark = get_spark("ivf-append-bench")
    # frozen environment control (same convention as bench.py and the
    # r9 sweeps): round-over-round maintenance wall deltas divide by
    # this median before being read as regressions. Skipped (null) for
    # partial SF dirs without lineitem.
    ctl = control_sec(control_samples(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings")
    idc = "emb_id" if "emb_id" in emb.columns else emb.columns[0]
    vc = "embedding" if "embedding" in emb.columns else emb.columns[1]
    corpus_n = emb.count()

    base = emb.filter(F.pmod(F.col(idc), F.lit(10)) != 0)
    deltas = [
        emb.filter(F.pmod(F.col(idc), F.lit(20)) == 0),
        emb.filter(F.pmod(F.col(idc), F.lit(20)) == 10),
    ]

    t0 = time.perf_counter()
    ivf_write_index(base, idx, id_col=idc, vec_col=vc, n_centroids=N_CENTROIDS)
    build_sec = time.perf_counter() - t0

    append_secs, reports = [], []
    for d in deltas:
        t0 = time.perf_counter()
        rep = ivf_append_index(d, idx, id_col=idc, vec_col=vc)
        append_secs.append(round(time.perf_counter() - t0, 2))
        reports.append(rep)
        print(f"  append: {append_secs[-1]}s {rep}", file=sys.stderr, flush=True)

    # the operation each append replaces: full refit + full rewrite
    t0 = time.perf_counter()
    ivf_write_index(
        emb, f"{idx}_rebuilt", id_col=idc, vec_col=vc, n_centroids=N_CENTROIDS
    )
    rebuild_sec = time.perf_counter() - t0
    shutil.rmtree(f"{idx}_rebuilt", ignore_errors=True)

    m = max(5, corpus_n // BATCH_TARGET)
    queries = emb.filter(F.pmod(F.col(idc), F.lit(m)) == 3)
    q_n = queries.count()
    search = {}
    for impl in ("native", "blas"):
        t0 = time.perf_counter()
        force(
            ivf_topk_indexed(
                spark, idx, queries, id_col=idc, vec_col=vc, k=K,
                n_probe=N_PROBE, impl=impl,
            )
        )
        search[impl] = round(time.perf_counter() - t0, 2)
        release_search_broadcasts(spark)

    # r7: compaction cost + the stats-ledger fold, measured on the
    # appended index (after the search timings so the search numbers
    # stay protocol-comparable with r6's).
    t0 = time.perf_counter()
    compact = ivf_compact_index(spark, idx)
    compact_sec = round(time.perf_counter() - t0, 2)

    # control-normalized maintenance costs (r10, same convention as
    # bench.py / the sweeps): phase_sec / control_median. Cross-round
    # adjudication compares THESE, not raw walls — the control is
    # byte-frozen, so its drift measures the box and dividing by it
    # makes the comparison mechanical (SCALING.md §ivf-envelope holds
    # the expected bands).
    normalized = (
        {
            "build": round(build_sec / ctl, 1),
            "append": [round(s / ctl, 1) for s in append_secs],
            "rebuild": round(rebuild_sec / ctl, 1),
            "compact": round(compact_sec / ctl, 1),
            "search_blas": round(search["blas"] / ctl, 1),
        }
        if ctl
        else None
    )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "control_sec": ctl,
                "corpus_n": corpus_n,
                "base_n": base.count(),
                "n_centroids": N_CENTROIDS,
                "build_sec": round(build_sec, 2),
                "append_secs": append_secs,
                "rebuild_sec": round(rebuild_sec, 2),
                "normalized": normalized,
                "drift": reports[-1],
                "search_batch_queries": q_n,
                "search_batch_sec": search,
                "compact_sec": compact_sec,
                "compact": compact,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
