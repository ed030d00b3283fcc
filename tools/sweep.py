"""Query sweep at a given SF dir: per query wall seconds, executor CPU,
shuffle bytes written and read, and job / stage / task counts, each
query under a watchdog.

Usage: python tools/sweep.py SF_DIR [--timeout S] [--passes N] [--chunks N] [name ...]

Names resolve in ``{**EXTRA_PARITY, **registry()}``; the default is
every registry query, sorted — it answers "does EVERY registered query
still complete, and with a sane plan, at 100x?". An explicit list
serves the headline set (bench.HEADLINE) and scale rehearsals where
only a table subset exists at the target SF (e.g. the r6 sf100-class
run over events/documents/embeddings). Same session defaults as
bench.py otherwise (AQE on, 32 shuffle partitions, zstd parquet), plus
the status REST API (sweeplib.STATUS_CONF): the metrics are
completed-stage deltas around each query's timed passes, plus the
Python workers' CPU (sweeplib.stage_totals).

Why these columns: wall time alone hides the 100 TB story — a query can
look fine at sf1 while its shuffle volume grows super-linearly. At
bench scale the opposite holds: sf0.1 walls are 0.3-1.0 s, where
per-stage scheduling overhead and serialized driver actions can
dominate, so CPU, jobs, stages and tasks say which regime each query is
in (compute, shuffle or scheduling) before anyone optimizes.

Passes and the warm pass (one rule, from ``--passes`` alone):
``--passes 1`` (the default) times each query's FIRST run in this JVM —
a scale sweep never pays a second run of a half-hour query, and the
frozen control run before the sweep absorbs JVM/codegen warmup.
``--passes N`` with N > 1 first runs each query once untimed (JVM,
codegen, footer caches — the role bench.py's warmup query plays) and
reports the median wall and per-pass CPU, shuffle and counts: a
steady-state figure.

Watchdog: a query that exceeds ``--timeout`` (default 600 s, warm pass
included) is cancelled via its job group and recorded as
``{"timeout": true}`` instead of wedging the sweep (tools/sweeplib.py
``run_cases``).

``--chunks N`` is the sf100 protocol: the full registry in fresh-JVM
chunks. Why not one app: within a single application, shuffle files
live until the ContextCleaner happens to GC the frames that own them —
at sf100 the output-quadratic dedup queries each write 20-30 GB of
shuffle, so a 50-query single-app sweep can exhaust local disk on
ACCUMULATED shuffle files even though every individual query fits.
Each chunk re-invokes this script in its own JVM (shuffle dirs are
wiped at app exit). Queries are dealt by a STABLE NAME HASH
(md5("v3:" + name) mod n_chunks — r11, per the r10 verdict's item 4):
the r10 sweep showed that sorted-order round-robin re-deals EVERY chunk
whenever one query is renamed, moving the heaviest queries' JVM
co-residents and with them their wall-times (embedding_neardup 1279 →
1713 s with byte-identical plans). With the name-hash deal a rename or
addition moves ONLY that query; every carried query keeps its
co-residents forever. The "v3:" salt was chosen once (and is now part
of the protocol) because it spreads the heavy shuffle queries —
embedding_neardup, dedup_ngram_jaccard, dedup_minhash_lsh,
span_dedup_report, energy_timeline_nested — into five different chunks
at the current registry. A fresh JVM per chunk also isolates any leaked
cancelled-query thread to its own chunk (``tainted_by`` rows can never
cross a chunk boundary).

Prints one JSON line:
  {"sf_dir", "timeout_s", "leaked_threads", "control_sec",
   "control_sec_before", "control_sec_after", "queries": {name: {"sec",
   "cpu_s", "py_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "jobs",
   "stages", "tasks"} | {"timeout": true} | {"error": "..."}},
   "total_sec"}
With ``--chunks`` the chunk outputs merge into one line with "n_chunks",
"protocol" and "control_sec_per_chunk" in place of the before/after
control; per-chunk JVM startup is excluded from ``total_sec``, which
sums per-query seconds either way.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

from sweeplib import (  # noqa: E402 (sys.path bootstrap lives here)
    REPO_ROOT,
    STATUS_CONF,
    apply_scale_env,
    control_sec,
    control_samples,
    run_cases,
)

from bigdataproject_spark.queries import registry
from bigdataproject_spark.queries_pipeline import EXTRA_PARITY
from bigdataproject_spark.session import get_spark


def deal(names: list[str], n_chunks: int) -> list[list[str]]:
    """Stable name-hash deal — rename-proof (see the module docstring)."""
    chunks: list[list[str]] = [[] for _ in range(n_chunks)]
    for n in names:
        h = int(hashlib.md5(f"v3:{n}".encode()).hexdigest(), 16)
        chunks[h % n_chunks].append(n)
    return chunks


def _total(queries: dict) -> float:
    return round(sum(q.get("sec", 0.0) for q in queries.values()), 2)


def sweep(args, reg: dict) -> dict:
    apply_scale_env(args.sf_dir, os.environ)  # before the session is built
    spark = get_spark("sweep", extra_conf=STATUS_CONF)
    # frozen environment control, BEFORE and AFTER the sweep (r8
    # VERDICT item 5): the headline bench normalizes box drift by a
    # control median; the sweep previously could not — a +12% wall on
    # byte-identical plans needed manual adjudication. Two sample
    # points bound drift ACROSS the sweep window too. The before-run
    # also absorbs JVM/codegen warmup (per chunk JVM under --chunks).
    ctl_before = control_samples(spark, args.sf_dir)
    cases = {
        n: (lambda q=reg[n]: q.fn(spark, args.sf_dir)) for n in args.names
    }
    queries, leaked = run_cases(spark, cases, args.timeout, args.passes)
    ctl_after = control_samples(spark, args.sf_dir)
    spark.stop()
    return {
        "sf_dir": args.sf_dir,
        "timeout_s": args.timeout,
        "leaked_threads": leaked,
        "control_sec": control_sec(ctl_before + ctl_after),
        "control_sec_before": control_sec(ctl_before),
        "control_sec_after": control_sec(ctl_after),
        "queries": queries,
        "total_sec": _total(queries),
    }


def sweep_chunks(args) -> dict:
    env = {**os.environ, "PYTHONPATH": REPO_ROOT}
    apply_scale_env(args.sf_dir, env)
    merged: dict[str, dict] = {}
    leaked: list[str] = []
    controls: list[float] = []
    for i, chunk in enumerate(c for c in deal(args.names, args.chunks) if c):
        print(f"-- chunk {i}: {chunk}", file=sys.stderr, flush=True)
        proc = subprocess.run(
            [
                sys.executable, os.path.abspath(__file__), args.sf_dir,
                "--timeout", str(args.timeout),
                "--passes", str(args.passes),
                *chunk,
            ],
            capture_output=True,
            text=True,
            env=env,
        )
        line = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not line:
            for n in chunk:
                merged[n] = {
                    "error": f"chunk died rc={proc.returncode}: "
                    + proc.stderr[-200:].replace("\n", " ")
                }
            continue
        out = json.loads(line[-1])
        merged.update(out["queries"])
        leaked.extend(out["leaked_threads"])
        if out["control_sec"] is not None:
            controls.append(out["control_sec"])
    return {
        "sf_dir": args.sf_dir,
        "timeout_s": args.timeout,
        "n_chunks": args.chunks,
        "protocol": "fresh JVM per chunk (sweep.py), "
        "name-hash deal md5('v3:'+name) % n_chunks — "
        "rename-stable co-residents (r11)",
        "leaked_threads": leaked,
        # per-JVM frozen-control medians (one per chunk, chunk order):
        # the median normalizes the whole sweep; the spread bounds box
        # drift across chunks
        "control_sec": control_sec(controls),
        "control_sec_per_chunk": controls,
        "queries": merged,
        "total_sec": _total(merged),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--chunks", type=int, default=0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()
    if args.passes < 1 or args.chunks < 0 or args.timeout <= 0:
        ap.error("needs --passes >= 1, --chunks >= 0 and --timeout > 0")
    reg = {**EXTRA_PARITY, **registry()}
    args.names = args.names or sorted(registry())
    unknown = [n for n in args.names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    print(json.dumps(sweep_chunks(args) if args.chunks else sweep(args, reg)))


if __name__ == "__main__":
    sys.exit(main())
