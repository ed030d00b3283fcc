"""CPU-receipt A/B harness for plan-shape decisions (r12 protocol).

Wall-clock on this box swings ±40% with co-tenancy (SCALING.md r12:
same query, byte-identical plans, 37→187→54 s across windows), which
stalled a shape decision for a full round. ``executorCpuTime`` summed
over completed stages is nearly co-tenant-immune and separated three
graph_topology candidates decisively in ONE session (1330 / 1780 /
1113 CPU-s), then exposed the 6.3× interpreted-HOF pair kernel. This
tool packages that protocol so the next kernel question (PLANS.md
"r12 gram/shingle-kernel finding" queues two) starts at the
measurement, not at harness-building.

Usage (callers define candidates in a small driver script):

    from tools.cpu_ab import cpu_ab
    results = cpu_ab(spark, {
        "hof": lambda: build_hof(df),
        "codegen": lambda: build_codegen(df),
    }, rounds=2)

Each candidate is a zero-arg callable returning a DataFrame; the
harness warms every candidate once (JVM/codegen/cache), then runs
them INTERLEAVED for ``rounds`` rounds (interleaving distributes any
slow box drift across candidates instead of biasing whoever ran
last), forcing each with ``.count()`` and reading CPU/shuffle/job
deltas with ``sweeplib.measured`` (the status REST API, plus the
Python workers' CPU from ``/proc``). The session must be built with
the status API on and every stage retained:
``get_spark(extra_conf=sweeplib.STATUS_CONF)``.

Decide on ``cpu_s`` first, ``shuffle_write_mb`` second, scan count
(read from the plans) third; treat ``wall_s`` as color only.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from sweeplib import measured  # noqa: E402


def cpu_ab(
    spark, candidates: dict, *, rounds: int = 2, warm: bool = True,
    force: str = "count",
):
    """Run the interleaved CPU A/B. Returns {label: [{cpu_s, py_cpu_s,
    wall_s, shuffle_write_mb, shuffle_read_mb, jobs, stages, tasks,
    rows}, ...]}
    with one entry per round.

    ``candidates`` maps label → zero-arg callable returning a
    DataFrame (built fresh per call so each run replans; captured
    DataFrames are fine too — persisted inputs are the caller's
    choice and apply to every candidate equally).

    ``force``: ``"count"`` (default) or ``"noop"``. count() is honest
    for plans whose cost lives below an aggregation/join (nothing can
    be pruned), but for MAP-ONLY plans the optimizer prunes every
    projection under a count and the A/B measures an empty scan
    (guide §1.4) — pass ``force="noop"`` there; rows is then -1
    (the noop sink reports no count)."""
    def _force(df) -> int:
        if force == "noop":
            df.write.mode("overwrite").format("noop").save()
            return -1
        return df.count()

    if warm:
        for fn in candidates.values():
            _force(fn())
    out: dict = {label: [] for label in candidates}
    for _ in range(rounds):
        for label, fn in candidates.items():
            n, row = measured(spark, lambda: _force(fn()))
            row["wall_s"] = row.pop("sec")
            out[label].append({**row, "rows": n})
    return out
