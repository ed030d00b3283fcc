"""Scale rehearsal for the substring-span dedup family
(operators/spandedup.py) — sweep.py's measurement protocol (frozen
control, per-query shuffle deltas, watchdog: sweeplib.run_cases) over
the three entry points that are NOT registry queries, at a
make_scale.py corpus where every document has K exact copies (worst
case: every gram of every doc is duplicated, so the post-filter hit
volume equals the gram volume — the honest upper bound for the doc_id
exchange).

Usage: python tools/span_scale.py SF_DIR [TIMEOUT_S]
"""
from __future__ import annotations

import json
import os
import sys

from sweeplib import (  # noqa: E402 (sys.path bootstrap lives here)
    STATUS_CONF,
    apply_scale_env,
    control_sec,
    control_samples,
    run_cases,
)

from bigdataproject_spark.operators.spandedup import (
    remove_duplicate_spans,
    span_dedup_stats,
)
from bigdataproject_spark.session import get_spark
from bigdataproject_spark.sources.readers import load_table


def main() -> None:
    sf_dir = sys.argv[1]
    timeout_s = float(sys.argv[2]) if len(sys.argv) > 2 else 900.0
    apply_scale_env(sf_dir, os.environ)
    spark = get_spark("span-scale", extra_conf=STATUS_CONF)
    ctl = control_samples(spark, sf_dir)

    def docs():
        return load_table(spark, sf_dir, "documents")

    def _decontam_case(d):
        from pyspark.sql import functions as F

        from bigdataproject_spark.operators.spandedup import reference_gram_keys

        kh = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        ref = reference_gram_keys(
            d.where(kh < "0d"), text_col="text", k=8, hash_family="xxhash64"
        )
        return remove_duplicate_spans(
            d.where(kh >= "0d"),
            id_col="doc_id",
            text_col="text",
            k=8,
            hash_family="xxhash64",
            reference_keys=ref,
        )

    cases = {
        # md5 keys: the oracle-portable default (32-char shuffle key)
        "span_stats_md5": lambda: span_dedup_stats(
            docs(), id_col="doc_id", text_col="text", k=8, hash_family="md5"
        ),
        # xxhash64: the narrow-shuffle scale variant (8-byte key)
        "span_stats_xxhash64": lambda: span_dedup_stats(
            docs(), id_col="doc_id", text_col="text", k=8, hash_family="xxhash64"
        ),
        # the full cut: spans recomputed + collect_list + per-token filter
        "span_remove_xxhash64": lambda: remove_duplicate_spans(
            docs(), id_col="doc_id", text_col="text", k=8, hash_family="xxhash64"
        ),
        # decontamination mode: ~5% md5-keyrange eval split as the
        # reference (the contamination_check convention), train = rest —
        # no count aggregate, reference keys broadcast/semi-joined
        "span_decontam_xxhash64": lambda: _decontam_case(docs()),
    }

    out, leaked = run_cases(spark, cases, timeout_s)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "timeout_s": timeout_s,
                "leaked_threads": leaked,
                "control_sec": control_sec(ctl),
                "queries": out,
                "total_sec": round(
                    sum(q.get("sec", 0.0) for q in out.values()), 1
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
