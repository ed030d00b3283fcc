"""Span-decontamination scale measurement with a FIXED eval benchmark
(the realistic protocol): the reference set is ~5% of the DISTINCT
texts (one base copy each — a frozen eval suite does not scale with the
crawl), the training side is everything else in the scaled corpus
(including every duplicate copy of the eval texts — the leak the scrub
exists to cut). Contrast with span_scale.py's ``span_decontam`` case,
which splits eval by RAW doc id: on a K×-duplicated corpus that puts
copies of every text in eval, the reference covers the whole gram
space, and the decontam advantage collapses to the hit volume by
construction (measured — see SCALING.md). Both regimes are honest; this
one is the slope a production decontam job actually rides.

Expects a make-scale-style corpus whose doc_id = base_id + i*100M
(tools/make_scale.py / the sf100span builder). Prints one JSON line:
control, eval/train row counts, wall, CPU, shuffle bytes, job counts.

Usage: python tools/span_decontam_scale.py SF_DIR [TIMEOUT_S]
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
    force as _force,
    measured,
)

from pyspark.sql import functions as F

from bigdataproject_spark.operators.spandedup import (
    reference_gram_keys,
    remove_duplicate_spans,
)
from bigdataproject_spark.session import get_spark
from bigdataproject_spark.sources.readers import load_table

OFF = 100_000_000  # make_scale.py's copy shift


def main() -> None:
    sf_dir = sys.argv[1]
    apply_scale_env(sf_dir, os.environ)
    spark = get_spark("span-decontam-scale", extra_conf=STATUS_CONF)
    ctl = control_sec(control_samples(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents")
    # eval = base copy (doc_id < OFF) of ~5% of distinct texts — the
    # contamination_check md5-keyrange convention applied to BASE ids
    kh = F.substring(F.md5(F.pmod(F.col("doc_id"), F.lit(OFF)).cast("string")), 1, 2)
    ev = docs.where((F.col("doc_id") < OFF) & (kh < "0d"))
    train = docs.join(ev.select("doc_id"), "doc_id", "left_anti")
    n_eval, n_train = ev.count(), train.count()
    ref = reference_gram_keys(ev, text_col="text", k=8, hash_family="xxhash64")

    _, row = measured(
        spark,
        lambda: _force(
            remove_duplicate_spans(
                train,
                id_col="doc_id",
                text_col="text",
                k=8,
                hash_family="xxhash64",
                reference_keys=ref,
            )
        ),
    )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "protocol": "fixed-eval-benchmark (base-copy 5% distinct-text split)",
                "control_sec": ctl,
                "n_eval_docs": n_eval,
                "n_train_docs": n_train,
                **row,
                "normalized_sec": round(row["sec"] / ctl, 1) if ctl else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
