"""Capture .explain('formatted') for queries into plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/capture_plans.py <tag> <suffix> [name ...]
  tag     e.g. r12            (output dir plans/r12/)
  suffix  e.g. before | after
  names   query names (registry or EXTRA_PARITY); default = bench HEADLINE set.

The optimization judge reads these files to check plan claims (guide §1:
record Exchange count, join strategy, PushedFilters/ReadSchema, codegen
spans) — capture BEFORE and AFTER for every query touched in the round.
"""
from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from bench import HEADLINE  # noqa: E402
from bigdataproject_spark.queries import registry  # noqa: E402
from bigdataproject_spark.queries_pipeline import EXTRA_PARITY  # noqa: E402
from bigdataproject_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    outdir = os.path.join(REPO_ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-plans")
    reg = {**EXTRA_PARITY, **registry()}
    for name in names:
        df = reg[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = f"{outdir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
