"""End-to-end composed training-data pipeline measurement:

  redact → line dedup (keep-first) → corpus funnel (lang/quality/
  exact+near dedup) → substring-span removal (r10) → chunking →
  training-shard write

Usage: python tools/pipeline_bench.py SF_DIR [WORK_DIR]

Each stage is materialized to parquet in WORK_DIR (default
/tmp/pipe_bench) exactly as a production pipeline would checkpoint
between major stages, so stage timings are additive and each stage's
metrics (CPU, shuffle bytes, jobs, stages, tasks) are its own.
Prints one JSON line with per-stage {sec, cpu_s, py_cpu_s,
shuffle_write_mb, shuffle_read_mb, jobs, stages, tasks, rows_out}.

On the synthetic corpus every document has K exact copies (the
make_scale property), so line-granularity dedup degenerates to
document dedup — which is the ADVERSARIAL case for the hot-line
aggregation: every line is hot, the keep-mark join and the rebuild
carry the entire corpus. A real web corpus is strictly easier.
"""
from __future__ import annotations

import json
import shutil
import sys
import time

from sweeplib import STATUS_CONF, measured  # noqa: E402 (sys.path bootstrap lives here)

from pyspark.sql import functions as F

from bigdataproject_spark.operators.chunking import chunk_documents
from bigdataproject_spark.operators.corpus import clean_corpus
from bigdataproject_spark.operators.linededup import dedup_lines
from bigdataproject_spark.operators.packing import pack_sequences
from bigdataproject_spark.operators.redact import redact_expr
from bigdataproject_spark.session import get_spark
from bigdataproject_spark.sources.readers import load_table
from bigdataproject_spark.sources.writers import write_training_shards

def _tokens():
    return F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda x: x != ""
    )


def main() -> None:
    sf_dir = sys.argv[1]
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/pipe_bench"
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark("pipeline-bench", extra_conf=STATUS_CONF)
    out: dict[str, dict] = {}

    def stage(name: str, fn) -> None:
        rows, row = measured(spark, fn)
        out[name] = {**row, "rows_out": rows}
        print(f"  {name}: {out[name]}", file=sys.stderr, flush=True)

    def s_redact() -> int:
        docs = load_table(spark, sf_dir, "documents")
        red = docs.withColumn("text", redact_expr("text"))
        red.write.mode("overwrite").parquet(f"{work}/redacted")
        return spark.read.parquet(f"{work}/redacted").count()

    def s_linededup() -> int:
        docs = spark.read.parquet(f"{work}/redacted")
        # keep_first: one global occurrence of each hot line survives —
        # on the K×-duplicated corpus this is the max-traffic shape
        # (every line hot, full-corpus keep-mark join + rebuild)
        dd = dedup_lines(docs, keep_first=True)
        dd.write.mode("overwrite").parquet(f"{work}/linededup")
        return (
            spark.read.parquet(f"{work}/linededup")
            .filter(F.length("text") > 0)
            .count()
        )

    def s_funnel() -> int:
        docs = (
            spark.read.parquet(f"{work}/linededup")
            .filter(F.length("text") > 0)
            .withColumn("tokens", _tokens())
        )
        clean = clean_corpus(docs, near_dup=True)
        clean.write.mode("overwrite").parquet(f"{work}/clean")
        return spark.read.parquet(f"{work}/clean").count()

    def s_span_clean() -> int:
        # r10: the Lee-et-al. FINAL stage measured in composition —
        # substring-span removal over the funnel's survivors (xxhash64
        # scale keys; the measured-byte guards decide the join shapes)
        from bigdataproject_spark.operators.spandedup import (
            remove_duplicate_spans,
        )

        docs = spark.read.parquet(f"{work}/clean")
        spanned = (
            remove_duplicate_spans(
                docs, id_col="doc_id", text_col="text", k=8,
                hash_family="xxhash64",
            )
            .withColumnRenamed("clean_text", "text")
        )
        spanned.write.mode("overwrite").parquet(f"{work}/span_clean")
        return spark.read.parquet(f"{work}/span_clean").count()

    def s_chunk_shards() -> int:
        docs = spark.read.parquet(f"{work}/span_clean").withColumn(
            "tokens", _tokens()
        )
        chunks = chunk_documents(docs, chunk_tokens=128, overlap=16).select(
            "doc_id", "chunk_id", "chunk_text", "n_tokens"
        )
        write_training_shards(
            chunks, f"{work}/shards", key_col="doc_id", n_shards=64
        )
        return spark.read.parquet(f"{work}/shards").count()

    def s_pack() -> int:
        shards = spark.read.parquet(f"{work}/shards")
        packed = pack_sequences(
            shards, shard_col="shard",
            order_cols=["doc_id", "chunk_id"], target_tokens=2048,
        )
        packed.write.mode("overwrite").parquet(f"{work}/packed")
        return (
            spark.read.parquet(f"{work}/packed")
            .select("shard", "pack_id").distinct().count()
        )

    t0 = time.perf_counter()
    stage("redact", s_redact)
    stage("linededup_keepfirst", s_linededup)
    stage("funnel_clean", s_funnel)
    stage("span_clean", s_span_clean)
    stage("chunk_and_shard", s_chunk_shards)
    stage("pack_sequences", s_pack)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "stages": out,
                "total_sec": round(time.perf_counter() - t0, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
