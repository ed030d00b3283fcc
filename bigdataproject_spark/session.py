"""SparkSession factory.

Centralizes what the reference scatters across four ad-hoc builders
(reference: hot/spark_energy.py:19-23, relation_graph/
danmaku_analysis_cluster.py:17-23, tag/main.py:28-34): master, memory,
Arrow, log level. All settings are overridable; defaults target the
local[32] test harness but the same config set is what we would ship to a
1000-executor cluster (AQE, skew-join handling, partition sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for scale-out behavior, not just local runs:
#  - AQE coalesces post-shuffle partitions and splits skewed ones at runtime,
#    which is the main defense for skewed keys at 100TB.
#  - shuffle.partitions is a starting point; AQE adjusts downward.
#  - Arrow on for any pandas interchange (reference enables it too:
#    hot/spark_energy.py:21).
#  - session timezone pinned UTC so timestamp semantics match the DuckDB
#    oracle and are cluster-invariant.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the final shuffle of a persisted plan too. Off
    # (the Spark default), a frame cached after a shuffle keeps all
    # shuffle.partitions partitions, and every stage that reads it, plus
    # every file written from it, pays for that many: the dedup band
    # rows and representative rows of a 500-doc corpus ran as 32 tasks
    # per stage and wrote 31 parquet files for 170 rows. Uncached plans
    # are coalesced either way; outputs do not change.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # shuffle.partitions / driver.memory are env-sized in get_spark at
    # CALL time (not here at import time): the sweep harnesses set
    # SPARK_GRAFT_SHUFFLE / SPARK_GRAFT_DRIVER_MEM via apply_scale_env
    # AFTER this module is imported, and an import-time read silently
    # discards them (r9 review finding — the sf100 auto-sizing was a
    # no-op for in-process harnesses).
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "zstd",
    # Parquet TIMESTAMP(NANOS) (e.g. the events table) is otherwise an
    # illegal type for Spark; read as long and convert in the loader
    # (readers.load_table) with microsecond truncation, matching DuckDB's
    # ns→µs read behavior.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# The checkout root, where the top-level worker module lives.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Python worker module of local sessions (see pyspark_graft_worker.py):
# pyspark.worker plus a stat guard that stops every task from
# re-reading pyspark.zip's directory.
WORKER_MODULE = "pyspark_graft_worker"


def python_worker_conf(master: str, conf: dict[str, str]) -> dict[str, str]:
    """The Python-worker settings a session on ``master`` adds to
    ``conf``. For a ``local`` master: the worker module, unless ``conf``
    names one, and the checkout root appended to
    ``spark.executorEnv.PYTHONPATH`` after any caller value, so the
    workers import the worker module and the package's own UDF helpers
    whatever the driver's working directory. Any other master runs
    workers on hosts whose layout this process cannot know: nothing."""
    if master != "local" and not master.startswith("local["):
        return {}
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    return {
        "spark.python.worker.module": conf.get("spark.python.worker.module", WORKER_MODULE),
        key: os.pathsep.join(paths if REPO_ROOT in paths else [*paths, REPO_ROOT]),
    }


def _resolve_conf(extra_conf: dict | None = None, master: str = "local[*]") -> dict[str, str]:
    """Session conf = static defaults + env-sized knobs resolved at
    CALL time + caller overrides. Per-call env resolution is the
    contract apply_scale_env (tools/sweeplib.py) depends on — it sets
    SPARK_GRAFT_SHUFFLE / SPARK_GRAFT_DRIVER_MEM after this module is
    imported. driver.memory still only takes effect for the FIRST
    session in a JVM (Spark cannot resize a live driver). Last come the
    Python-worker settings of ``master`` (:func:`python_worker_conf`)."""
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if extra_conf:
        conf.update(extra_conf)
    conf.update(python_worker_conf(master, conf))
    return conf


def get_spark(
    app_name: str = "bigdataproject-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = _resolve_conf(extra_conf, master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")  # ref: tag/main.py:34
    return spark


def release_local_checkpoint(df) -> bool:
    """Deterministically free a ``localCheckpoint()``-ed frame's RDD
    blocks. ``Dataset.unpersist`` only evicts CacheManager entries and
    checkpoint RDDs are not in it — without this, a superseded
    iteration snapshot (connected components, label propagation) is
    only reclaimed when the JVM-side RDD object is eventually
    garbage-collected, so up to ``max_iter`` copies of the edge set can
    pile up in the block manager. The checkpointed RDD is the
    ``LogicalRDD`` leaf of the frame's analyzed plan; anything else
    (not actually a checkpointed frame, a stopped context) returns
    False and frees nothing."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
