"""High-energy-moment detection pipeline (SURVEY §3.1).

Reference: hot/spark_energy.py:18-119 — the system's flagship query:

  scan → per-row weighted score (U1) → 10s tumbling bucket (media time)
  → groupBy(episode, bucket).agg(count AS density, sum(score) AS sentiment)
  → energy = 0.37·sentiment + 0.63·density (hot/spark_energy.py:72)
  → percent_rank() over (partition by episode order by energy)
  → is_high = rank_pct >= 0.9  (adaptive per-episode top-decile,
    hot/spark_energy.py:76-79)
  → per-episode sorted timeline of struct<time,value,high>

Differences from the reference, by design:
  * generic over any event table: (key, time, weight) columns are
    parameters; the danmaku shape (bvid, video_time, tiered-score(text))
    and the driver's events shape (event_type, ts, value) both fit.
  * the timeline array is explicitly ``array_sort``-ed — the reference's
    collect_list order is only accidental (SURVEY §7.4.4).
  * scale path: ``flag_top_pct_approx`` replaces the full per-partition
    sort window with an ``approx_percentile`` per-key threshold + join —
    at 100TB a Window sort over every key is the bottleneck (SURVEY §7.4.7);
    the approx variant is one partial-aggregable pass + a broadcastable
    per-key threshold map.

Plan shape (exact variant): 2 shuffles — one hash-aggregate exchange on
(key,bucket) with map-side partial aggregation, one window exchange on key.
The timeline re-aggregation reuses the window exchange's hash partitioning
on key (no third shuffle when AQE keeps the partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SENTIMENT_WEIGHT = 0.37  # hot/spark_energy.py:72
DENSITY_WEIGHT = 0.63
WINDOW_SIZE_S = 10  # hot/spark_energy.py:15
HIGHLIGHT_PCT = 0.9  # hot/spark_energy.py:79


def bucket_media_time(time_s: Column | str, window_s: int = WINDOW_SIZE_S) -> Column:
    """Tumbling bucket over a *media-time* double (seconds):
    ``floor(t/W)*W`` cast int (hot/spark_energy.py:64)."""
    t = F.col(time_s) if isinstance(time_s, str) else time_s
    return (F.floor(t / window_s) * window_s).cast("int")


def bucket_event_time(ts: Column | str, window_s: int = WINDOW_SIZE_S) -> Column:
    """Tumbling bucket over a wall-clock timestamp via ``F.window`` — the
    same aggregation then runs unchanged under Structured Streaming
    (SURVEY §2.9 rebuild decision). Returns the window start timestamp."""
    t = F.col(ts) if isinstance(ts, str) else ts
    return F.window(t, f"{window_s} seconds").start


def bucket_energy(
    df: DataFrame,
    *,
    key: str,
    bucket: Column,
    weight: Column,
    s_w: float = SENTIMENT_WEIGHT,
    d_w: float = DENSITY_WEIGHT,
) -> DataFrame:
    """count+sum aggregate per (key, bucket) and the fused energy score.

    One shuffle; HashAggregate partial+final (the DataFrame equivalent of
    the reference's hand-rolled reduceByKey partial aggregation).
    """
    return (
        df.select(F.col(key).alias("key"), bucket.alias("bucket"), weight.alias("w"))
        .groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).alias("density"),
            F.sum("w").alias("sentiment"),
        )
        .withColumn("energy", s_w * F.col("sentiment") + d_w * F.col("density"))
    )


def flag_top_pct(
    df: DataFrame, *, key: str = "key", order: str = "energy", pct: float = HIGHLIGHT_PCT
) -> DataFrame:
    """Exact adaptive threshold: percent_rank per key, flag top (1-pct).

    percent_rank = (rank-1)/(n-1) is deterministic under ties (tied order
    values share a rank), so no tiebreaker column is needed for the flag
    itself (SURVEY §7.4.3). Single-bucket keys get rank 0.0 → never
    flagged, matching the reference.
    """
    w = Window.partitionBy(key).orderBy(F.col(order).asc())
    return df.withColumn("rank_pct", F.percent_rank().over(w)).withColumn(
        "is_high", F.col("rank_pct") >= pct
    )


def flag_top_pct_approx(
    df: DataFrame,
    *,
    key: str = "key",
    order: str = "energy",
    pct: float = HIGHLIGHT_PCT,
    accuracy: int = 10000,
) -> DataFrame:
    """Scale variant: per-key approx_percentile threshold + equi-join.

    Avoids the full sort-per-partition window: one partially-aggregable
    pass computes each key's pct-quantile of ``order``; the tiny per-key
    threshold table broadcast-joins back. O(n) vs O(n log n), and no
    single-partition sort skew for hot keys. Flag semantics differ from
    percent_rank only within quantile-sketch error.
    """
    thresholds = df.groupBy(key).agg(
        F.percentile_approx(order, pct, accuracy).alias("_thr")
    )
    return (
        df.join(F.broadcast(thresholds), on=key)
        .withColumn("is_high", F.col(order) >= F.col("_thr"))
        .drop("_thr")
    )


def flag_top_pct_binned(
    df: DataFrame,
    *,
    key: str = "key",
    order: str = "energy",
    pct: float = HIGHLIGHT_PCT,
    resolution: int = 16,
) -> DataFrame:
    """Deterministic-sketch variant of :func:`flag_top_pct_approx`: a
    fixed-width histogram quantile instead of the ``approx_percentile``
    GK sketch, so the flag is engine-portable and hash-checkable against
    an ANSI-SQL oracle (the GK sketch's internals are Spark-specific).

    Algorithm (same 100 TB shape as the approx variant — no per-key sort):
      1. bin = floor(order·resolution) (pure map; ``order`` pre-rounded
         to 6dp so both engines bin identical doubles, the same trick
         the exact variant uses for rank ordering);
      2. per-(key, bin) counts — ONE map-side-combinable aggregate whose
         output is ≤ keys × value_range × resolution rows, independent of
         input row count;
      3. threshold bin per key = min bin with running count ≥ pct·total,
         computed by a window over the TINY histogram table;
      4. broadcast the per-key threshold back; is_high = bin ≥ threshold.

    Approximation error vs the exact percent_rank flag is at most the
    rows sharing the threshold's histogram bin (width 1/resolution in
    ``order`` units) — bound-tested in tests/test_approx_bounds.py at sf
    and sf1. The histogram is value-range-bounded, not input-bounded:
    keys × range × resolution rows; pick ``resolution`` so that stays
    ≪ the bucketed frame (16 bins/unit over a few-hundred-unit energy
    range → a few thousand bins per key).
    """
    binned = df.withColumn(
        "_bin", F.floor(F.round(F.col(order), 6) * resolution).cast("long")
    )
    # NULL `order` rows are excluded from the histogram (matching the GK
    # variant, whose percentile_approx ignores NULLs) — and crucially
    # keep NULL bins out of the cumulative window, whose default NULL
    # placement differs between Spark (FIRST) and DuckDB (LAST). A NULL
    # row still flags as NULL on output (`NULL >= thr` is NULL in both
    # engines).
    hist = (
        binned.filter(F.col("_bin").isNotNull())
        .groupBy(key, "_bin")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cum = hist.select(
        key,
        "_bin",
        F.sum("_n").over(Window.partitionBy(key).orderBy("_bin")).alias("_cum"),
        F.sum("_n").over(Window.partitionBy(key)).alias("_tot"),
    )
    thr = (
        cum.filter(F.col("_cum") >= F.lit(pct) * F.col("_tot"))
        .groupBy(key)
        .agg(F.min("_bin").alias("_thr_bin"))
    )
    # LEFT join: a key whose every `order` is NULL has no histogram rows
    # and therefore no threshold row — an inner join would silently drop
    # the whole key, where the GK variant keeps it. With the left join
    # its rows survive and `NULL >= NULL-thr` flags NULL, matching the
    # "NULL row flags NULL" contract above (regression-tested in
    # tests/test_energy.py).
    return (
        binned.join(F.broadcast(thr), on=key, how="left")
        .withColumn("is_high", F.col("_bin") >= F.col("_thr_bin"))
        .drop("_bin", "_thr_bin")
    )


def timeline(
    df: DataFrame,
    *,
    key: str = "key",
    round_dp: int = 2,
    max_buckets: int | None = None,
) -> DataFrame:
    """Per-key sorted timeline array (SURVEY A6 / S7 replacement).

    ``array_sort`` on the collected structs makes ordering explicit; struct
    field order (time first) makes time the sort key. The JSON shape matches
    hot/all_episodes_energy.json: [{time, value, high}] with value rounded
    to 2dp (hot/spark_energy.py:110).

    ``max_buckets`` is the size cap SURVEY §7.4.7 plans for 100 TB keys:
    ``collect_list`` materializes the whole per-key array in one
    aggregation buffer, so an UNBOUNDED key (a never-ending stream
    mapped onto one timeline) is an executor-OOM hazard — measured at
    the sf10 sweep, a ~860k-bucket key costs ~13 s to collect+sort and
    ~30 MB of JSON. With a cap, rows beyond the first ``max_buckets``
    buckets (by time, per key) are dropped BEFORE the collect via a
    row_number window — the aggregation buffer is bounded by
    construction, not sliced after the fact. In the reference workload
    the cap is naturally the video duration (a 100-min episode has 600
    ten-second buckets)."""
    if max_buckets is not None:
        w = Window.partitionBy(key).orderBy("bucket")
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_buckets)
            .drop("_rn")
        )
    elem = F.struct(
        F.col("bucket").alias("time"),
        F.round(F.col("energy"), round_dp).alias("value"),
        F.col("is_high").alias("high"),
    )
    return df.groupBy(key).agg(
        F.array_sort(F.collect_list(elem)).alias("timeline")
    )
