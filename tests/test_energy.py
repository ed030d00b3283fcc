"""Property tests for the energy pipeline (SURVEY §5.4): bucketing
invariants, per-partition flag rate, exact-vs-approx threshold agreement."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataproject_spark.operators.energy import (
    bucket_energy,
    bucket_event_time,
    bucket_media_time,
    flag_top_pct,
    flag_top_pct_approx,
    flag_top_pct_binned,
    timeline,
)
from bigdataproject_spark.sources.readers import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def _energy(ev, *, exact=True):
    """Per-bucket energy and highlight flag of the events table: event-time
    buckets, bucket_energy, then the exact or approximate top-decile flag."""
    agg = bucket_energy(
        ev, key="event_type", bucket=bucket_event_time("ts"), weight=F.col("value")
    )
    return flag_top_pct(agg) if exact else flag_top_pct_approx(agg)


def test_density_sums_to_rowcount(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = _energy(ev)
    assert out.agg(F.sum("density")).collect()[0][0] == ev.count()


def test_bucket_arithmetic(spark):
    df = spark.createDataFrame([(0.0,), (9.99,), (10.0,), (123.4,)], "t double")
    got = [r[0] for r in df.select(bucket_media_time("t", 10)).collect()]
    assert got == [0, 0, 10, 120]


def test_flag_rate_upper_decile(spark, sf_dir):
    """percent_rank >= 0.9 flags ≈10% of buckets per key (exactly
    ceil-ish fraction; never more than ~10% + 1/n per partition)."""
    ev = _events(spark, sf_dir)
    out = _energy(ev)
    per_key = (
        out.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_high").cast("int")).alias("n_high"),
        )
        .collect()
    )
    for r in per_key:
        if r.n > 1:
            frac = r.n_high / r.n
            assert frac <= 0.11 + 1.0 / r.n, (r.key, frac)
            assert frac > 0, r.key


def test_single_bucket_key_never_flagged(spark):
    df = spark.createDataFrame([("solo", 0, 1, 1.0, 1.0)], "key string, bucket int, density long, sentiment double, energy double")
    out = flag_top_pct(df)
    row = out.collect()[0]
    assert row.rank_pct == 0.0 and not row.is_high


def test_exact_vs_approx_flags_agree(spark, sf_dir):
    """approx_percentile at high accuracy should reproduce the exact
    top-decile flags on small data."""
    ev = _events(spark, sf_dir)
    exact = _energy(ev).select("key", "bucket", "is_high")
    approx = _energy(ev, exact=False).select(
        "key", "bucket", F.col("is_high").alias("is_high_a")
    )
    joined = exact.join(approx, ["key", "bucket"])
    disagree = joined.filter(F.col("is_high") != F.col("is_high_a")).count()
    total = joined.count()
    # percentile_approx uses a different tie convention at the exact
    # threshold value; allow <2% disagreement.
    assert disagree / total < 0.02, f"{disagree}/{total} flags disagree"


def test_binned_flag_keeps_all_null_key(spark):
    """A key whose every order value is NULL has no histogram rows and
    no threshold — its rows must still come back (is_high NULL), not
    vanish through an inner threshold join."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", None), ("b", None)],
        "key string, energy double",
    )
    out = flag_top_pct_binned(df).collect()
    assert len(out) == 5
    b_rows = [r for r in out if r["key"] == "b"]
    assert len(b_rows) == 2
    assert all(r["is_high"] is None for r in b_rows)
    # the populated key still flags its top decile
    assert any(r["is_high"] for r in out if r["key"] == "a")


def test_timeline_sorted(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = _energy(ev)
    tl = timeline(out)
    for row in tl.collect():
        times = [e["time"] for e in row.timeline]
        assert times == sorted(times)


def test_timeline_max_buckets_is_time_prefix(spark, sf_dir):
    """The size cap keeps the FIRST max_buckets buckets by time per key
    — exactly the uncapped timeline's prefix — and bounds the collected
    array before aggregation (executor-memory cap for unbounded keys)."""
    ev = _events(spark, sf_dir)
    out = _energy(ev)
    full = {r["key"]: r.timeline for r in timeline(out).collect()}
    capped = {
        r["key"]: r.timeline for r in timeline(out, max_buckets=5).collect()
    }
    assert set(capped) == set(full)
    for k, tl_c in capped.items():
        assert len(tl_c) == min(5, len(full[k]))
        assert tl_c == full[k][: len(tl_c)]
