"""bench.py's warm-cache guard (r7 VERDICT item 5).

r6 recorded a 1.48 s bench number for doc_quality_logreg_hashed that was
measuring leaked warm caches (honest cold: 3.37 s). _assert_cold makes
that mismeasurement class structurally impossible: any cached plan still
registered when a timed run starts fails the whole bench run.
"""

from __future__ import annotations

import pytest

import bench
from bench import _assert_cold, _time_cold


def test_leaked_cache_fails_the_bench(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet").cache()
    df.count()  # materialize so the cache is registered and live
    try:
        with pytest.raises(RuntimeError, match="cached plans leaked"):
            _assert_cold(spark, "some_query")
    finally:
        df.unpersist(blocking=True)


def test_clean_session_passes_and_drains_checkpoint_leftovers(spark, sf_dir):
    # order-independence: an earlier test module may have built queries
    # that .cache() at build time (the bench loop clearCaches the same
    # way before this guard runs)
    spark.catalog.clearCache()
    # a dead localCheckpoint RDD (the IVF/PQ Lloyd-round shape) is memory
    # pressure, not warm-cache reuse — the guard drains it, not fails
    spark.read.parquet(f"{sf_dir}/nation.parquet").localCheckpoint(
        eager=True
    )
    _assert_cold(spark, "some_query")
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()


def test_time_cold_is_one_warmup_then_min_of_two_cold_samples(spark, sf_dir):
    """Every run after the warm-up starts with an empty cache manager, so
    a query that caches BY DESIGN is timed cold, not failed; the result
    is the faster of the two samples."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    walls = iter([9.0, 0.5, 0.25])
    cold_at_start: list[bool] = []

    def run() -> float:
        cold_at_start.append(cm.isEmpty())
        spark.read.parquet(f"{sf_dir}/region.parquet").cache().count()
        return next(walls)

    try:
        assert _time_cold(spark, "caches_by_design", run) == 0.25
    finally:
        spark.catalog.clearCache()
    assert cold_at_start == [True, True, True]


def test_bench_only_entry_leaking_a_cache_fails(spark, sf_dir, monkeypatch):
    """A bench-only entry that keeps a cache it does not hand back for
    release fails on its warm-up, although every sample clears first."""

    def leaky(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/region.parquet").cache()
        return df, []

    def tidy(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/region.parquet").cache()
        return df, [df]

    monkeypatch.setitem(bench.BENCH_ONLY, "leaky", leaky)
    monkeypatch.setitem(bench.BENCH_ONLY, "tidy", tidy)
    spark.catalog.clearCache()
    try:
        with pytest.raises(RuntimeError, match="cached plans leaked"):
            _time_cold(
                spark, "leaky", lambda: bench._run_bench_only(spark, sf_dir, "leaky")
            )
    finally:
        spark.catalog.clearCache()
    assert _time_cold(
        spark, "tidy", lambda: bench._run_bench_only(spark, sf_dir, "tidy")
    ) >= 0
