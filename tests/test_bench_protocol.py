"""bench.py's timing protocol: no timed run reads a cache it did not build.

A persist made outside any ``materialized_scope`` (what an unscoped
caller or an earlier query leaves behind) would be matched canonically
by a later run's rebuilt plan and served warm. ``bench.time_runs`` must
start the warm pass and every timed run from an empty CacheManager and
release its own persists, so the sample measures recomputation.
"""

from __future__ import annotations

import bench
from my_favorite_etl_pipeline_spark.caching import tracked_persist


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_every_run_starts_from_an_empty_cache(spark, sf_dir):
    spark.catalog.clearCache()
    leftover = spark.range(1000).selectExpr("id", "id * 2 AS v").persist()
    leftover.count()
    assert not _cache_empty(spark)

    seen: list[bool] = []

    def probe(spark, sf_dir):
        seen.append(_cache_empty(spark))
        frame = tracked_persist(spark.range(100).selectExpr("id % 7 AS k"))
        return frame.groupBy("k").count()

    samples = bench.time_runs(spark, probe, sf_dir)

    assert len(samples) == bench.RUNS
    assert seen == [True] * (1 + bench.RUNS)  # warm pass + every timed run
    assert _cache_empty(spark)
