"""Engine-level persist lifecycle (r6): multi-consumer persists created
inside a ``materialized_scope`` are released when the scope exits — no
``clearCache()`` hammer, no CacheManager accumulation in long sessions.
"""

from __future__ import annotations

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark.caching import materialized_scope, tracked_persist


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scope_releases_query_persists(spark, sf_dir):
    """The heaviest persisting queries (tfidf: 2 persists; prefix-filter
    dedup: 2-3) leave an empty CacheManager after a scoped run."""
    spark.catalog.clearCache()  # isolate from earlier tests in the session
    qs = engine.queries()
    for name in ("tfidf_topk_similar_docs", "ssjoin_prefix_filter", "dedup_keep_best"):
        with materialized_scope() as scope:
            df = qs[name](spark, sf_dir)
            df.count()
            assert scope, f"{name}: expected tracked persists inside the scope"
        assert _cache_empty(spark), f"{name}: CacheManager not empty after scope"


def test_scope_is_nested_and_exception_safe(spark):
    spark.catalog.clearCache()
    outer = tracked_persist  # alias for brevity
    with materialized_scope():
        a = outer(spark.range(10))
        a.count()
        try:
            with materialized_scope():
                b = outer(spark.range(20))
                b.count()
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        # inner released its own persist, outer's is still live
        assert b.storageLevel.useMemory is False
        assert a.storageLevel.useMemory is True
    assert _cache_empty(spark)


def test_unscoped_persist_keeps_caller_ownership(spark):
    """Outside any scope tracked_persist degrades to plain persist — one-shot
    scripts keep cache reuse across repeated actions."""
    spark.catalog.clearCache()
    df = tracked_persist(spark.range(5))
    df.count()
    assert not _cache_empty(spark)
    df.unpersist()
    assert _cache_empty(spark)


def test_run_incremental_batch_leaves_no_cache(spark, tmp_path):
    """The pipeline runner wraps its body in a scope: one full batch leaves
    an empty CacheManager (mart path arm included)."""
    from my_favorite_etl_pipeline_spark.pipeline_runner import run_incremental_batch

    import datetime

    from my_favorite_etl_pipeline_spark.pipeline_runner import transform

    spark.catalog.clearCache()
    ts = datetime.datetime(2024, 1, 10, 1)
    src = spark.createDataFrame(
        [(i, f"u{i}", ts, ts) for i in range(8)],
        "`_id` long, name string, createdAt timestamp, updatedAt timestamp",
    )
    mart = transform(src.limit(0), "seed")
    merged, report = run_incremental_batch(
        spark,
        src,
        mart,
        str(tmp_path / "staging"),
        ("2024-01-01", "2024-02-01"),
        "run-cache-test",
        mart_path=str(tmp_path / "mart"),
    )
    assert report.merged_total == 8
    assert _cache_empty(spark)


def test_scope_is_thread_local(spark):
    """ADVICE r6: a tracked_persist on ANOTHER thread while this thread
    has a scope open must not be captured by (or unpersisted with) the
    unrelated scope — the worker's frame stays persisted after the main
    scope exits, the documented scope-less contract."""
    import threading

    from my_favorite_etl_pipeline_spark.caching import (
        materialized_scope,
        tracked_persist,
    )

    worker_df = []

    def worker():
        worker_df.append(tracked_persist(spark.range(5).toDF("n")))

    with materialized_scope() as scope:
        t = threading.Thread(target=worker)
        t.start()
        t.join()
        assert scope == []  # foreign-thread persist not captured
    assert worker_df[0].storageLevel.useMemory  # survived the scope exit
    worker_df[0].unpersist()


def test_presentation_sort_same_rows_order_and_scope_release(spark):
    """r15-opt: presentation_sort must return exactly orderBy's rows in
    orderBy's order (it only changes the execution shape — persist first so
    the range-partitioner's sampling pass reads the cache instead of
    re-executing the upstream plan) and its persist must release with the
    enclosing materialized_scope like any tracked persist."""
    from pyspark.sql import functions as F

    from my_favorite_etl_pipeline_spark.caching import (
        materialized_scope,
        presentation_sort,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), (F.lit(99) - F.col("id")).alias("v")
    )
    expected = df.orderBy("k", "v").collect()
    with materialized_scope() as scope:
        got = presentation_sort(df, "k", "v").collect()
        assert len(scope) == 1
    assert got == expected
    assert not scope[0].storageLevel.useMemory  # released on scope exit
