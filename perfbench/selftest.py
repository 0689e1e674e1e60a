"""Cache-isolation self-test of the benchmark protocol.

An earlier query run outside any ``materialized_scope`` leaves its persists
registered; Spark's cache manager then matches a later query's plan against
them, and the later query reads a warm cache instead of recomputing.
``minhash_near_dups`` followed by ``dedup_cluster_components`` is such a
pair. The benchmark's protocol (``clearCache()`` before every operation, a
scope around it) must make the second query recompute: its job count and
scanned rows must equal those of the query run alone.

    python3 perfbench/run.py --selftest

Exit code 0 when the protocol isolates the run, 1 otherwise.
"""

from __future__ import annotations

import os

from .data import write_fixtures
from .trace import SparkCounters, leftover_cache

PROBE = "dedup_cluster_components"
LEAKER = "minhash_near_dups"


def cache_isolation(work: str, stop) -> int:
    import my_favorite_etl_pipeline_spark as engine
    from my_favorite_etl_pipeline_spark.caching import materialized_scope
    from my_favorite_etl_pipeline_spark.session import get_spark

    fixtures = os.path.join(work, "fixtures")
    write_fixtures(fixtures)
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        counters = SparkCounters(spark)
        registry = engine.queries()

        def run(name: str, clear: bool, scoped: bool) -> tuple[int, int]:
            if clear:
                spark.catalog.clearCache()
            with counters.group(name) as counts:
                if scoped:
                    with materialized_scope():
                        registry[name](spark, fixtures).write.format("noop").mode("overwrite").save()
                else:
                    registry[name](spark, fixtures).write.format("noop").mode("overwrite").save()
            return counts["jobs"], counts["scan_rows"]

        alone = run(PROBE, clear=True, scoped=True)
        run(LEAKER, clear=False, scoped=False)
        leaked = leftover_cache(spark)
        isolated = run(PROBE, clear=True, scoped=True)
        run(LEAKER, clear=True, scoped=False)
        unprotected = run(PROBE, clear=False, scoped=True)
        spark.catalog.clearCache()
    finally:
        stop(spark)

    print(f"{PROBE} alone:                      jobs={alone[0]} scan_rows={alone[1]}")
    print(f"{LEAKER} unscoped left {leaked} cached plan(s)/RDD(s)")
    print(f"{PROBE} after it, benchmark protocol: jobs={isolated[0]} scan_rows={isolated[1]}")
    print(f"{PROBE} after it, no clearCache():    jobs={unprotected[0]} scan_rows={unprotected[1]}")
    if unprotected == alone:
        print("note: the unprotected run matched too; the leak did not show on this input")
    ok = isolated == alone
    print("PASS" if ok else "FAIL: the timed run read another query's cache")
    return 0 if ok else 1
