"""The benchmark workloads and the operation protocol they share.

Every operation (one registered query built and run to a ``noop`` sink, or
one ``run_incremental_batch``) starts from an empty cache: the harness calls
``spark.catalog.clearCache()`` before it, wraps it in its own
``caching.materialized_scope()``, and afterwards checks that no cached plan
or persisted RDD is left. A leftover counts as a failed operation.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from .data import write_fixtures, write_mongo_source
from .oracle import (
    WHOLE_ROW,
    QueryOracle,
    expected_mart_digest,
    expected_window_counts,
    mart_digest,
)
from .trace import COUNT_KEYS, SparkCounters, Tracer, leftover_cache

# Relational scan/join/aggregate/window plans, a streaming window, and
# hashed-token / vector curation plans (the ones that persist).
QUERY_MIX = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "top_orders_per_customer",
    "stream_tumbling_hourly",
    "term_frequencies_top50",
    "embedding_topk_bruteforce",
    "minhash_near_dups",
)

# Nominal operation times on a 4-core host; they turn ``--seconds`` into a
# fixed amount of work, so every run of a workload times the same
# operations whatever the speed of the code under test.
NOMINAL_PASS_S = 6.0
NOMINAL_BATCH_S = 4.5
SOURCE_DOCS = 600_000
SOURCE_DAYS = 30


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    op_seconds: list[float] = field(default_factory=list)
    pass_seconds: list[float] = field(default_factory=list)
    setup_seconds: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)


class Harness:
    """Session, scratch directories, tracing and the per-operation protocol."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool, t_start: float) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(traced)
        self.traced = traced
        self.t_start = t_start
        self.excluded = 0.0  # input generation: part of no metric
        self.spark = None
        self.counters: SparkCounters | None = None
        self.out = Outcome()

    @contextmanager
    def excluded_time(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t0

    def start_session(self):
        from my_favorite_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.out.layers["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.counters = SparkCounters(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.out.setup_seconds = time.perf_counter() - self.t_start - self.excluded

    @contextmanager
    def group(self, label: str):
        """Job-group counts in the traced run; an empty dict otherwise."""
        if self.counters is None:
            yield {}
        else:
            with self.counters.group(label) as counts:
                yield counts

    def check_no_leftover_cache(self, what: str) -> None:
        n = leftover_cache(self.spark)
        if n:
            self.out.fail(f"{what}: {n} cached plan(s)/RDD(s) left after scope exit")
            self.spark.catalog.clearCache()


# -- query workloads -------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _exec_layers(counts: list[dict], per: int) -> dict[str, float]:
    """``exec.*`` per pass or per batch: sums divided by ``per``, except the
    peak execution memory, which is the largest single-stage figure."""
    out = {}
    for key in COUNT_KEYS:
        values = [c[key] for c in counts]
        if key == "peak_exec_memory_bytes":
            out[f"exec.{key}"] = max(values, default=0)
        else:
            out[f"exec.{key}"] = sum(values) / per
    return out


def query_mix(h: Harness) -> Outcome:
    import my_favorite_etl_pipeline_spark as engine
    from my_favorite_etl_pipeline_spark.caching import materialized_scope

    out = h.out
    fixtures = os.path.join(h.work, "fixtures")
    with h.excluded_time():
        write_fixtures(fixtures)
    spark = h.start_session()
    registry = engine.queries()
    oracles = engine.oracle_sql()
    rng = random.Random(h.seed)
    tracer = h.tracer

    def one(name: str, op_id: str, sink: str, stats: dict):
        """Build, run and release one query; returns (seconds, result)."""
        spark.catalog.clearCache()
        result = None
        t0 = time.perf_counter()
        with tracer.operation(op_id), tracer.span(f"op:{name}"):
            with materialized_scope() as scope:
                with h.group(f"{op_id}:build") as build_counts, tracer.span("plans.build") as sp:
                    df = registry[name](spark, fixtures)
                stats["build_s"] = sp.seconds if sp else 0.0
                stats["build_counts"] = build_counts
                with h.group(f"{op_id}:exec") as exec_counts, tracer.span("exec") as sp:
                    if sink == "collect":
                        result = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                stats["exec_s"] = sp.seconds if sp else 0.0
                stats["exec_counts"] = exec_counts
                stats["persists"] = len(scope)
                if h.counters is not None:
                    stats["cached_bytes"] = h.counters.cached_bytes()
        seconds = time.perf_counter() - t0
        h.check_no_leftover_cache(name)
        return seconds, result

    # set-up: two untimed passes fill the JIT and the process-level memos.
    # The first collects every result, for the oracle check once timing is
    # over; the second runs the timed form of the operation.
    names = QUERY_MIX
    order = list(names)
    warm_rows: dict[str, tuple] = {}
    warm_seconds: dict[str, float] = {}
    for w, sink in enumerate(("collect", "noop")):
        rng.shuffle(order)
        for name in order:
            out.attempted += 1
            try:
                seconds, rows = one(name, f"warm{w}:{name}", sink, {})
            except Exception:
                out.fail(f"{name} (warm {w}): {traceback.format_exc(limit=3)}")
                continue
            if sink == "collect":
                warm_seconds[name], warm_rows[name] = seconds, rows
    h.setup_done()

    passes = max(1, round(h.seconds / NOMINAL_PASS_S))
    per_query: dict[str, list[float]] = {n: [] for n in names}
    records = []
    for p in range(passes):
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for name in order:
            out.attempted += 1
            stats: dict = {}
            try:
                seconds, _ = one(name, f"p{p}:{name}", "noop", stats)
            except Exception:
                out.fail(f"{name} (pass {p}): {traceback.format_exc(limit=3)}")
                continue
            out.op_seconds.append(seconds)
            per_query[name].append(seconds)
            records.append({"pass": p, "query": name, "seconds": seconds, **stats})
        out.pass_seconds.append(time.perf_counter() - t_pass)

    # output checks, outside every timed region
    oracle = QueryOracle(fixtures)
    try:
        for name, (cols, rows) in warm_rows.items():
            if name not in oracles:
                out.fail(f"{name}: no DuckDB oracle registered")
                continue
            why = oracle.mismatch(oracles[name], cols, rows)
            if why:
                out.fail(f"{name}: output differs from oracle: {why}")
    finally:
        oracle.close()

    out.info["ops"] = records
    out.info["queries"] = list(names)
    out.info["passes"] = passes
    if h.traced:
        layers = out.layers
        layers["plans.build_s"] = sum(r["build_s"] for r in records) / passes
        layers["plans.build_jobs"] = sum(r["build_counts"]["jobs"] for r in records) / passes
        layers["plans.first_call_extra_s"] = sum(
            warm_seconds[n] - _median(per_query[n]) for n in names if n in warm_seconds and per_query[n]
        )
        layers["exec.s"] = sum(r["exec_s"] for r in records) / passes
        for r in records:
            r["build_counts"].pop("scan_rows_by_node", None)
            r["exec_counts"].pop("scan_rows_by_node", None)
        layers.update(_exec_layers([r["exec_counts"] for r in records], passes))
        layers["caching.persists"] = sum(r["persists"] for r in records) / passes
        layers["caching.cached_bytes_peak"] = max((r["cached_bytes"] for r in records), default=0)
        out.info["warm_seconds"] = warm_seconds
    return out


# -- the reference pipeline -------------------------------------------------------

# Operators pipeline_runner imports by name, timed in the traced run only.
RUNNER_STEPS = {
    "is_empty": "operators.incremental.is_empty_s",
    "write_staging": "operators.merge.write_staging_s",
    "read_staging_run": "operators.merge.read_staging_run_s",
    "merge_upsert": "operators.merge.merge_upsert_s",
    "delete_staging_run": "operators.merge.delete_staging_run_s",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _day(d: int) -> str:
    return f"2024-01-{d:02d} 00:00:00"


@contextmanager
def _patched(obj, name: str, wrapper_factory):
    original = getattr(obj, name)
    setattr(obj, name, wrapper_factory(original))
    try:
        yield
    finally:
        setattr(obj, name, original)


def etl_backfill(h: Harness) -> Outcome:
    from my_favorite_etl_pipeline_spark import pipeline_runner as pr
    from my_favorite_etl_pipeline_spark.operators.dq import DQSuite
    from my_favorite_etl_pipeline_spark.sources.mart import DATA_DIR, VersionedMart

    out = h.out
    tracer = h.tracer
    source_path = os.path.join(h.work, "source.parquet")
    with h.excluded_time():
        write_mongo_source(source_path, SOURCE_DOCS, h.seed, days=SOURCE_DAYS)
    spark = h.start_session()
    source = spark.read.parquet(source_path)
    empty_mart = pr.transform(source.limit(0), "seed")

    batch_records: list[dict] = []
    current: dict = {}

    def timed_batch(original):
        def wrapper(*args, **kwargs):
            run_id = str(kwargs.get("run_id"))
            spark.catalog.clearCache()
            current.clear()
            current.update(run_id=run_id, children={})
            t0 = time.perf_counter()
            with tracer.operation(run_id), tracer.span("pipeline_runner.run_incremental_batch") as sp:
                with h.group(f"batch:{run_id}") as counts:
                    result = original(*args, **kwargs)
            current["seconds"] = time.perf_counter() - t0
            current["counts"] = counts
            if sp is not None:
                current["self_s"] = tracer.self_seconds(tracer.spans.index(sp))
            current["extracted"] = result[1].extracted
            batch_records.append(dict(current))
            h.check_no_leftover_cache(run_id)
            return result

        return wrapper

    def step(metric: str):
        def factory(original):
            def wrapper(*args, **kwargs):
                with tracer.span(metric) as sp:
                    result = original(*args, **kwargs)
                children = current["children"]
                children[metric] = children.get(metric, 0.0) + sp.seconds
                if metric == "operators.merge.write_staging_s":
                    current["staging_bytes"] = _dir_bytes(
                        os.path.join(args[1], f"batch_run_id={args[2]}")
                    )
                if metric == "sources.mart.commit_s":
                    current["mart_bytes"] = _dir_bytes(
                        os.path.join(args[0].root, DATA_DIR, kwargs.get("version") or args[2])
                    )
                return result

            return wrapper

        return factory

    k = max(2, round(h.seconds / NOMINAL_BATCH_S))
    windows = [(_day(d), _day(d + 1)) for d in range(1, k + 1)]
    staging = os.path.join(h.work, "staging")
    mart_root = os.path.join(h.work, "mart")

    with ExitStack() as patches:
        patches.enter_context(_patched(pr, "run_incremental_batch", timed_batch))
        if h.traced:
            for name, metric in RUNNER_STEPS.items():
                patches.enter_context(_patched(pr, name, step(metric)))
            patches.enter_context(_patched(DQSuite, "enforce", step("operators.dq.enforce_s")))
            patches.enter_context(_patched(VersionedMart, "commit", step("sources.mart.commit_s")))

        # set-up: the first two windows into a scratch mart, so both the
        # insert-only first merge and a merge into a non-empty mart are warm
        out.attempted += 2
        try:
            pr.run_backfill(
                spark, source, empty_mart, os.path.join(h.work, "warm-staging"), windows[:2],
                run_id_prefix="warm", mart_path=os.path.join(h.work, "warm-mart"),
            )
        except Exception:
            out.fail(f"warm batch: {traceback.format_exc(limit=3)}")
        warm = batch_records[0]["seconds"] if batch_records else 0.0
        shutil.rmtree(os.path.join(h.work, "warm-mart"), ignore_errors=True)
        h.setup_done()
        batch_records.clear()

        out.attempted += k
        reports = []
        t_pass = time.perf_counter()
        try:
            mart, reports = pr.run_backfill(
                spark, source, empty_mart, staging, windows, mart_path=mart_root
            )
        except Exception:
            out.fail(f"backfill: {traceback.format_exc(limit=3)}")
        out.pass_seconds.append(time.perf_counter() - t_pass)
        timed = list(batch_records)
        out.op_seconds = [r["seconds"] for r in timed]
        out.failures += [f"backfill batch {i} did not run" for i in range(len(timed), k)]

        # retry of the final window under its own run id: must be a fixpoint
        if len(reports) == k:
            vm = VersionedMart(mart_root)
            before = mart_digest(os.path.join(mart_root, DATA_DIR, vm.current_version()), WHOLE_ROW)
            out.attempted += 1
            try:
                pr.run_incremental_batch(
                    spark, source, mart, staging, windows[-1], run_id=reports[-1].run_id,
                    mart_path=mart_root,
                )
                after = mart_digest(os.path.join(mart_root, DATA_DIR, vm.current_version()), WHOLE_ROW)
                if before != after:
                    out.fail(f"retry of the last window changed the mart: {before} -> {after}")
            except Exception:
                out.fail(f"retry: {traceback.format_exc(limit=3)}")

    # output checks
    if len(reports) == k:
        expected_counts = expected_window_counts(source_path, windows)
        got = [r.extracted for r in reports]
        if got != expected_counts:
            out.fail(f"extracted per window {got} != expected {expected_counts}")
        vm = VersionedMart(mart_root)
        got_digest = mart_digest(os.path.join(mart_root, DATA_DIR, vm.current_version()))
        want = expected_mart_digest(source_path, windows, [r.run_id for r in reports])
        if got_digest != want:
            out.fail(f"final mart {got_digest} != last-writer-wins replay {want}")
        out.info["extracted"] = got
        out.info["mart_rows"] = got_digest[0]

    out.info["ops"] = timed
    out.info["windows"] = windows
    out.info["source_docs"] = SOURCE_DOCS
    out.info["docs_per_s"] = (
        sum(r["extracted"] for r in timed) / sum(out.op_seconds) if out.op_seconds else 0.0
    )
    if h.traced and timed:
        n = len(timed)
        layers = out.layers
        for metric in [*RUNNER_STEPS.values(), "operators.dq.enforce_s", "sources.mart.commit_s"]:
            layers[metric] = sum(r["children"].get(metric, 0.0) for r in timed) / n
        layers["pipeline_runner.self_s"] = sum(r["self_s"] for r in timed) / n
        layers["pipeline_runner.jobs_per_batch"] = sum(r["counts"]["jobs"] for r in timed) / n
        layers["pipeline_runner.stages_per_batch"] = sum(r["counts"]["stages"] for r in timed) / n
        # the source is the only scanned table with camelCase columns
        source_rows = sum(
            rows
            for r in timed
            for desc, rows in r["counts"].pop("scan_rows_by_node").items()
            if "createdAt" in desc
        )
        layers["sources.scan_rows_per_extracted_doc"] = source_rows / max(
            1, sum(r["extracted"] for r in timed)
        )
        layers["sources.staging_bytes_written"] = sum(r.get("staging_bytes", 0) for r in timed) / n
        layers["sources.mart_bytes_written"] = sum(r.get("mart_bytes", 0) for r in timed) / n
        layers.update(_exec_layers([r["counts"] for r in timed], n))
        layers["plans.first_call_extra_s"] = warm - _median(out.op_seconds)
    return out


WORKLOADS = {"etl_backfill": etl_backfill, "query_mix": query_mix}
