"""Persist lifecycle — tracked materialization points and a caller scope.

Several operators ``persist()`` a multi-consumer intermediate frame (tfidf's
tf/unit postings, the prefix-filter shingle tables): those are intentional
materialization points, but a long-lived session composing many plans would
accumulate CacheManager entries forever if nobody unpersisted them. The
query functions CANNOT unpersist (they return lazy plans whose caches are
consumed by a later action), so the contract is engine-level:

- operators call :func:`tracked_persist` instead of ``DataFrame.persist`` —
  identical behavior, plus registration with the innermost active scope;
- runners (the correctness harness, the pipeline runner, tests) wrap
  *build plan → run action* in ``with materialized_scope():`` — on exit,
  every persist created inside the scope is released, newest first.

Outside any scope, ``tracked_persist`` degrades to a plain ``persist`` and
the caller owns cleanup (the documented pre-r6 contract), so one-shot
scripts keep cache reuse across repeated actions.

``unpersist(blocking=False)`` is deliberate: release is a metadata
operation; executors drop blocks asynchronously.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Thread-LOCAL scope stack (r7, ADVICE r6): a tracked_persist made on
# another thread (a streaming foreachBatch worker, a parallel harness
# thread) while the main thread has a scope open must NOT be captured by —
# and torn down with — that unrelated scope. Each thread sees only its own
# stack; a persist on a scope-less thread degrades to a plain persist, the
# documented outside-any-scope contract.
_TLS = threading.local()


def _scopes() -> list[list[DataFrame]]:
    try:
        return _TLS.scopes
    except AttributeError:
        _TLS.scopes = []
        return _TLS.scopes


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, registered with this thread's innermost
    active scope (no scope on this thread → plain persist, caller owns
    cleanup)."""
    df.persist(level)
    stack = _scopes()
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def materialized_scope() -> Iterator[list[DataFrame]]:
    """Release every :func:`tracked_persist` made inside the block on exit.

    Scopes nest: an inner scope releases only its own persists. Scopes are
    per-thread — work persisted on OTHER threads while this scope is open
    is not captured (see ``_TLS``). Exceptions propagate after cleanup.
    The yielded list is the live registry — tests may inspect it; callers
    normally ignore it.
    """
    stack = _scopes()
    scope: list[DataFrame] = []
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        for df in reversed(scope):
            try:
                df.unpersist()
            except Exception:
                pass  # session torn down mid-scope: nothing left to release


def presentation_sort(df: DataFrame, *cols) -> DataFrame:
    """``tracked_persist(df).orderBy(*cols)`` — the final-sort idiom.

    A global ``orderBy`` plans as a range exchange whose partitioner runs
    a SEPARATE sampling job over its child, re-executing the entire
    upstream plan once before the real pass (r15-opt: measured 1.4 s →
    3.0 s on edit_distance_near_dups from the sort alone). Queries that
    end in a small presentation-ordered result atop an expensive plan
    persist the result first: the sampling pass then materializes the
    (result-sized) cache and the real pass reads it back, so the upstream
    plan executes once. Rows and order are identical; only the execution
    shape changes. Use only where the pre-sort result is result-sized —
    persisting a corpus-scale frame to save a sampling pass is a bad
    trade (cache pressure; see the stream_ingest parquet-vs-persist
    note in streaming/windows.py).

    SCOPE CONTRACT (ADVICE r15): like every ``tracked_persist``, the
    persist made here is released by the innermost active
    ``materialized_scope`` — and outside any scope it degrades to an
    untracked persist the CALLER owns. A scope-less long-lived session
    invoking registered queries repeatedly therefore accumulates one
    (result-sized) CacheManager entry per invocation; the engine's
    runners (oracle harness, pipeline runner, bench) all wrap
    invocations in a scope, and one-shot scripts exit.
    Server-style callers must either scope their invocations or
    periodically ``spark.catalog.clearCache()`` — this is the registered-
    query cache-ownership contract (registry module docstring), stated
    here because presentation_sort is the idiom that made result-sized
    persists common.
    """
    return tracked_persist(df).orderBy(*cols)
