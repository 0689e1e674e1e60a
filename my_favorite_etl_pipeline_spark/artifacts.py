"""One process-scoped store for precomputed artifacts.

The ANN index, the kNN graph and its durable copy, the LPA labels, the
trained quality-classifier weights and the streaming static indexes are
each built once and then served: tables are committed through
:class:`~.sources.mart.VersionedMart` (or written as plain parquet) and
read back, the classifier keeps its weight list. :func:`get_or_build` is
the one memo all of them share.

The key is one rule for every artifact: the artifact name, the absolute
corpus directory, the session's shuffle partitioning, the caller's
``params``, and a fingerprint (file sizes and mtimes) of the input
tables. The partitioning term makes the partitioning-determinism harness
rebuild and re-check each artifact per partitioning instead of reading
the first build back; the fingerprint makes an input rewritten under the
same path rebuild instead of serving a stale index. Repeated same-config
runs (bench medians, oracle sweeps, multi-consumer compositions) hit the
memo.

Builds write under one private root per process (``mkdtemp`` is
collision-free, so concurrent processes never overwrite each other's
parquet mid-read), removed at interpreter exit. One re-entrant lock is
held from the memo check through the build to the publish: two builders
never race one directory while a reader holds it open, and a build may
ask the store for another artifact (the durable graph needs the kNN
graph).
"""

from __future__ import annotations

import atexit
import functools
import itertools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

from .session import shuffle_partitions_tag

_lock = threading.RLock()
_built: dict[tuple, Any] = {}
_seq = itertools.count()


@functools.cache
def _root() -> str:
    root = tempfile.mkdtemp(prefix="mfe_artifacts_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _fingerprint(sf_dir: str, inputs: Iterable[str]) -> tuple:
    """``(relpath, size, mtime_ns)`` of every file behind the input tables
    (a table is one parquet file or a directory of part files)."""
    out = []
    for name in inputs:
        path = os.path.join(sf_dir, f"{name}.parquet")
        files = (
            [path]
            if os.path.isfile(path)
            else sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        )
        for f in files:
            st = os.stat(f)
            out.append((os.path.relpath(f, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(out)


def get_or_build(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[str], Any],
    inputs: Iterable[str],
    params: Iterable = (),
) -> Any:
    """Return artifact ``name`` for this corpus and session, building it
    on first use. ``build(dir)`` gets a fresh private directory and
    returns the value to memoize: the directory (or paths under it) for
    committed tables, the weight list for the quality classifier.
    ``inputs`` names the fixture tables the artifact is derived from."""
    key = (
        name,
        os.path.abspath(sf_dir),
        shuffle_partitions_tag(spark),
        tuple(params),
        _fingerprint(sf_dir, inputs),
    )
    with _lock:
        if key not in _built:
            d = os.path.join(_root(), f"{name}-{next(_seq)}")
            os.makedirs(d)
            _built[key] = build(d)
        return _built[key]
