"""The artifact store (``my_favorite_etl_pipeline_spark.artifacts``).

Pins the two properties the per-module memos it replaced lacked: an
input rewritten under the same path is rebuilt instead of served stale,
and the process's artifact root is removed when the process exits.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import my_favorite_etl_pipeline_spark as engine
from my_favorite_etl_pipeline_spark import artifacts
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="fixture tables absent"
)


def _containment_rows(spark, sf_dir):
    fn = engine.queries()["stream_containment_screen"]
    return sorted(tuple(r) for r in fn(spark, sf_dir).collect())


def test_rewritten_input_rebuilds_artifact(spark, tmp_path):
    """Rewrite ``documents`` under the same directory: the containment
    screen's reference index must be rebuilt, so the second call equals
    a fresh recompute on the new table rather than the first table's
    index."""
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    by_id = dict(zip(ids, texts))
    # every even (reference-half) doc takes its odd neighbour's text, so
    # each arriving odd doc is fully contained in the lake
    rewritten = docs.set_column(
        docs.schema.get_field_index("text"),
        "text",
        pa.array([by_id.get(i + 1, t) if i % 2 == 0 else t for i, t in zip(ids, texts)]),
    )

    live = tmp_path / "live"
    live.mkdir()
    pq.write_table(docs, live / "documents.parquet")
    first = _containment_rows(spark, str(live))

    pq.write_table(rewritten, live / "documents.parquet")
    second = _containment_rows(spark, str(live))

    fresh = tmp_path / "fresh"
    fresh.mkdir()
    pq.write_table(rewritten, fresh / "documents.parquet")
    expected = _containment_rows(spark, str(fresh))

    assert expected != first, "rewrite must change the answer"
    assert second == expected


def test_artifact_root_removed_at_exit(tmp_path):
    """Build one streaming index in a subprocess, let it exit, and check
    that the store's root directory is gone."""
    code = textwrap.dedent(
        f"""
        import os
        from pyspark.sql import SparkSession
        from my_favorite_etl_pipeline_spark.streaming.windows import (
            _containment_ref_index,
        )

        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        f = _containment_ref_index(spark, {SF_DIR!r}).inputFiles()[0]
        print("INDEX", f, os.path.exists(f.removeprefix("file:")))
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    m = re.search(r"^INDEX (?:file:/*)?(/\S*?/mfe_[^/]+)/\S* (\w+)$", out.stdout, re.M)
    assert m, out.stdout
    root, existed = m.groups()
    assert existed == "True"
    assert not os.path.exists(root), f"artifact root {root} leaked"


def test_concurrent_callers_share_one_build(spark, tmp_path):
    """Threads asking for the same artifact get one build and one value;
    a build may ask the store for another artifact (re-entrant lock)."""
    calls = []

    def inner(d):
        calls.append("inner")
        return d

    def outer(d):
        calls.append("outer")
        time.sleep(0.05)
        return (d, artifacts.get_or_build(spark, str(tmp_path), "inner", inner, []))

    got = []

    def worker():
        got.append(artifacts.get_or_build(spark, str(tmp_path), "outer", outer, []))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, daemon=True) for _ in range(16)]
        for t in threads:
            t.start()
        deadline = time.monotonic() + 60
        for t in threads:
            t.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(calls) == ["inner", "outer"]
    assert len(got) == 16 and len(set(got)) == 1
