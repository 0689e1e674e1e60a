"""S1 — the "docstore" custom Python DataSource (sources/docstore.py): the
engine's Mongo-collection stand-in (JSON-lines interchange) on Spark 4's
connector API. Round-trip, save modes, partition planning, and filter
pushdown (semantics + plan shape)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docstore(spark):
    from my_favorite_etl_pipeline_spark.sources.docstore import register_docstore

    register_docstore(spark)
    return spark


SCHEMA = "event_id long, user_id long, event_type string"


def _sample(spark):
    return spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("type"), (F.col("id") % 3).cast("string")).alias("event_type"),
    )


def test_roundtrip_and_save_modes(docstore, tmp_path):
    spark = docstore
    path = str(tmp_path / "store")
    df = _sample(spark)
    df.write.format("docstore").mode("append").save(path)
    back = spark.read.format("docstore").schema(SCHEMA).load(path)
    assert back.count() == 100
    assert {r.event_id for r in back.collect()} == set(range(100))

    # append accumulates; overwrite replaces
    df.limit(5).write.format("docstore").mode("append").save(path)
    assert spark.read.format("docstore").schema(SCHEMA).load(path).count() == 105
    df.limit(10).write.format("docstore").mode("overwrite").save(path)
    assert spark.read.format("docstore").schema(SCHEMA).load(path).count() == 10


def test_partition_per_file_planning(docstore, tmp_path):
    spark = docstore
    path = str(tmp_path / "store")
    _sample(spark).repartition(6).write.format("docstore").mode("append").save(path)
    n_files = len([f for f in os.listdir(path) if f.endswith(".jsonl")])
    assert n_files == 6
    back = spark.read.format("docstore").schema(SCHEMA).load(path)
    assert back.rdd.getNumPartitions() == n_files


def test_filter_pushdown_semantics_and_plan(docstore, tmp_path):
    spark = docstore
    path = str(tmp_path / "store")
    df = _sample(spark)
    df.write.format("docstore").mode("append").save(path)

    back = spark.read.format("docstore").schema(SCHEMA).load(path)
    q = back.filter((F.col("user_id") == 3) & (F.col("event_id") > 50))
    expected = df.filter((F.col("user_id") == 3) & (F.col("event_id") > 50)).count()
    assert q.count() == expected > 0

    # accepted comparisons are consumed by the source: the Spark-side
    # Filter keeps only the null guards
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan docstore" in plan
    assert "= 3" not in plan and "> 50" not in plan

    # non-pushable predicates still evaluate correctly Spark-side
    q2 = back.filter(F.col("event_type").contains("e1"))
    assert q2.count() == df.filter(F.col("event_type").contains("e1")).count()


def test_mongo_parity_chain_from_docstore(docstore, tmp_path, sf_dir):
    """The reference's source→transform path (dag:94-180) end to end from
    the document source: events exported as JSON lines, read through the
    connector, run through the normalize chain."""
    from my_favorite_etl_pipeline_spark.sources.tables import load

    spark = docstore
    path = str(tmp_path / "mongoexport")
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("string").alias("ts"), "event_type", "props"
    )
    ev.write.format("docstore").mode("append").save(path)
    back = (
        spark.read.format("docstore")
        .schema("event_id long, ts string, event_type string, props string")
        .load(path)
    )
    out = back.select(
        F.col("event_id").cast("string").alias("event_id_str"),
        F.to_timestamp("ts").alias("ts"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    assert out.count() == ev.count()
    assert out.filter(F.col("ts").isNull()).count() == 0


def test_registered_query_leaves_no_export_behind(spark, tmp_path, sf_dir, monkeypatch):
    """docstore_lang_source_stats exports into a private directory per call
    and removes it before returning: nothing is left under the temp root,
    and nothing under the fixed shared path ``/tmp/mfe_docstore/<basename>``
    that concurrent callers used to race on."""
    import tempfile
    import uuid

    from my_favorite_etl_pipeline_spark.plans.docstore_queries import (
        q_docstore_lang_source_stats,
    )

    corpus = tmp_path / f"corpus_{uuid.uuid4().hex}"  # a basename no one else uses
    corpus.symlink_to(os.path.abspath(sf_dir))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    rows = q_docstore_lang_source_stats(spark, str(corpus)).collect()

    assert rows and sum(r.n_docs for r in rows) > 0
    assert list(scratch.glob("mfe_docstore*")) == []
    assert not os.path.exists(os.path.join("/tmp/mfe_docstore", corpus.name))
