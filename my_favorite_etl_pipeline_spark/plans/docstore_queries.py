"""[EXT] Driver-checkable query over the "docstore" custom DataSource
(sources/docstore.py — the MongoDB stand-in, reference dag:94-133). The
connector had been pytest-only since r1; this registers an end-to-end
path the DuckDB oracle can replay (VERDICT r6 item 6): export documents to
a JSON-lines docstore, read them BACK through the DSv2 source with a
pushed-down filter, normalize, aggregate.

Oracle strategy: the JSONL payload derives losslessly from the
``documents`` parquet (json round-trips the long/string columns exactly),
so the oracle computes the same aggregate DIRECTLY on the documents view —
no file dependency, no ordering assumption, and any connector bug
(dropped rows, mangled text, broken filter pushdown) shows up as a
row-count or hash mismatch.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..registry import register
from ..sources.tables import load

_EXPORT_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@register(
    "docstore_lang_source_stats",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
)
def q_docstore_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1b — the document-store round trip as one driver-checked query:
    documents → docstore writer (one JSONL part per task) → docstore
    reader (partition-per-file scan, ``lang = 'en'`` pushed into the
    Python source as an EqualTo — applied DURING the read, before rows
    cross into Spark) → per-source rollup (doc count, whitespace token
    count, char total).

    Scale shape: at 100 TB the export is the upstream system's job — the
    engine-side contract is the READ path, which parallelizes by file
    (each ``*.jsonl`` is one InputPartition, so the 8-way export below
    scans as 8 tasks; a real lake layout decides its own fan-out). The
    rollup is one hash aggregate on a low-cardinality key. The Python
    row-by-row decode is the correctness connector's cost — the module
    docstring notes the Arrow batching a production connector would use.
    """
    from ..sources.docstore import register_docstore

    register_docstore(spark)
    # a private export per call: concurrent callers never share a directory.
    # The small rollup is checkpointed before the export is removed, since
    # the returned frame would otherwise still read it lazily.
    path = tempfile.mkdtemp(prefix="mfe_docstore_")
    try:
        # 8 part files so the read back is a genuinely parallel
        # multi-partition scan
        load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).repartition(8).write.format("docstore").mode("overwrite").save(path)
        back = (
            spark.read.format("docstore")
            .schema(_EXPORT_SCHEMA)
            .load(path)
            .filter(F.col("lang") == "en")
        )
        return (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(TX.token_count("text")).cast("long").alias("n_tokens"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            .orderBy("source")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
