"""Output checks, run outside every timed region.

Query results are compared with their registered DuckDB oracle the way the
repository's correctness harness (``tools/check.py``) compares them: row
count, column names and an order-insensitive hash of the rows, with floats
normalized to six significant digits on both sides. The two helpers are
copied rather than imported because importing that script edits
``sys.path`` and imports the engine package as side effects.

The pipeline's final mart is compared with a DuckDB last-writer-wins replay
of the generated source over the same windows.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class QueryOracle:
    """DuckDB over the fixture parquet files, one view per table."""

    def __init__(self, fixture_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")

    def mismatch(self, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark result equals the oracle's, else why not."""
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows):
            return f"row count spark={len(rows)} duckdb={len(drows)}"
        if sorted(columns) != sorted(dcols):
            return f"columns spark={sorted(columns)} duckdb={sorted(dcols)}"
        sh, dh = table_hash(rows, columns), table_hash(drows, dcols)
        if sh != dh:
            return f"value hash spark={sh} duckdb={dh}"
        return None

    def close(self) -> None:
        self.con.close()


MART_DIGEST = "SELECT count(*), sum(hash({cols}))::VARCHAR FROM {rel} AS t"
WHOLE_ROW = "t"
LWW_COLS = "_id, status, epoch_us(updatedat), batch_run_id"


def _ts(s: str) -> str:
    return f"TIMESTAMP '{s}'"


def expected_window_counts(source: str, windows: list[tuple[str, str]]) -> list[int]:
    """Rows of ``source`` whose createdAt or updatedAt falls in each window."""
    con = duckdb.connect()
    try:
        out = []
        for s, e in windows:
            (n,) = con.execute(
                f"SELECT count(*) FROM '{source}' WHERE "
                f"(createdAt >= {_ts(s)} AND createdAt < {_ts(e)}) OR "
                f"(updatedAt >= {_ts(s)} AND updatedAt < {_ts(e)})"
            ).fetchone()
            out.append(int(n))
        return out
    finally:
        con.close()


def expected_mart_digest(source: str, windows: list[tuple[str, str]], run_ids: list[str]) -> tuple:
    """(rows, hash) of the mart a last-writer-wins replay should leave:
    every key extracted by some window, its ``updatedat`` from the last
    window that extracted it (the upsert arm), ``status`` from the first
    (kept on update), and lineage pointing at the last window's run."""
    values = ", ".join(
        f"({i}, {_ts(s)}, {_ts(e)}, '{r}')" for i, ((s, e), r) in enumerate(zip(windows, run_ids))
    )
    sql = f"""
        WITH w(i, ws, we, run_id) AS (VALUES {values}),
        x AS (
            SELECT s._id, s.status, s.updatedAt AS updatedat, w.i, w.run_id
            FROM '{source}' s JOIN w
              ON (s.createdAt >= w.ws AND s.createdAt < w.we)
              OR (s.updatedAt >= w.ws AND s.updatedAt < w.we)
        ),
        keyed AS (
            SELECT _id,
                   arg_min_null(status, i) AS status,
                   arg_max_null(updatedat, i) AS updatedat,
                   arg_max_null(run_id, i) AS batch_run_id
            FROM x GROUP BY _id
        )
        {MART_DIGEST.format(cols=LWW_COLS, rel="keyed")}
    """
    con = duckdb.connect()
    try:
        return tuple(con.execute(sql).fetchone())
    finally:
        con.close()


def mart_digest(version_dir: str, cols: str = LWW_COLS) -> tuple:
    """(rows, hash) of one committed mart version over ``cols``."""
    con = duckdb.connect()
    try:
        rel = f"read_parquet('{version_dir}/*.parquet')"
        return tuple(con.execute(MART_DIGEST.format(cols=cols, rel=rel)).fetchone())
    finally:
        con.close()
