"""Seeded input generators for the benchmark.

Two families, both written as parquet with pyarrow before anything is timed:

- :func:`write_fixtures` — the ten tables the registered queries read
  (TPC-H-shaped star schema plus ``events``, ``documents`` and
  ``embeddings``) at scale factor 0.1, with the column names, types, row
  counts and value ranges the query plans and their DuckDB oracles expect.
  One file and one row group per table.
- :func:`write_mongo_source` — the Mongo-shaped document collection the
  reference pipeline extracts from: camelCase keys, ``createdBy`` /
  ``updatedBy`` / ``statusChangedBy`` structs, a ``requestParams`` struct,
  ``createdAt`` spread over ``days`` days and ``updatedAt`` null in about a
  third of the rows and otherwise 0-72 h after ``createdAt``.

The same seed always yields the same bytes of data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US
SOURCE_EPOCH = dt.datetime(2024, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * US


def _ts(us: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"), mask=mask)


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    return pa.array(pool, pa.string()).take(pa.array(rng.integers(0, len(pool), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_between(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return _ts(_us(lo) + days * DAY_US)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
    os.replace(tmp, path)


def _hex_ids(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` distinct 24-hex-digit ObjectId-like strings, in random order."""
    hi = rng.integers(0, 2**31, n, dtype=np.uint64)
    lo = rng.permutation(n).astype(np.uint64) * np.uint64(2654435761) + np.uint64(
        rng.integers(0, 2**32)
    )
    shifts = np.arange(15, -1, -1, dtype=np.uint64) * np.uint64(4)
    nib_lo = (lo[:, None] >> shifts) & np.uint64(0xF)
    nib_hi = (hi[:, None] >> shifts[8:]) & np.uint64(0xF)
    digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    chars = digits[np.concatenate([nib_hi, nib_lo], axis=1).astype(np.intp)]
    return pa.array(chars.view("S24").ravel()).cast(pa.string())


# -- query fixtures ------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]


def write_fixtures(out_dir: str, seed: int = 42) -> dict[str, int]:
    """Write the ten sf0.1 query tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    n_events, n_docs, n_vecs = 100_000, 5_000, 2_000
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_between(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days_between(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line),
    })

    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + _us(SOURCE_EPOCH)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_events),
    })

    # documents: token soup over a 30-word vocabulary; 5% are near-duplicates
    # (a copy of another document with one extra token)
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    lang_p = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS, pa.string()).take(pa.array(rng.choice(5, n_docs, p=lang_p))),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- Mongo-shaped pipeline source ----------------------------------------------

USER_STRUCT = pa.struct([(k, pa.string()) for k in ("id", "name", "role", "client")])
PARAMS_STRUCT = pa.struct([
    ("channel", pa.string()),
    ("page", pa.int32()),
    ("amount", pa.float64()),
])
STATUSES = ["active", "closed", "open", "pending", "settled"]
DOC_TYPES = ["claim", "invoice", "order", "refund", "ticket"]
COUNTRIES = ["DE", "ES", "FR", "GB", "MM", "SG", "TH", "US", "VN", "ZA"]


def _users(rng: np.random.Generator, pool: pa.StructArray, n: int, null_p: float) -> pa.Array:
    idx = rng.integers(0, len(pool), n)
    return pool.take(pa.array(idx, mask=rng.random(n) < null_p))


def write_mongo_source(path: str, n_docs: int, seed: int, days: int = 30) -> None:
    """Write ``n_docs`` seeded documents to ``path`` in eight row groups, so
    the source scan splits across cores."""
    rng = np.random.default_rng([seed, 7])
    n = n_docs
    roles = ["admin", "agent", "system", "user"]
    n_users = 500
    users = pa.StructArray.from_arrays(
        [
            pa.array([f"u{i:05d}" for i in range(n_users)]),
            pa.array([f"user {i}" for i in range(n_users)]),
            _pick(rng, roles, n_users),
            pa.array([f"client{i % 37}" for i in range(n_users)]),
        ],
        fields=list(USER_STRUCT),
    )
    created = _us(SOURCE_EPOCH) + rng.integers(0, days * DAY_US, n)
    updated = created + rng.integers(0, 72 * 3600 * US, n)
    no_update = rng.random(n) < 1 / 3
    state_changed = created + rng.integers(0, 48 * 3600 * US, n)
    people = [f"person {i}" for i in range(20_000)]
    emails = [f"person{i}@example.com" for i in range(20_000)]
    params = pa.StructArray.from_arrays(
        [
            _pick(rng, ["api", "mobile", "web"], n),
            pa.array(rng.integers(1, 50, n), pa.int32()),
            _money(rng, 0.0, 5000.0, n),
        ],
        fields=list(PARAMS_STRUCT),
        mask=pa.array(rng.random(n) < 0.1),
    )
    table = pa.table({
        "_id": _hex_ids(rng, n),
        "address": _pick(rng, [f"{k} Main Street" for k in range(1, 2000)], n),
        "country": _pick(rng, COUNTRIES, n),
        "createdAt": _ts(created),
        "createdBy": _users(rng, users, n, 0.05),
        "email": _pick(rng, emails, n),
        "name": _pick(rng, people, n),
        "phone": _pick(rng, [f"+1-555-{k:04d}" for k in range(10_000)], n),
        "requestParams": params,
        "settlement": _pick(rng, ["cash", "card", "transfer", "wallet"], n),
        "stateChangedAt": _ts(state_changed, rng.random(n) < 0.5),
        "status": _pick(rng, STATUSES, n),
        "statusChangedAt": _ts(state_changed, rng.random(n) < 0.5),
        "statusChangedBy": _users(rng, users, n, 0.5),
        "type": _pick(rng, DOC_TYPES, n),
        "updatedAt": _ts(updated, no_update),
        "updatedBy": _users(rng, users, n, 0.4),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=-(-n // 8))
    os.replace(tmp, path)
