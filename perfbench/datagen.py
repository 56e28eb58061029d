"""Seeded generator for the engine's input tables.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``) as one parquet file each, with the schemas and value
domains of the engine's test data: TPC-H-like keys and dates, an
``events`` feed of 30 days of user actions, a word-soup ``documents``
corpus with planted near-duplicates, and unit-norm 64-d embeddings.

``wire_payloads`` encodes the ``customer`` and ``events`` tables as the
Kafka payloads the reference pipeline consumes, with the derivation rules
of ``plans.synthetic``: a Redis change-capture envelope per customer
(base64 JSON inside JSON) and a plain JSON risk event per event.

Sizes scale with ``customers`` in the test data's proportions
(``customers=1500`` is the sf0.01 shape).  Table contents depend only on
the size; the run seed permutes each table's rows.  So every seed gives
the same query results and the same iteration counts in the engine's
fixpoint loops, while the physical inputs differ.  Outputs are checked
against DuckDB oracles run over the same files.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "key agg scan slow table part a merge window order column join vector"
    " fast spark line small customer group row the query stream value hash"
    " batch sort data big filter"
).split()
EMBED_DIM = 64
CONTENT_SEED = 42


def _ts(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return (np.datetime64(lo, "D") + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(customers: int) -> dict[str, pa.Table]:
    """Generate every table for one size."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = customers
    n_supp = max(10, customers // 15)
    n_part = customers * 4 // 3
    n_ord = customers * 10
    n_line = customers * 40
    n_users = max(1, customers // 10)
    n_ev = customers * 20 // 3
    n_docs = max(500, customers // 3)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    span_us = 30 * 86400 * 1_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return out


def write_tables(seed: int, customers: int, out_dir: str) -> dict[str, int]:
    """Write every table, rows permuted by ``seed``, to
    ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, table in tables(customers).items():
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def _b64(text: str) -> str:
    return base64.b64encode(text.encode()).decode()


def wire_payloads(customers: int) -> dict[str, list[str]]:
    """The ``redis`` and ``events`` feeds' payloads, one string per row.

    ``plans.synthetic`` (``redis_envelope_raw``, ``stedi_events_raw``) is
    the source of truth for these encodings; this is a plain-Python copy
    so that staging runs no Spark job.  A drift from it shows as a failed
    ``stream_join`` sink check, whose oracle joins the tables with
    ``synthetic``'s SQL rules.
    """
    t = tables(customers)
    redis = []
    for key, name in zip(t["customer"]["c_custkey"].to_pylist(),
                         t["customer"]["c_name"].to_pylist()):
        cust = {
            "customerName": name,
            "email": f"user{key}@test.com",
            "phone": f"{key:010d}",
            "birthDay": f"{1940 + key % 60}-{1 + key % 12:02d}-{1 + key % 28:02d}",
        }
        redis.append(json.dumps({
            "key": _b64("Customer"), "existType": "NONE", "Ch": False, "Incr": False,
            "zSetEntries": [{"element": _b64(json.dumps(cust)), "score": "0"}],
        }))
    ev = t["events"]
    events = [
        json.dumps({
            "customer": f"user{uid}@test.com",
            "score": score,
            "riskDate": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        })
        for uid, score, ts in zip(ev["user_id"].to_pylist(), ev["value"].to_pylist(),
                                  ev["ts"].to_pylist())
    ]
    return {"redis": redis, "events": events}
