"""Seeded generator for the catalogue workload's batch tables.

Writes the ten tables the registered queries read (``workload.QUERIES``
call ``sources.files.load_table(spark, sf_dir, name)``) as one parquet
file each, with the column types of ``schemas.TESTDATA``. The shapes
follow the repository's sf0.1 test tables: a TPC-H-like star schema,
one month of click events, a 30-word bag-of-words document corpus with
planted near-duplicates, and unit-norm 64-d embeddings in ten clusters.

The tables are a function of ``DATA_SEED`` and ``SCALE`` only, never of
the benchmark's ``--seed``: the catalogue's correctness check compares
each query's result hash with a recorded one, which needs fixed inputs.
The benchmark seed draws the query order instead (see ``catalog.py``).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.1
# Bump when the generator changes, so a cached table set is rebuilt.
VERSION = 1

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "old"]
_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "belt", "screw"]


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = int(150_000 * SCALE)
    n_supp = int(10_000 * SCALE)
    n_part = int(200_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_line = int(6_000_000 * SCALE)
    n_evt = int(1_000_000 * SCALE)
    n_doc = int(50_000 * SCALE)
    n_emb = int(20_000 * SCALE)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    day = 86_400_000_000
    order_day = rng.integers(0, 2405, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_day * day),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    # a fifth of the lines go to 100 hot parts: part popularity is
    # skewed, so value-share filters (Q11 shape) select rows
    hot = rng.random(n_line) < 0.2
    l_part = np.where(hot, rng.integers(0, 100, n_line), rng.integers(0, n_part, n_line))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.95, 1.05, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 1), (order_day[l_order] + rng.integers(1, 96, n_line)) * day
        ),
    })
    evt_ts = np.sort(rng.integers(0, 30 * day, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), evt_ts),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_evt)
        ],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    out["documents"] = _documents(rng, n_doc)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about 5% are near-duplicates of an earlier
    document (one word swapped, ``dup`` appended) so the dedup queries
    find planted pairs, and a handful are exact copies."""
    langs = np.array(["en", "zh", "es", "fr", "de"])
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def ensure_tables(work_dir: str) -> str:
    """Build the table set under ``work_dir`` once; return its directory."""
    out_dir = os.path.join(work_dir, f"tables-sf{SCALE}-v{VERSION}")
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write("ok\n")
    return out_dir
