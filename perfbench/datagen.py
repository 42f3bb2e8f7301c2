"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the library's rows read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains of the
TPC-H-shaped star schema plus the ``events`` stream and the text/vector
corpus.  The same ``seed`` and ``scale`` always give byte-identical
values.  ``scale=1.0`` has the row counts of the sf0.01 tables: 15,000
orders, about 60,000 lineitems, 10,000 events and a 500-document corpus.

The corpus is word salad over a small vocabulary, with planted exact
and near duplicates so the dedup operators find clusters, and one rare
term (``dup``) that the max-score search pruning keys on.

    python3 perfbench/datagen.py OUT_DIR [--seed N] [--scale X]
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query stream filter group vector"
).split()
COLORS = "red blue green black white small large steel".split()
NOUNS = "bolt ring widget anvil gear valve spring clamp".split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _ts(base, us) -> pa.Array:
    return pa.array((base + us.astype("timedelta64[us]")).astype("datetime64[us]"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _corpus(rng, n_docs: int) -> list[str]:
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.14:  # near copy: a few words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), size=int(rng.integers(1, 4))):
                toks[j] = str(rng.choice(words))
            texts.append(" ".join(toks))
            continue
        toks = list(rng.choice(words, size=int(rng.integers(8, 90))))
        if rng.random() < 0.05:
            toks.insert(int(rng.integers(0, len(toks))), "dup")
        texts.append(" ".join(toks))
    return texts


def generate(out: str, seed: int = 0, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out``; returns {table: row count}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 10), int(2000 * scale)
    n_ord, n_ev, n_docs = int(15000 * scale), int(10000 * scale), max(int(500 * scale), 100)
    n_users = max(int(150 * scale), 20)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1),
    })
    odate = rng.integers(0, 2400, n_ord) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995, odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995, np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024, ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(1.5, 40.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _corpus(rng, n_docs)
    _write(out, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.6, (n_docs, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "orders": n_ord, "lineitem": n_li,
        "events": n_ev, "documents": n_docs,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    print(generate(a.out, a.seed, a.scale))
