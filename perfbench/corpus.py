"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (TPC-H-like star schema, an
``events`` stream table, and the ``documents``/``embeddings`` pair), one
parquet file each, with the physical types of the grading corpus:
int32 keys where it has them, ``timestamp[us]`` dates, ``list<float32>``
embeddings of dimension 64.  Content is benign (no adversarial NULLs or
pre-epoch dates; the stress corpus in ``tools/`` covers those).  The
same ``(seed, sf)`` always gives byte-identical tables.

Row counts scale like the grading corpus: at ``sf=0.01`` lineitem has
about 60k rows, orders 15k, events 10k, documents 500.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
WORDS = (
    "key agg row scan slow fast table value part hash join batch window "
    "spark order data column customer filter small merge vector line "
    "stream group a big sort query the and of to"
).split()

US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)].tolist())


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build the ten tables in memory for scale ``sf`` and ``seed``."""
    rng = np.random.default_rng(seed % 2**63)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = min(n_docs, max(500, int(20_000 * sf)))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp)),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array((adj + " " + noun).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 41, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(_money(rng, 900, 2000, n_part)),
    })

    o_dates = _day_us(1995, 1, 1) + rng.integers(0, 2400, n_ord) * US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1_000, 450_000, n_ord)),
        "o_orderdate": _ts(o_dates),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 100_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(o_dates[l_order] + rng.integers(1, 122, n_li) * US_PER_DAY),
    })

    span_us = 30 * US_PER_DAY
    ev_ts = _day_us(2024, 1, 1) + np.sort(rng.integers(0, span_us, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(_money(rng, 0.01, 490, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 90, n_docs)
    ]
    for i in range(0, n_docs - 1, 25):  # exact duplicates for the dedup ids
        texts[i + 1] = texts[i]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    dim = 64
    centers = rng.normal(0.0, 0.15, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = np.clip(centers[labels] + rng.normal(0.0, 0.08, (n_emb, dim)), -0.3, 0.3)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write the corpus for ``(sf, seed)`` to ``out_dir`` as ``<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
