"""Deterministic input generation for the benchmark.

The tables follow the shapes of the repository's TPC-H-like fixtures
(FIXTURES.md §4) but are synthesized here, so the benchmark needs no
data outside its checkout.  Table contents depend only on the scale
profile (a fixed data seed, like the fixtures' seed 42); the workload
seed only chooses how the corpus is cut into micro-batches and, in the
workloads, the parameters of each call.

Everything is held twice: as parquet files the engine reads, and as
pandas/numpy objects the output checks compute their expectations from.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts per profile.  ``bench`` is about sf0.02 for the graph
# tables; ``smoke`` is sf0.001 (the size of the smallest fixture).
PROFILES = {
    "bench": {
        "sf": 0.02,
        "customers": 3000,
        "suppliers": 200,
        "orders": 30000,
        "documents": 1200,
        "embeddings": 1200,
        "batches": 2,
    },
    "smoke": {
        "sf": 0.001,
        "customers": 150,
        "suppliers": 10,
        "orders": 1500,
        "documents": 160,
        "embeddings": 160,
        "batches": 2,
    },
}

N_NATIONS = 25
EMB_DIM = 64
N_LABELS = 10

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "with", "on"]
CONTENT = sorted(
    set(
        "batch part spark line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge "
        "data customer vector join supplier nation region price ship date "
        "graph edge node frame shuffle stage task driver cache index shard "
        "token corpus text label embed plan cost rank score page core".split()
    )
)
VOCAB = STOPWORDS + CONTENT


@dataclass
class Inputs:
    """Generated tables: parquet paths for the engine, frames for checks."""

    profile: str
    sf: float
    graph_dir: str
    nodes: pd.DataFrame  # id, kind, nationkey, acctbal (engine node ids)
    edges: pd.DataFrame  # source, target, weight
    docs: pd.DataFrame  # doc_id, text
    emb: np.ndarray  # (n, EMB_DIM) float64, row i has vec_id i
    batch_files: list  # [(docs_parquet, emb_parquet, (lo, hi) vec_ids, doc_ids)]


def _graph_tables(rng: np.random.Generator, p: dict):
    n_c, n_s, n_o = p["customers"], p["suppliers"], p["orders"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
            "c_nationkey": rng.integers(0, N_NATIONS, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        }
    )
    customer.insert(1, "c_name", [f"Customer#{k:09d}" for k in customer.c_custkey])
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_s + 1, dtype=np.int64),
            "s_nationkey": rng.integers(0, N_NATIONS, n_s).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        }
    )
    supplier.insert(1, "s_name", [f"Supplier#{k:09d}" for k in supplier.s_suppkey])
    # as in TPC-H, a third of the customers place no orders
    buyers = customer.c_custkey.to_numpy()
    buyers = buyers[buyers % 3 != 0]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": rng.choice(buyers, n_o),
        }
    )
    lines_per_order = rng.integers(1, 8, n_o)
    l_orderkey = np.repeat(orders.o_orderkey.to_numpy(), lines_per_order)
    n_l = len(l_orderkey)
    quantity = rng.integers(1, 51, n_l).astype(np.float64)
    retail = rng.uniform(900.0, 2100.0, n_l)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_orderkey,
            "l_suppkey": rng.integers(1, n_s + 1, n_l).astype(np.int64),
            "l_extendedprice": np.round(quantity * retail, 2),
        }
    )
    return customer, supplier, orders, lineitem


def _engine_graph(customer, supplier, orders, lineitem):
    """The node and edge tables ``sources.tpch_graph`` derives."""
    nodes = pd.concat(
        [
            pd.DataFrame(
                {
                    "id": customer.c_custkey,
                    "kind": "customer",
                    "nationkey": customer.c_nationkey,
                    "acctbal": customer.c_acctbal,
                }
            ),
            pd.DataFrame(
                {
                    "id": -supplier.s_suppkey - 1,
                    "kind": "supplier",
                    "nationkey": supplier.s_nationkey,
                    "acctbal": supplier.s_acctbal,
                }
            ),
        ],
        ignore_index=True,
    )
    joined = lineitem.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    edges = pd.DataFrame(
        {
            "source": joined.o_custkey.to_numpy(),
            "target": -joined.l_suppkey.to_numpy() - 1,
            "weight": joined.l_extendedprice.to_numpy(),
        }
    )
    return nodes, edges


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents with planted exact duplicates, one-word
    near-duplicates, too-short junk and repetitive spam."""
    vocab = np.array(VOCAB)
    # stopwords make up about a third of the tokens, as in prose
    probs = np.where(np.arange(len(vocab)) < len(STOPWORDS), 3.0, 1.0)
    probs /= probs.sum()
    texts: list[str] = []
    long_ones: list[int] = []  # documents of 40+ tokens
    for i in range(n):
        kind = rng.random() if i >= 20 else 1.0
        if kind < 0.06:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif kind < 0.12:  # near copy: one token replaced
            toks = texts[long_ones[int(rng.integers(0, len(long_ones)))]].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
        elif kind < 0.14:  # junk: too few tokens
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(1, 4)))))
        elif kind < 0.16:  # spam: one bigram repeated
            pair = " ".join(rng.choice(vocab, 2))
            texts.append(" ".join([pair] * int(rng.integers(10, 30))))
        else:
            k = int(rng.integers(40, 90)) if i < 20 else int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(vocab, k, p=probs)))
        if len(texts[-1].split()) >= 40:
            long_ones.append(i)
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def _embeddings(rng: np.random.Generator, n: int):
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, EMB_DIM))
    # stored as float32 like the fixtures; checks use the same values
    vecs = vecs.astype(np.float32).astype(np.float64)
    return vecs, labels.astype(np.int32)


def _write(df: pd.DataFrame | pa.Table, path: str) -> str:
    table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path)
    return path


def _batch_cuts(seed: int, n: int, n_batches: int) -> list[int]:
    """Seed-drawn micro-batch boundaries: batch sizes vary ±15% around
    an even split."""
    rng = np.random.default_rng([seed, 7])
    sizes = rng.uniform(0.85, 1.15, n_batches)
    cuts = np.floor(np.cumsum(sizes) / sizes.sum() * n).astype(int)
    cuts[-1] = n
    return [0] + [int(c) for c in cuts]


def generate(root: str, profile: str, seed: int) -> Inputs:
    """Write every table under ``root`` and return them."""
    p = PROFILES[profile]
    rng = np.random.default_rng(DATA_SEED)
    graph_dir = os.path.join(root, "graph")
    os.makedirs(graph_dir, exist_ok=True)
    customer, supplier, orders, lineitem = _graph_tables(rng, p)
    for name, df in (
        ("customer", customer),
        ("supplier", supplier),
        ("orders", orders),
        ("lineitem", lineitem),
    ):
        _write(df, os.path.join(graph_dir, f"{name}.parquet"))
    nodes, edges = _engine_graph(customer, supplier, orders, lineitem)

    docs = _documents(rng, p["documents"])
    vecs, labels = _embeddings(rng, p["embeddings"])
    batch_dir = os.path.join(root, "corpus")
    os.makedirs(batch_dir, exist_ok=True)
    cuts = _batch_cuts(seed, len(docs), p["batches"])
    ecuts = _batch_cuts(seed, len(vecs), p["batches"])
    batch_files = []
    for b in range(p["batches"]):
        part = docs.iloc[cuts[b] : cuts[b + 1]]
        dpath = _write(part, os.path.join(batch_dir, f"documents_{b}.parquet"))
        lo, hi = ecuts[b], ecuts[b + 1]
        etab = pa.table(
            {
                "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "embedding": pa.array(list(vecs[lo:hi].astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(labels[lo:hi]),
            }
        )
        epath = _write(etab, os.path.join(batch_dir, f"embeddings_{b}.parquet"))
        batch_files.append((dpath, epath, (lo, hi), part.doc_id.tolist()))
    return Inputs(
        profile=profile,
        sf=p["sf"],
        graph_dir=graph_dir,
        nodes=nodes,
        edges=edges,
        docs=docs,
        emb=vecs,
        batch_files=batch_files,
    )
