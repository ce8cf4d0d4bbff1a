"""Synthesize an sf1-like dataset by key-shifted 10x replication of
sf0.1 (the driver provides sf0.001/0.01/0.1 only; this tool exists so
the scaling sweep in SCALE.md has a ~6M-row lineitem point).

Each replica shifts every entity key by `i * stride` so the copies are
disjoint: node count, edge count, and event count all scale 10x while
per-key degree distributions, join fan-outs, and text/embedding
payloads keep the sf0.1 shape — the same growth TPC-H itself has
between scale factors (10x customers AND 10x orders).  Timestamps and
payloads repeat; dedup-family queries therefore see each document 10x
(bucketed candidate groups of 10 — bounded, intentional).

Usage: python tools/make_sfscale.py [out_dir] [factor]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000  # larger than any sf0.1 key

SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],  # dimension tables stay fixed, like TPC-H
    "region": [],
}


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1"
    )
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, keys in SHIFTS.items():
        src = f"{SRC}/{table}.parquet"
        dst = f"{out}/{table}.parquet"
        if not keys:
            con.execute(
                f"COPY (SELECT * FROM '{src}') TO '{dst}' (FORMAT PARQUET)"
            )
            continue
        cols = [
            c[0]
            for c in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        ]
        sel = ", ".join(
            f"({c} + r.i * {STRIDE})::BIGINT AS {c}" if c in keys else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}', "
            f"(SELECT unnest(range({factor})) AS i) r) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        print(f"{table}: {n} rows")


if __name__ == "__main__":
    main()
