"""Measured recall of every probabilistic/banded scale path against
its exhaustive twin — fills SCALE.md's RECALL table.

Rows:
- semantic_decontaminate(method="lsh", 4 planes x 2 tables) vs brute
- fuzzy_decontaminate(bands=8, n_perm=32) vs bands=0 (exhaustive)
- lsh_top_k(4 planes x 2 tables, k=5) vs brute-force top-5
- minhash_lsh corpus dedup pairs (8 bands x 4 rows) vs exact-Jaccard
  pairs at the same threshold (dedup_corpus's engine)

Recall numbers are deterministic (md5-seeded planes / permutations),
so this is a correctness-style measurement, not a timing one.

Usage: python tools/recall_report.py [sf_dir]   (default sf0.1)
Prints one JSON line per row; paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from networkframe_spark.session import get_spark


def agg_recall(report_df) -> dict:
    row = report_df.agg(
        F.sum("n_truth").alias("t"),
        F.sum("n_hit").alias("h"),
        F.count(F.lit(1)).alias("groups"),
    ).first()
    t, h = int(row["t"] or 0), int(row["h"] or 0)
    return {
        "n_truth": t,
        "n_hit": h,
        "recall": round(h / t, 4) if t else None,
        "groups": int(row["groups"]),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("recall_report")
    from networkframe_spark.functions.dedup import (
        fuzzy_decontaminate,
        minhash_lsh_duplicates,
        ngram_jaccard_duplicates,
    )
    from networkframe_spark.functions.similarity import (
        ann_recall_report,
        lsh_top_k,
        pair_recall_report,
        semantic_decontaminate,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. semantic decontamination: brute truth vs 4x2 banding
    ev = emb.filter("vec_id % 20 = 0")
    tr = emb.filter("vec_id % 20 <> 0")
    truth = semantic_decontaminate(tr, ev, threshold=0.42)
    pred = semantic_decontaminate(
        tr, ev, threshold=0.42, method="lsh", n_planes=4, n_tables=2
    )
    r = agg_recall(pair_recall_report(truth, pred))
    print(json.dumps({"row": "semantic_decontaminate lsh 4x2 @0.42", **r}))

    # 2. fuzzy decontamination: exhaustive shared-shingle truth vs
    #    8-band/32-perm MinHash candidates, threshold 0.5
    evd = docs.filter("doc_id % 20 = 0")
    trd = docs.filter("doc_id % 20 <> 0")
    ftruth = fuzzy_decontaminate(trd, evd, bands=0, threshold=0.5)
    fpred = fuzzy_decontaminate(
        trd, evd, bands=8, n_perm=32, threshold=0.5
    )
    r = agg_recall(pair_recall_report(ftruth, fpred))
    print(json.dumps({"row": "fuzzy_decontaminate 8 bands x 4 rows @0.5", **r}))

    # 3. lsh_top_k recall@5 (the registered lsh_recall_report shape)
    qs = emb.filter("vec_id < 10")
    approx = lsh_top_k(emb, qs, k=5, n_planes=4, n_tables=2)
    rep = ann_recall_report(emb, qs, approx, k=5)
    row = rep.agg(
        F.sum("n_truth").alias("t"), F.sum("n_hit").alias("h")
    ).first()
    print(
        json.dumps(
            {
                "row": "lsh_top_k 4x2 recall@5",
                "n_truth": int(row["t"]),
                "n_hit": int(row["h"]),
                "recall": round(int(row["h"]) / int(row["t"]), 4),
            }
        )
    )

    # 4. corpus near-dup: exact-Jaccard truth vs MinHash-LSH pairs
    jt = ngram_jaccard_duplicates(docs, threshold=0.5).select(
        F.col("id_a").alias("train_id"), F.col("id_b").alias("eval_id")
    )
    jp = minhash_lsh_duplicates(
        docs, n_perm=32, bands=8, threshold=0.5
    ).select(
        F.col("id_a").alias("train_id"), F.col("id_b").alias("eval_id")
    )
    r = agg_recall(pair_recall_report(jt, jp))
    print(json.dumps({"row": "minhash_lsh_duplicates 8x4 @0.5", **r}))
    spark.stop()


if __name__ == "__main__":
    main()
