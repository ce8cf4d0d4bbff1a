"""Regenerate PLANS.md: executed physical plans of flagship operators.

Usage: python tools/plan_report.py  (writes PLANS.md at the repository root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from networkframe_spark.session import get_spark
from networkframe_spark.sources import tpch_graph

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# PLANS — executed physical plans of the flagship operators

Generated by `python tools/plan_report.py` over the sf0.001 fixtures.
What to look for (the scale contract, see README/SCALE.md):

- `FileScan parquet [...pruned columns...]` + `DataFilters`: predicate
  pushdown and column pruning reach the scan.
- `BroadcastHashJoin ... LeftSemi`: induced-subgraph closure joins are
  broadcast — no shuffle for node filters.
- `HashAggregate(partial_*)` → `Exchange hashpartitioning` →
  `HashAggregate`: one shuffle per aggregation, map-side combine.
"""


def _bfs_round_plan(nf):
    """ONE round of the distributed BFS frontier loop, spelled out as
    the loop body builds it (hop_distances' full result is a union of
    checkpointed waves whose plan shows only ExistingRDD scans — the
    interesting shape is the per-round expansion: cached edge table
    pre-partitioned on source, left-semi frontier probe, distinct, and
    the two-wave anti-join)."""
    from networkframe_spark.algorithms import _edge_pairs

    edges = _edge_pairs(nf, directed=False).repartition("source")
    seed = nf.nodes.limit(1).select("id")
    return (
        edges.join(
            seed.withColumnRenamed("id", "source"), on="source", how="left_semi"
        )
        .select(F.col("target").alias("id"))
        .distinct()
        .join(seed, on="id", how="left_anti")
        .select("id", F.lit(1).alias("dist"))
    )


def trimmed(df, max_lines: int = 40) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln.rstrip()[:160] for ln in plan.splitlines()]
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [f"... ({len(lines) - max_lines} more lines)"]
    return "\n".join(lines)


def main() -> None:
    spark = get_spark("plans")
    nf = tpch_graph(spark, SF_DIR)
    sections = [
        (
            "S1 query_nodes + induced closure",
            nf.query_nodes("acctbal > 1000").edges,
        ),
        (
            "J1 apply_node_features (edge decoration)",
            nf.apply_node_features("nationkey", axis="both").edges,
        ),
        (
            "G6 condense (quotient-graph aggregation)",
            nf.condense("nationkey", func="sum", columns=["weight"]).edges,
        ),
        (
            "A10 k-hop aggregation (k=1 pair table + hash agg)",
            nf.k_hop_aggregation(1, aggregations=["mean"], directed=False),
        ),
        (
            "C7 aggregated_edges (sparse adjacency)",
            nf.aggregated_edges(weight_col="weight"),
        ),
    ]
    # round-2 extension ops
    from networkframe_spark.functions.dedup import embedding_duplicates
    from networkframe_spark.functions.pipeline import (
        filter_quality,
        hash_sample,
        tf_idf_top_terms,
    )
    from networkframe_spark.sources import read_embeddings, read_table

    docs = read_table(spark, SF_DIR, "documents")
    emb = read_embeddings(spark, SF_DIR)
    sections += [
        (
            "embedding near-dup, LSH scale path (no CartesianProduct)",
            embedding_duplicates(emb, mode="lsh", threshold=0.9),
        ),
        (
            "filter_quality (fused single-pass corpus filter)",
            filter_quality(docs),
        ),
        (
            "hash_sample (deterministic md5-bucket filter, pushed to scan)",
            hash_sample(docs, 0.25, seed=7),
        ),
        (
            "tf_idf_top_terms (explode + two hash aggs + top-k window)",
            tf_idf_top_terms(docs, k=3),
        ),
    ]
    # round-2 extension ops, second batch
    from networkframe_spark.functions.search import bm25_top_docs

    sections += [
        (
            "pagerank (per-iteration keyed join + scaled-long hash agg)",
            nf.pagerank(n_iter=2),
        ),
        (
            "triangle_counts (degree-ordered orientation, keyed wedge joins)",
            nf.triangle_counts(),
        ),
        (
            "bm25_top_docs (pruned posting explode, broadcast df, top-k)",
            bm25_top_docs(docs, ["spark", "hash"], k=5),
        ),
    ]
    # round-2 extension ops, third batch
    from networkframe_spark.functions.pipeline import dedup_chunks
    from networkframe_spark.functions.similarity import label_centroids

    sections += [
        (
            "link_prediction (checkpointed und/deg — no scan re-execution)",
            nf.link_prediction(min_common=2, max_hub_degree=50),
        ),
        (
            "dedup_chunks (chunk explode + first-occurrence hash agg)",
            dedup_chunks(docs),
        ),
        (
            "label_centroids (posexplode + (label, dim) hash agg)",
            label_centroids(emb),
        ),
    ]
    # round-5: newest graph ops carry the same plan evidence
    sections += [
        (
            "local_clustering (triangle ratio, degree-ordered wedges)",
            nf.local_clustering(),
        ),
        (
            "k_core (iterative degree peel, keyed joins only)",
            nf.k_core(2),
        ),
        (
            "hop_distances — ONE distributed BFS round (the loop body; "
            "small graphs take the guarded local numpy path instead)",
            _bfs_round_plan(nf),
        ),
        (
            "graph_metrics (fused one-pass summary aggregates)",
            nf.metrics(),
        ),
    ]
    # round-5 pipeline ops
    from networkframe_spark.functions.dedup import semantic_dedup
    from networkframe_spark.functions.pipeline import (
        chunk_documents,
        dedup_lines,
        mix_domains,
    )

    sections += [
        (
            "dedup_lines (line freq agg + join-back + bounded reassembly)",
            dedup_lines(docs, min_docs=400, sep=" "),
        ),
        (
            "chunk_documents (map-side sequence/slice, zero shuffle)",
            chunk_documents(docs, chunk_size=32, stride=24),
        ),
        (
            "mix_domains (broadcast thresholds + map-side md5 filter)",
            mix_domains(
                docs, {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(20)}
            ),
        ),
        (
            "semantic_dedup (broadcast argmax cells + within-cell pairs)",
            semantic_dedup(emb, n_clusters=8, threshold=0.35),
        ),
    ]
    # round-5 graph/text ops, second batch
    from networkframe_spark.functions.text import unigram_logprob_score

    sections += [
        (
            "label_propagation (keyed join + vote agg per round)",
            nf.label_propagation(n_iter=2),
        ),
        (
            "unigram_logprob_score (vocab agg + broadcast total + join)",
            unigram_logprob_score(docs),
        ),
    ]
    # round-6 session-2 ops
    from networkframe_spark.functions.stats import top_k_per_group
    from networkframe_spark.functions.temporal import (
        resample_events,
        rolling_stats,
    )
    from networkframe_spark.functions.text import char_entropy_score
    from networkframe_spark.sources import read_events

    events = read_events(spark, SF_DIR)
    sections += [
        (
            "hits (decimal contribution agg + broadcast L1 normalizer, one half-round)",
            nf.hits(n_iter=1),
        ),
        (
            "betweenness_approx (fused BFS/sigma forward + dependency backward)",
            nf.betweenness_approx([1, 2], directed=False, max_hops=2),
        ),
        (
            "random_walks (ranked adjacency + counter-hash pick, one step)",
            nf.random_walks(walk_length=1, walks_per_node=1, directed=False),
        ),
        (
            "rolling_stats (ONE exchange + ONE window for all features)",
            rolling_stats(events),
        ),
        (
            "resample_events (struct-min OHLC, map-side combinable agg)",
            resample_events(events, minutes=60),
        ),
        (
            "char_entropy_score (alphabet-bounded histogram aggregates)",
            char_entropy_score(docs),
        ),
        (
            "top_k_per_group (single exchange + rank window)",
            top_k_per_group(docs, "lang", "n_chars", 5, tie_col="doc_id"),
        ),
    ]
    # round-6 session-3 ops
    from networkframe_spark.functions.pipeline import (
        hashed_tfidf_vectors,
        perplexity_buckets,
    )
    from networkframe_spark.functions.similarity import truncate_embeddings
    from networkframe_spark.functions.temporal import ewma, fill_gaps
    from networkframe_spark.functions.text import zipf_fit
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR)
    sections += [
        (
            "fill_gaps (distributed sequence grid + keyed forward-fill window)",
            fill_gaps(events, minutes=60),
        ),
        (
            "ewma (one exchange + one window evaluating all lag terms)",
            ewma(events, n_rows=8),
        ),
        (
            "k_truss (oriented wedge support, one bounded peel round)",
            nf.k_truss(k=3, max_rounds=1),
        ),
        (
            "truncate_embeddings (map-only slice + renormalize)",
            truncate_embeddings(emb, dim=16),
        ),
        (
            "perplexity_buckets (tf reuse + 1-row broadcast thresholds)",
            perplexity_buckets(docs),
        ),
        (
            "zipf_fit (TakeOrdered head + decimal moment agg)",
            zipf_fit(docs, top_n=100),
        ),
        (
            "hashed_tfidf_vectors (one explode, exchange-reused df branch)",
            hashed_tfidf_vectors(docs, n_features=64),
        ),
    ]
    # round-6 session-3 later batches
    from networkframe_spark.functions.pipeline import (
        merge_incremental,
        salted_join,
    )
    from networkframe_spark.functions.stats import join_skew_report

    sections += [
        (
            "edge_jaccard (oriented wedge support + degree lookups)",
            nf.edge_jaccard(),
        ),
        (
            "merge_incremental (single struct-max upsert aggregate)",
            merge_incremental(
                events,
                events.limit(10),
                key_col="event_id",
                tiebreak_col="user_id",
            ),
        ),
        (
            "salted_join (replicated build side, spread probe side)",
            salted_join(
                docs,
                docs.groupBy("lang").count(),
                on="lang",
                n_salt=4,
            ),
        ),
        (
            "join_skew_report (count tables only; fact tables never joined)",
            join_skew_report(
                events.select(F.col("user_id").alias("k")),
                events.select(F.col("user_id").alias("k")).limit(100),
                on="k",
            ),
        ),
    ]
    # round-7 ops
    from networkframe_spark.functions.stats import (
        bootstrap_ci_mean,
        chi2_independence,
        ks_test_2samp,
        psi_drift,
    )
    from networkframe_spark.functions.temporal import asof_join

    sections += [
        (
            "asof_join nearest (ONE union exchange, both fills from "
            "GROWING frames — no shrinking-frame O(n^2))",
            asof_join(
                events.filter("event_type = 'view'"),
                events.filter("event_type = 'purchase'").select(
                    "user_id", "ts", "value"
                ),
                on="user_id",
                right_cols=["value"],
                direction="nearest",
            ),
        ),
        (
            "chi2_independence (one fact aggregate, broadcast marginals, "
            "exact scaled-integer quotient sum)",
            chi2_independence(docs, "lang", "source"),
        ),
        (
            "ks_test_2samp (distinct-value agg + two-phase range cumsum; "
            "no single-partition window)",
            ks_test_2samp(events, "value", "event_type", "view", "purchase"),
        ),
        (
            "psi_drift (edge manifest broadcast, map-side literal binning)",
            psi_drift(
                events.filter("event_type = 'view'"),
                events.filter("event_type = 'purchase'"),
                "value",
                bins=5,
            ),
        ),
        (
            "bootstrap_ci_mean (map-side replicate explode collapsing "
            "into one partial agg; n_boot-row means table)",
            bootstrap_ci_mean(events, "value", "event_id", n_boot=20),
        ),
        (
            "maximal_independent_set — ONE Luby round shape (cached sym "
            "edges, two keyed joins + anti-joins over undecided state)",
            nf.maximal_independent_set(max_rounds=64),
        ),
        (
            "modularity_refine — integer-gain local-move round (label "
            "decoration join + (node, community) hash agg + community-"
            "sized vol tables + min_by argmax; Q-accept is two scalar "
            "aggregates)",
            nf.modularity_refine(
                nf.nodes.selectExpr("id", "id % 3 AS community"), n_rounds=1
            ),
        ),
        (
            "pagerank_personalized_batch — sparse (seed, id) rounds "
            "(edges x state keyed join + (seed, target) hash agg; "
            "k x reachable state, never k x N)",
            nf.pagerank_personalized_batch([1, 2, 3], n_iter=3),
        ),
        (
            "neardup_increment — one incremental fold (batch-bands x "
            "band-table bucket join; anti-joins for replay idempotence)",
            __import__(
                "networkframe_spark.streaming.ops", fromlist=["neardup_increment"]
            ).neardup_increment(
                docs.limit(50), docs.limit(20).select("doc_id", "text"),
                None, None, n_perm=4, n_bands=2,
            )[2],
        ),
    ]
    from networkframe_spark.functions.classifier import (
        classification_report,
        score_quality_classifier,
        train_quality_classifier,
    )
    from networkframe_spark.functions.pipeline import (
        rolling_origin_splits,
        time_split,
    )
    from networkframe_spark.functions.similarity import (
        ann_recall_report,
        cell_pruned_top_k,
    )
    from networkframe_spark.sources import read_table

    emb = read_table(spark, SF_DIR, "embeddings")
    qs = emb.filter("vec_id < 5")
    approx = cell_pruned_top_k(emb, qs, k=5, n_cells=4, n_probe=2)
    ydocs = docs.withColumn("y", (F.col("n_chars") > 300).cast("int"))
    scored = score_quality_classifier(ydocs, [0.2, 4.0, 0.0, -2.0, 0.0, 0.0])
    sections += [
        (
            "train_quality_classifier — ONE aggregate per GD iteration "
            "(weights ride as literals; scaled-integer gradient sums are "
            "map-side combinable; no UDF anywhere)",
            train_quality_classifier(ydocs, "y", n_iter=1),
        ),
        (
            "score_quality_classifier — pure map-side scoring (codegen'd "
            "feature exprs + hard-sigmoid, rides the scan)",
            scored.select("doc_id", "quality_p"),
        ),
        (
            "classification_report — one conditional aggregate over the "
            "scored fact table (exact integer confusion counts)",
            classification_report(
                scored.withColumn(
                    "pred", (F.col("quality_p") >= 0.5).cast("int")
                ),
                "y",
                "pred",
            ),
        ),
        (
            "cell_pruned_top_k — broadcast seed manifest, 6-dp argmax "
            "cell windows, candidate join on the cell key only "
            "(n_probe/n_cells of the corpus per query)",
            approx,
        ),
        (
            "ann_recall_report — brute truth (broadcast queries) ⋈ "
            "pruned predictions on (query, id) + query-keyed aggregate",
            ann_recall_report(emb, qs, approx, k=5),
        ),
        (
            "time_split — 1-row min/max aggregate broadcast back, "
            "map-side integer-microsecond labeling",
            time_split(events, "ts", 4, 5, 3600),
        ),
        (
            "rolling_origin_splits — broadcast fold table crossJoin, "
            "per-fold labels push down as filters",
            rolling_origin_splits(events, "ts", n_folds=3),
        ),
    ]
    # round-11: persisted IVF-PQ — the probe plan must show
    # PartitionFilters on list_id (pruned code-file listing) and two
    # broadcast joins (probe pairs + ADC lookup table); no full-vector
    # column anywhere in the online scan
    import os as _os
    import tempfile as _tempfile

    from networkframe_spark.functions.similarity import (
        build_ivfpq_index,
        ivfpq_search,
    )

    _ivfpq_path = _os.path.join(
        _tempfile.gettempdir(), f"nfspark_plans_ivfpq_{_os.getpid()}"
    )
    build_ivfpq_index(
        emb, _ivfpq_path, n_lists=8, m=4, k_codes=16, n_iter=1,
        codebook_init="first_ids", residual=False, mode="overwrite",
    )
    _qs = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sections += [
        (
            "ivfpq_search — PartitionFilters prune the codes scan to "
            "n_probe cells; broadcast probe pairs + broadcast ADC LUT; "
            "full-precision vectors never read online",
            ivfpq_search(spark, _ivfpq_path, _qs, k=5, n_probe=2),
        ),
    ]
    # round-12: residual IVFADC — the per-(query, probed-cell) ADC
    # table FUSES the probe-pair join and the LUT join into a single
    # BroadcastHashJoin on (list_id, j, code); pruning unchanged
    _ivfpqr_path = _os.path.join(
        _tempfile.gettempdir(), f"nfspark_plans_ivfpqres_{_os.getpid()}"
    )
    build_ivfpq_index(
        emb, _ivfpqr_path, n_lists=8, m=4, k_codes=16, n_iter=1,
        codebook_init="first_ids", residual=True, mode="overwrite",
    )
    sections += [
        (
            "ivfpq_search residual mode — ONE broadcast join on "
            "(list_id, j, code): the per-(query, probed-cell) residual "
            "ADC table (n_q x n_probe x m x k rows, guarded by "
            "_MAX_RESIDUAL_LUT_ROWS) fuses the probe-pair and LUT "
            "joins; codes-scan PartitionFilters unchanged",
            ivfpq_search(spark, _ivfpqr_path, _qs, k=5, n_probe=2),
        ),
    ]
    # round-12: persisted LSH — home-bucket probes list literal
    # (table, bucket) partition values, so the bands scan prunes at
    # file listing exactly like the IVF/IVF-PQ cells scans
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
    )

    _lsh_path = _os.path.join(
        _tempfile.gettempdir(), f"nfspark_plans_lsh_{_os.getpid()}"
    )
    build_lsh_index(emb, _lsh_path, n_planes=4, n_tables=2, mode="overwrite")
    sections += [
        (
            "lsh_index_search — (table, bucket) PartitionFilters prune "
            "the persisted bands scan; probe pairs and query "
            "embeddings broadcast separately; max-agg collision fold",
            lsh_index_search(
                spark, _lsh_path, _qs, k=3, n_probe_bits=0,
                query_id_col="query_id",
            ),
        ),
    ]
    # round-12: ann_rerank — exact re-rank of oversampled ADC
    # candidates: the full-precision corpus scan reaches its
    # BroadcastHashJoin with NO exchange (vectors read only for
    # candidate pairs; the only hash exchanges are the candidate
    # dedup inside the broadcast subtree and the top-k window)
    from networkframe_spark.functions.similarity import ann_rerank

    _cand = ivfpq_search(spark, _ivfpq_path, _qs, k=10, n_probe=2)
    sections += [
        (
            "ann_rerank over oversampled ivfpq candidates — candidate "
            "pairs broadcast-probe the corpus (scan never shuffles); "
            "exact 6-dp L2 re-rank to the final top-k",
            ann_rerank(_cand, emb, _qs, k=5, metric="l2"),
        ),
    ]
    parts = [HEADER]
    for title, df in sections:
        parts.append(f"\n## {title}\n\n```\n{trimmed(df)}\n```\n")
    # the 160-char line trim hides FileScan attributes; surface the
    # ivfpq pruning predicates explicitly so the partition-pruned
    # reads are visible in the committed artifact, not just in tests
    import re as _re

    for label, df in (
        ("ivfpq_search", sections[-4][1]),
        ("ivfpq_search residual", sections[-3][1]),
        ("lsh_index_search", sections[-2][1]),
    ):
        _plan = df._jdf.queryExecution().executedPlan().toString()
        _m = _re.search(r"PartitionFilters: \[[^\]]*\]", _plan)
        if _m:
            parts.append(
                f"\n{label} codes-scan pruning attribute (elided from "
                f"the trimmed plan above):\n`{_m.group(0)}`\n"
            )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(parts))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
