"""Scale stress: synthetic graph ~10x sf0.1 to verify the operator
shapes (closure joins, quotient aggregation, contraction-based
components, k-hop aggregation) hold as data grows.

Usage: python tools/stress.py [n_nodes] [n_edges]
Prints one JSON line of wall times.  Not part of the driver contract —
engineering evidence that the plans scale, generated data (the driver
fixtures stop at sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from networkframe_spark import NetworkFrame
from networkframe_spark.session import get_spark


def synthetic_graph(spark, n_nodes: int, n_edges: int) -> NetworkFrame:
    """Skewed random graph: hub-heavy targets (hash^2 concentrates
    mass on low ids) to exercise AQE skew handling, plus uniform
    sources.  Deterministic — no RNG state."""
    nodes = spark.range(n_nodes).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(100))).cast("int").alias("grp"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)) / 100.0).alias("score"),
    )
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("source"),
        F.pmod(
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_nodes))
            * F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_nodes)),
            F.lit(n_nodes),
        ).alias("target"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100000)) / 100.0).alias("weight"),
    )
    return NetworkFrame(nodes, edges)


def scc_stress(n_nodes: int = 2_400_000, cycle_len: int = 1000) -> None:
    """Exercise the distributed Forward-Backward SCC path ABOVE the
    driver-local Tarjan guard (algorithms._LOCAL_MAX_ROWS = 2M)
    on a graph with known ground truth: ``n_nodes/cycle_len`` disjoint
    directed cycles (each one SCC, comp = min member = block start),
    plus block-pair DAG edges (2k -> 2k+1) so the peel loop runs >= 2
    rounds.  Verifies every label distributedly — no 2.4M-row collect;
    also cross-checks one block against the driver-local Tarjan.
    """
    import numpy as np

    from networkframe_spark.algorithms import (
        _LOCAL_MAX_ROWS,
        _scc_local,
        _strong_component_min_labels,
    )

    assert n_nodes % cycle_len == 0
    n_blocks = n_nodes // cycle_len
    spark = get_spark("scc_stress")
    nodes = spark.range(n_nodes).select("id")
    # cycle edges: i -> i+1 within a block, last wraps to block start
    cyc = spark.range(n_nodes).select(
        F.col("id").alias("source"),
        F.when(
            (F.col("id") + 1) % cycle_len == 0, F.col("id") + 1 - cycle_len
        ).otherwise(F.col("id") + 1).alias("target"),
    )
    # DAG edges between block pairs, HIGHER block -> LOWER block:
    # the lower block then inherits the upper root's color in round 1
    # (its own M stays smaller), so it only peels in round 2 — forces
    # the peel loop to actually iterate instead of finishing in one
    # round (edges low->high would be color-inert: every block keeps
    # its own max as color).
    dag = spark.range(n_blocks // 2).select(
        ((F.col("id") * 2 + 1) * cycle_len).alias("source"),
        (F.col("id") * 2 * cycle_len).alias("target"),
    )
    nf = NetworkFrame(nodes, cyc.union(dag))
    n_edges = nf.edges.distinct().count()
    assert n_edges > _LOCAL_MAX_ROWS, (
        f"{n_edges} edges does not exceed the local guard — "
        "the distributed path would not be exercised"
    )
    t0 = time.time()
    labels = _strong_component_min_labels(nf).localCheckpoint(eager=True)
    wall = round(time.time() - t0, 2)
    expected = (F.col("id") - F.pmod(F.col("id"), F.lit(cycle_len)))
    n_bad = labels.filter(F.col("comp") != expected).count()
    n_comp = labels.select("comp").distinct().count()
    # letter-of-the-verdict cross-check: driver Tarjan on one block
    blk = np.arange(cycle_len, 2 * cycle_len, dtype=np.int64)
    src = blk - cycle_len  # positions 0..L-1
    dst = np.roll(src, -1)
    tarjan = blk[_scc_local(src, dst, len(blk))]
    dist_blk = {
        r["id"]: r["comp"]
        for r in labels.filter(
            (F.col("id") >= cycle_len) & (F.col("id") < 2 * cycle_len)
        ).collect()
    }
    tarjan_ok = all(dist_blk[int(v)] == tarjan[i] for i, v in enumerate(blk))
    print(
        json.dumps(
            {
                "mode": "scc",
                "n_nodes": n_nodes,
                "n_edges": n_edges,
                "cycle_len": cycle_len,
                "wall_s": wall,
                "n_components": n_comp,
                "expected_components": n_blocks,
                "mismatched_labels": n_bad,
                "tarjan_block_agrees": tarjan_ok,
                "ok": n_bad == 0 and n_comp == n_blocks and tarjan_ok,
            }
        )
    )
    spark.stop()


def events_stress(n_events: int = 10_000_000, n_users: int = 100_000) -> None:
    """Temporal-operator shapes at ~100x the sf0.1 events fixture:
    deterministic synthetic events over a 30-day span with a planted
    hub (user 0 owns 10% of all events) so the per-entity windows and
    the gap-fill grid see real skew."""
    from networkframe_spark.functions.temporal import (
        ewma,
        fill_gaps,
        inter_event_stats,
        resample_events,
        rolling_stats,
        top_event_paths,
    )

    spark = get_spark("events_stress")
    types = F.array(*[F.lit(t) for t in ("view", "cart", "buy", "ship", "ret")])
    epoch0 = 1_700_000_000
    base = (
        spark.range(n_events)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.pmod("id", F.lit(10)) == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_users)))
            .alias("user_id"),
            F.to_timestamp(
                F.lit(epoch0) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(30 * 86400))
            ).alias("ts"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100000)) / 100.0).alias(
                "value"
            ),
            F.element_at(
                types, (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) + 1).cast("int")
            ).alias("event_type"),
        )
        .persist()
    )
    base.count()
    timings: dict[str, float] = {}

    def run(name, mk):
        best = None
        for _ in range(2):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            best = min(best or 1e9, time.time() - t0)
        timings[name] = round(best, 2)

    run("resample_1h", lambda: resample_events(base, minutes=60))
    run("rolling_5", lambda: rolling_stats(base, n_rows=5))
    run("ewma_8", lambda: ewma(base, n_rows=8))
    run("fill_gaps_1h", lambda: fill_gaps(base, minutes=60))
    run("top_event_paths", lambda: top_event_paths(base, path_len=3))
    run("inter_event_stats", lambda: inter_event_stats(base))
    from networkframe_spark.functions.temporal import rfm_segments, time_profile

    run("time_profile", lambda: time_profile(base))
    run("rfm_segments_approx", lambda: rfm_segments(base, approx=True))
    # round-7 ops
    from networkframe_spark.functions.stats import winsorize
    from networkframe_spark.functions.temporal import anomaly_zscore, asof_join

    run("anomaly_zscore_20", lambda: anomaly_zscore(base, n_rows=20))
    run(
        "winsorize_by_type_approx",
        lambda: winsorize(
            base, "value", group_col="event_type", approx=True
        ),
    )
    views = base.filter("event_type = 'view'")
    buys = base.filter("event_type = 'buy'").select("user_id", "ts", "value")
    run(
        "asof_nearest",
        lambda: asof_join(
            views, buys, on="user_id", right_cols=["value"],
            direction="nearest",
        ),
    )
    # round-7 session-2 stats ops
    from networkframe_spark.functions.stats import (
        bootstrap_ci_mean,
        chi2_independence,
        ks_test_2samp,
        mann_whitney_u,
        psi_drift,
    )

    run("chi2_type_x_user_bucket", lambda: chi2_independence(
        base.withColumn("ub", F.pmod("user_id", F.lit(20))),
        "event_type", "ub",
    ))
    run("ks_view_vs_buy", lambda: ks_test_2samp(
        base, "value", "event_type", "view", "buy"
    ))
    run("mann_whitney_view_vs_buy", lambda: mann_whitney_u(
        base, "value", "event_type", "view", "buy"
    ))
    run("psi_view_vs_buy", lambda: psi_drift(
        views, base.filter("event_type = 'buy'"), "value", bins=10,
        approx=True,
    ))
    run("bootstrap_ci_50", lambda: bootstrap_ci_mean(
        base, "value", "event_id", n_boot=50
    ))
    print(
        json.dumps(
            {
                "n_events": n_events,
                "n_users": n_users,
                "timings": timings,
                "total": round(sum(timings.values()), 2),
            }
        )
    )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--events":
        events_stress(
            int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 100_000,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--corpus":
        corpus_stress(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--embeddings":
        embedding_stress(
            int(sys.argv[2]) if len(sys.argv) > 2 else 100_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 16,
            int(sys.argv[4]) if len(sys.argv) > 4 else 64,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--scc":
        scc_stress(
            int(sys.argv[2]) if len(sys.argv) > 2 else 2_400_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 1000,
        )
        return
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = get_spark("stress")
    nf = synthetic_graph(spark, n_nodes, n_edges).persist()
    timings: dict[str, float] = {}

    def run(name, mk):
        best = None
        # best-of-2: the host shows multi-second interference spikes
        for _ in range(2):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 2)

    run("materialize", lambda: nf.edges)
    run("closure_filter", lambda: nf.query_nodes("score > 50").edges)
    run("condense", lambda: nf.condense("grp", func="sum", columns=["weight"]).edges)
    run("khop1_agg", lambda: nf.k_hop_aggregation(1, aggregations=["mean"], directed=False))
    run("pagerank5", lambda: nf.pagerank(n_iter=5))
    run("triangles", lambda: nf.triangle_counts())
    run("k_core3", lambda: nf.k_core(3))
    run(
        "link_prediction",
        lambda: nf.link_prediction(min_common=2, max_hub_degree=30),
    )
    run("hop_distances", lambda: nf.hop_distances(0, directed=False))
    run("hits3", lambda: nf.hits(n_iter=3))
    run(
        "harmonic_3seed",
        lambda: nf.harmonic_centrality([0, 1, 2], directed=False),
    )
    run(
        "random_walks_L4",
        lambda: nf.random_walks(walk_length=4, walks_per_node=1, directed=False),
    )
    run(
        "maximal_independent_set",
        lambda: nf.maximal_independent_set(directed=False),
    )
    run(
        "lpa_weighted_3r",
        lambda: nf.label_propagation(
            n_iter=3, directed=False, weight_col="weight"
        ),
    )
    run(
        "node2vec_L4",
        lambda: nf.node2vec_walks(
            walk_length=4, walks_per_node=1, p=2.0, q=0.5, directed=False
        ),
    )
    run(
        "betweenness_2seed_h2",
        lambda: nf.betweenness_approx([0, 1], directed=False, max_hops=2),
    )
    run(
        "neighbor_sample_2hop",
        lambda: nf.neighbor_sample(
            [0, 1, 2, 3], fanouts=[10, 5], directed=False
        ),
    )
    run(
        "bipartite_project_cap20",
        lambda: nf.bipartite_project(side="target", max_hub_degree=20),
    )
    run("k_truss4_r1", lambda: nf.k_truss(k=4, max_rounds=1))
    best = None
    for _ in range(2):
        t0 = time.time()
        ncc = nf.n_connected_components(directed=False)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    timings["weak_components"] = round(best, 2)
    print(
        json.dumps(
            {
                "n_nodes": n_nodes,
                "n_edges": n_edges,
                "n_components": ncc,
                "timings": timings,
                "total": round(sum(timings.values()), 2),
            }
        )
    )
    spark.stop()




def clustered_corpus(spark, n_docs: int, cluster_size: int = 5,
                     mutate_mod: int = 20, words_per_doc: int = 60):
    """Clustered NON-replicated synthetic corpus: documents come in
    clusters of ``cluster_size`` sharing a base word sequence, but
    each doc mutates ~1/``mutate_mod`` of its positions to a
    doc-specific word — near-duplicates with realistic within-cluster
    shingle Jaccard (≈0.55-0.65 at mutate_mod=20 over 3-shingles),
    never byte-identical, plus every 7th cluster is a singleton (no
    dup partner).  This is the fixture the replicated `corpus_stress`
    generator can't provide: banded dedup on 10-way *identical*
    replicas collapses to the exact-hash case and flatters the
    exponent.  Deterministic — xxhash64-derived, no RNG state."""
    words = F.array(*[F.lit(w) for w in (
        "spark hash join scan filter table row batch window sort group "
        "key value vector stream query data column merge fast slow "
        "plan stage shuffle codegen arrow parquet bucket skew salt"
    ).split()])
    n_words = 29
    cluster = F.col("id") - F.pmod(F.col("id"), F.lit(cluster_size))
    # singleton clusters: every 7th cluster keys words by doc id, so
    # its docs share nothing with neighbours
    base_key = F.when(
        F.pmod((cluster / cluster_size).cast("long"), F.lit(7)) == 0,
        F.col("id") + 10_000_019,
    ).otherwise(cluster)
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
                lambda i: F.element_at(
                    words,
                    (
                        F.pmod(
                            F.when(
                                F.pmod(F.xxhash64(F.col("id"), i), mutate_mod)
                                == 0,
                                F.xxhash64(F.col("id"), i, F.lit(1)),
                            ).otherwise(F.xxhash64(base_key, i)),
                            F.lit(n_words),
                        )
                        + 1
                    ).cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )


def corpus_stress(n_docs: int = 2_000_000) -> None:
    """Scale-shape check for the corpus-pipeline operators on a
    synthetic document table ~40x the sf0.1 fixture (deterministic —
    hash-derived word soup with planted duplicate structure: docs
    come in runs of 20 sharing identical text, so the dedup operators
    have real work)."""
    from pyspark.sql import functions as F

    from networkframe_spark.functions.dedup import exact_duplicates
    from networkframe_spark.functions.pipeline import (
        dedup_chunks,
        filter_quality,
        hash_sample,
    )

    spark = get_spark("corpus_stress")
    words = F.array(*[F.lit(w) for w in (
        "spark hash join scan filter table row batch window sort group "
        "key value vector stream query data column merge fast slow"
    ).split()])
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(59)),
                lambda i: F.element_at(
                    words,
                    (
                        F.pmod(
                            F.xxhash64(
                                F.col("id") - F.pmod(F.col("id"), F.lit(20)), i
                            ),
                            F.lit(21),
                        )
                        + 1
                    ).cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    ).persist()
    base.count()
    timings: dict[str, float] = {}

    def run(name, mk):
        best = None
        for _ in range(2):
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            best = min(best or 1e9, time.time() - t0)
        timings[name] = round(best, 2)

    run("exact_dedup", lambda: exact_duplicates(base))
    run("dedup_chunks_hashkey", lambda: dedup_chunks(base, key="hash").select(
        "doc_id", "n_chunks", "n_kept"))
    run("filter_quality", lambda: filter_quality(base))
    run("hash_sample", lambda: hash_sample(base, 0.1))
    # round-5 ops
    from networkframe_spark.functions.pipeline import (
        chunk_documents,
        dedup_lines,
        filter_by_percentile,
        global_shuffle,
        mix_domains,
    )

    run(
        "dedup_lines",
        lambda: dedup_lines(base, min_docs=n_docs // 2, sep=" ").select(
            "doc_id", "n_lines", "n_removed"
        ),
    )
    run("chunk_documents", lambda: chunk_documents(base, 32, 24))
    domained = base.withColumn(
        "source", F.concat(F.lit("src"), F.pmod("doc_id", F.lit(20)))
    )
    run(
        "mix_domains",
        lambda: mix_domains(
            domained,
            {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(20)},
        ),
    )
    run("global_shuffle", lambda: global_shuffle(base))
    scored = base.withColumn("len", F.length("text"))
    run(
        "filter_pctl_approx",
        lambda: filter_by_percentile(scored, "len", 0.75, exact=False),
    )
    from networkframe_spark.functions.text import (
        bigram_logprob_score,
        clean_text,
        gopher_rules,
        unigram_logprob_score,
    )

    run("unigram_logprob", lambda: unigram_logprob_score(base))
    # round-6 ops
    run("bigram_logprob", lambda: bigram_logprob_score(base))
    run("gopher_rules", lambda: gopher_rules(base, min_words=10))
    run("clean_text", lambda: clean_text(base))
    # round-6 session-2 ops
    from networkframe_spark.functions.text import (
        build_vocab,
        char_entropy_score,
        pmi_bigrams,
    )
    from networkframe_spark.functions.pipeline import (
        corpus_describe,
        curriculum_order,
        kfold_split,
    )

    run("char_entropy", lambda: char_entropy_score(base))
    run("build_vocab", lambda: build_vocab(base, size=1000))
    run("pmi_bigrams", lambda: pmi_bigrams(base, min_count=100))
    run("corpus_describe", lambda: corpus_describe(base))
    run("kfold_split", lambda: kfold_split(base, k=5))
    run(
        "curriculum_order",
        lambda: curriculum_order(scored, "len", n_stages=4),
    )
    # round-6 session-3 ops
    from networkframe_spark.functions.pipeline import (
        hashed_tfidf_vectors,
        perplexity_buckets,
    )
    from networkframe_spark.functions.text import zipf_fit

    run("zipf_fit", lambda: zipf_fit(base, top_n=1000))
    run("hashed_tfidf", lambda: hashed_tfidf_vectors(base, n_features=256))
    run(
        "perplexity_buckets_approx",
        lambda: perplexity_buckets(base, approx=True),
    )
    # round-12 ops: order-based blocking — the planted 20-doc
    # identical runs sort adjacently on the prefix key, so window=5
    # candidates are real duplicate pairs, not noise
    from networkframe_spark.functions.dedup import (
        snm_duplicates,
        sorted_neighborhood_pairs,
    )

    run(
        "snm_pairs_w5",
        lambda: sorted_neighborhood_pairs(
            base, F.lower(F.substring("text", 1, 16)), window=5
        ),
    )
    run(
        "snm_dedup_w5",
        lambda: snm_duplicates(base, window=5, threshold=0.8),
    )
    # round-7 ops
    from networkframe_spark.functions.pipeline import (
        exact_substring_decontaminate,
    )

    # eval = ~0.1% of the corpus; the planted 20-doc identical runs
    # mean each eval doc has ~19 exact 60-token twins to catch
    evalset = hash_sample(base, 0.001, seed=11)
    run(
        "exact_substring_decon",
        lambda: exact_substring_decontaminate(
            base, evalset, window=25, stride=26
        ),
    )
    # round-13 curation ops
    from networkframe_spark.functions.pipeline import (
        dsir_weights,
        gumbel_topk_sample,
        select_under_budget,
    )

    scored2 = base.withColumn("n_chars", F.length("text"))
    # budget = ~10% of the corpus's token mass (60 tokens/doc)
    run(
        "select_under_budget",
        lambda: select_under_budget(
            scored2, budget=n_docs * 6, score_col="n_chars"
        ),
    )
    # target = the ~0.1% eval slice (distribution shift toward it)
    run("dsir_weights", lambda: dsir_weights(base, evalset))
    weighted = base.withColumn(
        "weight", (F.xxhash64("doc_id") % 1000).cast("double") / 100.0
    )
    run(
        "gumbel_topk_sample",
        lambda: gumbel_topk_sample(weighted, n=10_000),
    )
    print(json.dumps({"n_docs": n_docs, "timings": timings,
                      "total": round(sum(timings.values()), 2)}))
    spark.stop()


def embedding_stress(n_vecs: int = 100_000, dim: int = 16, k: int = 64) -> None:
    """semantic_dedup at ~50x the sf0.1 embeddings fixture: synthetic
    hash-derived vectors in runs of 10 sharing identical values, so
    within-cell pairs have real positives.  The interesting number is
    wall vs the all-pairs counterfactual (n^2/2 = 5e9 cosines at the
    default size; the cells cut it ~k-fold)."""
    from networkframe_spark.functions.dedup import semantic_dedup

    spark = get_spark("embedding_stress")
    base = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.pmod(
                    F.xxhash64(F.col("id") - F.pmod(F.col("id"), F.lit(10)), i),
                    F.lit(1000),
                )
                / 1000.0
            ),
        ).alias("embedding"),
    ).persist()
    base.count()
    # A/B both scoring paths (VERDICT r5 item 7): score="arrow" is the
    # production path (per-batch normalized matmul), score="expr" the
    # SQL twin the oracle checks.  Same clusters, same threshold —
    # the wall ratio is the measured vector-math advantage.
    results = {}
    for score in ("arrow", "expr"):
        t0 = time.time()
        pairs = semantic_dedup(
            base,
            n_clusters=k,
            threshold=0.999,
            init="kmeans",
            score=score,
            exact_max_cluster_rows=None,
        )
        n_pairs = pairs.count()
        results[score] = {
            "wall_s": round(time.time() - t0, 2),
            "n_dup_pairs": n_pairs,
        }
    print(
        json.dumps(
            {
                "mode": "semantic_dedup",
                "n_vecs": n_vecs,
                "dim": dim,
                "n_clusters": k,
                "arrow": results["arrow"],
                "expr": results["expr"],
                "expr_over_arrow": round(
                    results["expr"]["wall_s"]
                    / max(results["arrow"]["wall_s"], 1e-9),
                    2,
                ),
            }
        )
    )
    spark.stop()

if __name__ == "__main__":
    main()
