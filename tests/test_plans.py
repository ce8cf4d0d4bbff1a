"""Physical-plan shape guards over the real parquet fixtures.

These assert the properties the engine's scale story depends on:
predicate pushdown into the parquet scan, broadcast closure joins (no
shuffle exchange for node filters), and single-shuffle partial+final
hash aggregation.  A regression here means a plan silently degraded
even if results stay correct.
"""

from __future__ import annotations

import os

import pytest

from networkframe_spark.sources import tpch_graph

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver fixtures not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_closure_plan_is_broadcast_and_pushed(spark):
    nf = tpch_graph(spark, SF_DIR)
    plan = _plan(nf.query_nodes("acctbal > 1000").edges)
    # node filter reaches the parquet scan
    assert "acctbal" in plan and "1000" in plan
    assert "DataFilters" in plan or "PushedFilters" in plan
    # closure semi-joins broadcast; no shuffle exchange anywhere
    assert plan.count("BroadcastHashJoin") >= 3  # edge join + 2 semi-joins
    assert "Exchange hashpartitioning" not in plan


def test_condense_plan_single_shuffle_partial_agg(spark):
    nf = tpch_graph(spark, SF_DIR)
    plan = _plan(nf.condense("nationkey", func="sum", columns=["weight"]).edges)
    # partial+final hash aggregation with exactly one shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") == 2


def test_scan_prunes_columns(spark):
    nf = tpch_graph(spark, SF_DIR)
    plan = _plan(nf.edges.select("source", "target"))
    # lineitem scan must not read unreferenced columns
    assert "l_comment" not in plan and "l_shipdate" not in plan


def test_filter_chain_fuses(spark):
    nf = tpch_graph(spark, SF_DIR)
    chained = nf.query_nodes("acctbal > 0").query_nodes("nationkey < 10")
    assert _plan(chained.edges).count("LeftSemi") == 2


def test_component_renumber_has_no_global_window(spark):
    """Dense component relabeling must not funnel all rows through a
    single-partition window (scale-killer when component count ~ node
    count on near-edgeless graphs).

    Two checks: (a) the distributed ranker is exact at a row count well
    above the partition count, so the per-partition offset phase is
    actually exercised; (b) every window spec it plans is partitioned
    (``windowspecdefinition`` lists partition cols before order cols —
    an unpartitioned spec starts directly with the DESC order key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from networkframe_spark.algorithms import _dense_rank_distributed

    df = spark.range(1000).select(
        F.col("id").alias("comp"), (F.col("id") % 97).alias("n")
    )
    ranked = _dense_rank_distributed(df, [F.desc("n"), F.asc("comp")], "component")
    rows = ranked.orderBy("component").collect()
    expected = sorted(range(1000), key=lambda i: (-(i % 97), i))
    assert [r["comp"] for r in rows] == expected
    assert [r["component"] for r in rows] == list(range(1000))
    # analyzed plan of the pre-checkpoint stage: window must be keyed
    lw_plan = (
        df.repartitionByRange(8, F.desc("n"), F.asc("comp"))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrank",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(F.desc("n"), F.asc("comp"))
            ),
        )
    )
    plan = _plan(lw_plan)
    assert "windowspecdefinition(_pid" in plan


def test_embedding_dedup_lsh_plan_no_cartesian(spark):
    """The scale path of embedding near-dup must plan a keyed bucket
    join — never a CartesianProduct / BroadcastNestedLoopJoin (the r1
    all-pairs scale-killer)."""
    from networkframe_spark.functions.dedup import embedding_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_duplicates(emb, mode="lsh", threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate generation is an equi-join on (table, bucket)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """save_graph_table bucket layout: the node-decoration join
    (nodes.id = edges.source) must be bucket-aligned — no Exchange on
    either side of the SortMergeJoin."""
    from pyspark.sql import functions as F

    from networkframe_spark.sources import (
        load_graph_table,
        save_graph_table,
        tpch_graph,
    )

    nf = tpch_graph(spark, SF_DIR)
    name = "bucket_plan_test"
    for t in (f"{name}_nodes", f"{name}_edges"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    save_graph_table(nf, name, n_buckets=8, mode="overwrite")
    try:
        loaded = load_graph_table(spark, name)
        # force SMJ (broadcast would hide the bucket question entirely)
        joined = (
            loaded.nodes.hint("merge")
            .join(
                loaded.edges,
                on=F.col("id") == F.col("source"),
            )
            .select("id", "target", "weight")
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        assert joined.count() == loaded.edges.count()
    finally:
        for t in (f"{name}_nodes", f"{name}_edges"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_embedding_dedup_plan_no_cartesian(spark):
    from networkframe_spark.functions.dedup import embedding_duplicates
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR)
    plan = _plan(embedding_duplicates(emb, mode="lsh", threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_plan_no_scan_reexecution(spark):
    """The shared nb/deg tables must materialize once.  r16 switched
    the lazy localCheckpoints to .cache() (which preserves the fused
    one-exchange outputPartitioning), so the guard is: the multiply-
    referenced tables are served via InMemoryTableScan — removing the
    cache would drop that node and re-execute the scan+union+dedup
    subtree per reference (26 parquet scans / 114 exchanges measured
    unshared).  FileScan text still appears inside the InMemoryRelation
    descriptions; those are not re-executed, so no assertion on it."""
    nf = tpch_graph(spark, SF_DIR)
    df = nf.link_prediction(min_common=2, max_hub_degree=50)
    df.count()  # materialize the caches
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # shared tables served from cache


def test_chunk_documents_plan_has_no_shuffle(spark):
    """chunk_documents is map-side only: tokenize/sequence/explode/
    slice with ZERO exchanges — the property that makes it free at
    any scale."""
    from networkframe_spark.functions.pipeline import chunk_documents
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(chunk_documents(docs, chunk_size=32, stride=24))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_mix_domains_plan_broadcasts_thresholds(spark):
    """The per-domain threshold table joins as a broadcast; the fact
    table is never shuffled."""
    from networkframe_spark.functions.pipeline import mix_domains
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    weights = {f"src{i}": 1.0 for i in range(20)}
    plan = _plan(mix_domains(docs, weights, domain_col="source"))
    assert "BroadcastHashJoin" in plan
    # the only hash exchanges belong to the tiny per-domain count agg,
    # never to the fact-table side (which is filter + broadcast probe)
    assert "SortMergeJoin" not in plan


def test_global_shuffle_plan_is_range_partition_sort(spark):
    """orderBy must plan as a sampled range-partition sort (the
    TB-scale distributed sort), not a single-partition sort."""
    from networkframe_spark.functions.pipeline import global_shuffle
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(global_shuffle(docs))
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_semantic_dedup_arrow_plan_no_cartesian(spark):
    """The Arrow path: assignment is mapInPandas (no join at all) and
    within-cell pairing shuffles on the cluster key — no cartesian or
    nested-loop join anywhere."""
    from networkframe_spark.functions.dedup import semantic_dedup
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR)
    plan = _plan(
        semantic_dedup(
            emb, n_clusters=4, threshold=0.9, exact_max_cluster_rows=None
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan


def test_dedup_lines_plan_shape(spark):
    """Line dedup: the boilerplate set joins back onto the exploded
    lines (broadcast at fixture size), and reassembly is one grouped
    aggregate on the doc key."""
    from networkframe_spark.functions.pipeline import dedup_lines
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(dedup_lines(docs, min_docs=400, sep=" "))
    assert "CartesianProduct" not in plan
    assert "ObjectHashAggregate" in plan  # collect_list reassembly
    assert "Generate posexplode" in plan


def test_gopher_and_clean_text_plans_are_map_only(spark):
    """Quality rules and text normalization must ride the scan: pure
    per-row expressions, zero shuffle, zero Python runner."""
    from networkframe_spark.functions.text import clean_text, gopher_rules
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    for df in (gopher_rules(docs), clean_text(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "Python" not in plan  # no UDF/ArrowEval in the path


def test_quantize_embeddings_plan_is_map_only(spark):
    from networkframe_spark.functions.similarity import quantize_embeddings
    from networkframe_spark.sources import read_embeddings

    plan = _plan(quantize_embeddings(read_embeddings(spark, SF_DIR)))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_fuzzy_decontaminate_banded_plan_no_cartesian(spark):
    """The banded scale path must meet on (band, key) bucket collisions
    and verify candidates via equi-joins only — a cartesian/BNL join
    would be the n^2 blowup the banding exists to avoid."""
    from networkframe_spark.functions.dedup import fuzzy_decontaminate
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    ev = docs.filter("doc_id % 20 = 0")
    plan = _plan(fuzzy_decontaminate(docs, ev, bands=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_stats_plan_one_shuffle_one_window(spark):
    """The four trailing features share ONE hash exchange on user_id
    and one Window operator — no extra shuffles, no Python UDF."""
    from networkframe_spark.sources import read_events
    from networkframe_spark.functions.temporal import rolling_stats

    plan = _plan(rolling_stats(read_events(spark, SF_DIR)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curriculum_order_plan_no_single_partition_window(spark):
    """The global ntile must come from the two-phase range-sort rank,
    never a single-partition window (the naive `ntile() OVER (ORDER
    BY ...)` plan): every exchange is range/hash-partitioned and the
    one Window operator is keyed by the partition id."""
    from networkframe_spark.sources import read_table
    from networkframe_spark.functions.pipeline import curriculum_order
    from networkframe_spark.functions.text import add_quality_score

    docs = add_quality_score(read_table(spark, SF_DIR, "documents"))
    plan = _plan(curriculum_order(docs, "quality_score", n_stages=4))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan
    assert "partitionBy=[_pid]" in plan or "_pid" in plan


def test_char_entropy_plan_is_codegen_aggregate(spark):
    """Histogram + entropy run as built-in hash aggregates — no
    Python evaluation anywhere in the plan."""
    from networkframe_spark.sources import read_table
    from networkframe_spark.functions.text import char_entropy_score

    plan = _plan(char_entropy_score(read_table(spark, SF_DIR, "documents")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_resample_plan_single_exchange_no_window(spark):
    """OHLC resample must be ONE partial+final hash aggregate — no
    window operator (struct min/max combine map-side; a row_number
    formulation could not)."""
    from networkframe_spark.sources import read_events
    from networkframe_spark.functions.temporal import resample_events

    plan = _plan(resample_events(read_events(spark, SF_DIR), minutes=60))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    # struct min/max plan as SortAggregate (struct types aren't
    # hash-aggregable) but still partial+final around one exchange
    assert plan.count("SortAggregate") == 2
    assert "partial_min" in plan and "partial_max" in plan


def test_bipartite_project_plan_no_cartesian(spark):
    """The wedge join must be an equi-join on the shared key, never a
    cartesian/broadcast-nested-loop product."""
    nf = tpch_graph(spark, SF_DIR)
    plan = _plan(nf.bipartite_project(side="target", max_hub_degree=60))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trend_slope_plan_decimal_moments(spark):
    """All four OLS moments come out of one final aggregate over the
    centered join; sums stay DECIMAL until the final projection."""
    from networkframe_spark.sources import read_events
    from networkframe_spark.functions.temporal import trend_slope

    plan = _plan(trend_slope(read_events(spark, SF_DIR)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "sum" in plan and "decimal" in plan.lower()


def test_ewma_plan_one_shuffle_one_window(spark):
    """All n_rows lag() terms evaluate inside ONE window over one hash
    exchange — no arrays, no Python."""
    from networkframe_spark.functions.temporal import ewma
    from networkframe_spark.sources import read_events

    plan = _plan(ewma(read_events(spark, SF_DIR), n_rows=8))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fill_gaps_plan_distributed_grid(spark):
    """The time grid comes from a worker-side generator (explode of
    sequence), never a driver collect; the forward-fill window is
    keyed (no single-partition window); no cartesian product."""
    from networkframe_spark.functions.temporal import fill_gaps
    from networkframe_spark.sources import read_events

    plan = _plan(fill_gaps(read_events(spark, SF_DIR), minutes=60))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_truncate_embeddings_plan_is_map_only(spark):
    """Pure projection: no exchange, no Python eval, scan prunes to
    the two referenced columns."""
    from networkframe_spark.functions.similarity import truncate_embeddings
    from networkframe_spark.sources import read_embeddings

    plan = _plan(truncate_embeddings(read_embeddings(spark, SF_DIR), dim=16))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "label" not in plan  # unreferenced column pruned


def test_pq_encode_plan_is_single_arrow_pass(spark):
    """Encoding is one Arrow-batched python stage and no shuffle —
    the codebook rides in the task closure."""
    from networkframe_spark.functions.similarity import pq_codebook, pq_encode
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR)
    cb = pq_codebook(emb, m=4, k=8, init="first_ids")
    plan = _plan(pq_encode(emb, cb))
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_perplexity_buckets_plan_broadcasts_thresholds(spark):
    """The 1-row threshold aggregate joins back via broadcast; the
    corpus-side tf exchange is reused across the score branches
    rather than recomputed."""
    from networkframe_spark.functions.pipeline import perplexity_buckets
    from networkframe_spark.sources import read_table

    df = perplexity_buckets(read_table(spark, SF_DIR, "documents"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the tf-exchange reuse only materializes in the AQE final plan;
    # collect() drives THIS DataFrame's queryExecution to finality
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final


def test_similar_strings_plan_no_cartesian(spark):
    """Candidates come from the gram equi-join, never an all-pairs
    product; verification stays JVM-side (no Python eval)."""
    from networkframe_spark.functions.dedup import similar_strings
    from networkframe_spark.sources import read_table

    plan = _plan(similar_strings(read_table(spark, SF_DIR, "documents")))
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_robust_outliers_plan_broadcast_fences(spark):
    """Both fence tables (median, MAD) join back as broadcasts; no
    full-table window, no Python."""
    from networkframe_spark.functions.stats import robust_outliers
    from networkframe_spark.sources import read_events

    plan = _plan(
        robust_outliers(read_events(spark, SF_DIR), "value", group_col="event_type")
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_train_plan_no_collect_no_python(spark):
    """The merges result must be a union of 1-row checkpointed
    argmaxes (lineage-bounded — each round's best pair materialized
    once, never recomputed), with no Python stage and no cartesian
    anywhere in the result plan."""
    from networkframe_spark.functions.text import bpe_train
    from networkframe_spark.sources import read_table

    plan = _plan(bpe_train(read_table(spark, SF_DIR, "documents"), n_merges=2))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # each round's best row reads from its lazy checkpoint, not from a
    # re-expanded pair-count subtree
    assert plan.count("Scan ExistingRDD") == 2
    assert "Scan parquet" not in plan


def test_exact_substring_decontaminate_plan_no_cartesian(spark):
    """The strided-window decontaminator must plan a keyed fingerprint
    equi-join — never a cartesian/nested-loop candidate product."""
    from networkframe_spark.functions.pipeline import (
        exact_substring_decontaminate,
        train_test_split,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    split = train_test_split(docs, test_fraction=0.2, seed=7)
    plan = _plan(
        exact_substring_decontaminate(
            split.filter("split = 'train'"),
            split.filter("split = 'test'"),
            window=25,
            stride=26,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mine_hard_negatives_plan_broadcasts_anchors(spark):
    """The brute hard-negative path must broadcast the (small) anchor
    side into the scoring join — a shuffled corpus-x-anchors join
    would rewrite the 100 TB story."""
    from networkframe_spark.functions.similarity import mine_hard_negatives
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR)
    plan = _plan(
        mine_hard_negatives(emb, k=3, anchors=emb.filter("vec_id < 10"))
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the label filter must sit in the join, not after the window
    assert "CartesianProduct" not in plan


def test_anomaly_zscore_plan_single_exchange(spark):
    """Both windowed moments ride ONE hash exchange on the entity key
    (no second shuffle, no global window)."""
    from networkframe_spark.functions.temporal import anomaly_zscore
    from networkframe_spark.sources import read_events

    ev = read_events(spark, SF_DIR)
    plan = _plan(anomaly_zscore(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "windowspecdefinition(user_id" in plan


def test_winsorize_plan_broadcast_fences(spark):
    """The clamp is map-side: fences broadcast back, the fact table is
    never hash-exchanged."""
    from networkframe_spark.functions.stats import winsorize
    from networkframe_spark.sources import read_events

    ev = read_events(spark, SF_DIR)
    plan = _plan(winsorize(ev, "value", group_col="event_type"))
    assert "BroadcastHashJoin" in plan


def test_chi2_plan_single_fact_scan_broadcast_marginals(spark):
    """The fact table feeds exactly ONE contingency aggregate; the
    marginal joins are broadcasts over cell-sized tables and nothing
    re-scans the fact parquet."""
    from networkframe_spark.functions.stats import chi2_independence
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(chi2_independence(docs, "lang", "source"))
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ks_test_plan_no_single_partition_window(spark):
    """The ECDF running sums must come from the two-phase range
    scheme: a range exchange + a _pid-keyed window, never an
    `Exchange SinglePartition` global window."""
    from networkframe_spark.functions.stats import ks_test_2samp
    from networkframe_spark.sources import read_events

    ev = read_events(spark, SF_DIR)
    df = ks_test_2samp(ev, "value", "event_type", "view", "purchase")
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan or "Window" not in plan
    # the one pre-collect plan piece that matters was checkpointed;
    # guard the final plan: no Python, no cartesian blowup
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_psi_drift_plan_map_side_binning(spark):
    """Bin assignment is a literal comparison chain (no join against
    an edges table); the per-bin joins are broadcasts over bin-sized
    frames."""
    from networkframe_spark.functions.stats import psi_drift
    from networkframe_spark.sources import read_events

    ev = read_events(spark, SF_DIR)
    df = psi_drift(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'purchase'"),
        "value",
        bins=5,
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # everything joined is tiny
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_join_plans_have_no_shrinking_frame(spark):
    """Every asof direction must window over GROWING frames only
    (unboundedPreceding..current): a (current..unboundedFollowing)
    frame is re-aggregated from scratch per row by WindowExec —
    O(n^2) on a hub key (a 10M-event hub stress hung on exactly
    this before the reversed-sort formulation)."""
    from networkframe_spark.functions.temporal import asof_join
    from networkframe_spark.sources import read_events

    ev = read_events(spark, SF_DIR)
    views = ev.filter("event_type = 'view'")
    buys = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    )
    for direction in ("backward", "forward", "nearest"):
        plan = _plan(
            asof_join(
                views, buys, on="user_id", right_cols=["value"],
                direction=direction,
            )
        )
        assert "unboundedfollowing" not in plan.lower(), direction


def test_select_under_budget_plan_two_phase(spark):
    """The global running token total must come from the two-phase
    range scheme (range exchange + pid-keyed window), never a
    single-partition global window; no Python evaluation anywhere.
    The prefix-sum stage is asserted directly (_budget_stage) because
    the production op localCheckpoints it, hiding the exchange from
    the final DataFrame's plan; the end-to-end op is additionally
    checked for SinglePartition/Python absence."""
    from networkframe_spark.functions.pipeline import (
        _budget_stage,
        select_under_budget,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    stage = _plan(_budget_stage(docs, "n_chars", "text", "doc_id"))
    assert "Exchange SinglePartition" not in stage
    assert "rangepartitioning" in stage
    assert "partitionBy=[pid" in stage or "pid" in stage
    plan = _plan(select_under_budget(docs, budget=8_000, score_col="n_chars"))
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weights_plan_token_keyed(spark):
    """DSIR's joins are token/doc-keyed hash aggregates + joins over
    token-COUNT tables; the only cartesian-shaped node is the 1-row
    constants broadcast (totals + |V|), and no Python evaluation."""
    from networkframe_spark.functions.pipeline import dsir_weights
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents")
    plan = _plan(dsir_weights(docs, docs.filter("lang = 'en'")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the constants side rides a broadcast, never a shuffled join
    # (the SinglePartition exchanges present are the 1-row scalar
    # aggregates — totals and |V| — which is the intended shape)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # token-keyed work plans as hash aggregates, not sorts
    assert "HashAggregate" in plan


def test_gumbel_topk_plan_take_ordered(spark):
    """The global top-n must plan as TakeOrdered (per-partition heaps),
    not a full sort; the rank window runs over only the n survivors
    (a SinglePartition exchange of n rows is fine and expected)."""
    from pyspark.sql import functions as F

    from networkframe_spark.functions.pipeline import gumbel_topk_sample
    from networkframe_spark.sources import read_table

    docs = read_table(spark, SF_DIR, "documents").select(
        "doc_id", (F.col("n_chars") / 100.0).alias("weight")
    )
    plan = _plan(gumbel_topk_sample(docs, n=50))
    assert "TakeOrdered" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_raw_shuffle_partitions_conf_reads():
    """Repo lint: ``spark.sql.shuffle.partitions`` may be the literal
    string ``"auto"`` on AQE-auto-coalescing platforms, so int()-ing the
    conf raises ValueError there.  Every operator must go through the
    tolerant ``session.shuffle_partitions()`` helper; this lint makes
    the raw-read class unrecurrable (r15 verdict task 1)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "networkframe_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name == "session.py":
            continue
        text = py.read_text()
        if 'conf.get("spark.sql.shuffle.partitions"' in text:
            offenders.append(str(py))
    assert not offenders, (
        "raw shuffle-partitions conf read (use session.shuffle_partitions): "
        f"{offenders}"
    )


def test_driver_id_lists_plan_as_local_relations(spark, tmp_path):
    """A caller's id list (``loc``, ``remove_nodes``, ``reindex_nodes``)
    and a query's term table (``text_index_search``) plan as a
    ``LocalRelation`` with real statistics, never as a statistics-less
    ``LogicalRDD`` of pickled driver rows: no ``LogicalRDD`` in the
    optimized plans of the selections, and no ``ExistingRDD`` scan in
    any query the search runs."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
    )

    from pyspark.sql import functions as F

    from networkframe_spark import NetworkFrame

    nf = NetworkFrame(
        spark.range(8),
        spark.range(8).select(
            F.col("id").alias("source"), ((F.col("id") + 1) % 8).alias("target")
        ),
    )
    selections = {
        "loc": nf.loc[[0, 1, 2, 3], [2, 3, 4, 5]],
        "remove_nodes": nf.remove_nodes([0, 1, 2]),
        "reindex_nodes": nf.reindex_nodes([0, 1, 2, 10**9]),
    }
    for name, sub in selections.items():
        for df in (sub.nodes, sub.edges):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan, (name, plan)
            assert "LocalRelation" in plan, (name, plan)

    docs = spark.createDataFrame(
        [(1, "spark hash data"), (2, "vector data spark"), (3, "hash join")],
        "doc_id long, text string",
    )
    tix = str(tmp_path / "tix")
    build_text_index(docs, tix, n_kmod=2)
    store = spark._jsparkSession.sharedState().statusStore()

    def runs():  # the retained SQL executions, oldest ones evicted
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in runs()), default=-1)
    hits = text_index_search(spark, tix, ["Spark", "hash"], k=2).collect()
    assert [r["doc_id"] for r in hits] == [1, 3]
    plans = [e.physicalPlanDescription() for e in runs() if e.executionId() > last]
    assert any("LocalTableScan" in p for p in plans)
    assert not any("ExistingRDD" in p for p in plans)


def test_python_rows_reach_spark_only_through_local_table():
    """Repo lint: every driver-built table of Python rows goes through
    ``session.local_table`` (one Arrow ``LocalRelation``).  The only
    other ``createDataFrame`` calls allowed are Arrow tables built from
    a pandas frame (``pa.Table.from_pandas``) and the JVM-side call of
    ``_cut_lineage``.  A pandas frame handed over as it is would be
    pickled row by row in a session without Arrow enabled."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "networkframe_spark"

    def allowed(call, helper):
        recv, arg = call.func.value, (call.args or [None])[0]
        if call.lineno in helper:
            return True
        if isinstance(recv, ast.Attribute) and recv.attr == "_jsparkSession":
            return True
        return (
            isinstance(arg, ast.Call)
            and ast.unparse(arg.func) == "pa.Table.from_pandas"
        )

    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text())
        helper = {
            line
            for fn in tree.body
            if py.name == "session.py"
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "local_table"
            for line in range(fn.lineno, fn.end_lineno + 1)
        }
        offenders += [
            f"{py.name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not allowed(node, helper)
        ]
    assert not offenders, (
        "Python rows handed to createDataFrame (use session.local_table): "
        f"{offenders}"
    )


def test_lsh_planes_and_signatures_have_one_builder_each():
    """Repo lint: the hyperplane seed rule and the signature expression
    each have one caller in the package — ``_hyperplane_signs`` is
    called only by ``_lsh_planes`` and ``signature_col`` only by
    ``_lsh_signatures`` — so every LSH path (in-memory, persisted,
    dedup, decontamination) bands through the one kernel and a query's
    bucket cannot drift from a stored one."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "networkframe_spark"
    callers: dict[str, set[str]] = {"_hyperplane_signs": set(), "signature_col": set()}

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, f"{where}.{child.name}")
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in callers:
                    callers[name].add(where)
            visit(child, where)

    for py in sorted(pkg.rglob("*.py")):
        visit(ast.parse(py.read_text()), py.stem)
    assert callers == {
        "_hyperplane_signs": {"similarity._lsh_planes"},
        "signature_col": {"similarity._lsh_signatures"},
    }, callers


def test_probe_kernel_has_one_collect_one_builder_one_tail():
    """Repo lint: the persisted ANN searches share one probe kernel.
    One function reads ``_MAX_QUERY_BATCH`` (the bounded query
    collect), one calls ``_guard_probe_rows`` (the probe-table
    builder), and among the four searches and their kernel only the
    scored tail calls ``_top_k``: every search collects, builds and
    scores through the same code."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "networkframe_spark"
    searches = {"ivf_index_search", "ivf_sq_search", "ivfpq_search", "lsh_index_search"}
    users: dict[str, set[str]] = {
        "_MAX_QUERY_BATCH": set(), "_guard_probe_rows": set(), "_top_k": set()
    }
    calls: dict[str, set[str]] = {}

    def visit(node, where):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name if where is None else f"{where}.{child.name}")
                continue
            if where is not None and isinstance(child, ast.Name):
                if child.id in users:
                    users[child.id].add(where)
                calls.setdefault(where, set()).add(child.id)
            visit(child, where)

    for py in sorted(pkg.rglob("*.py")):
        visit(ast.parse(py.read_text()), None)
    kernel = {f for f in calls if f.startswith("_probe_") or f == "_cell_probes"}
    assert users["_MAX_QUERY_BATCH"] == {"_probe_batch"}, users
    assert users["_guard_probe_rows"] == {"_probe_tables"}, users
    assert users["_top_k"] & (searches | kernel) == {"_probe_top_k"}, users
    for name in searches:
        assert {"_probe_batch", "_probe_top_k"} <= calls[name], (name, calls[name])


def test_lsh_norms_sit_below_the_signature_generate(spark):
    """A norm carried through an LSH banding is computed once per row:
    no ``SQRT`` sits above a ``Generate`` in the optimized plans of the
    persisted banding, ``lsh_top_k`` and ``embedding_duplicates`` (at
    dim 64 the norm is an interpreted fold, so one per (row, table)
    would multiply its cost by the table count)."""
    from networkframe_spark.functions.dedup import embedding_duplicates
    from networkframe_spark.functions.similarity import (
        _band_rows,
        _lsh_planes,
        lsh_top_k,
    )
    from networkframe_spark.sources import read_embeddings

    emb = read_embeddings(spark, SF_DIR).limit(40)
    plans = {
        "_band_rows": _band_rows(emb, _lsh_planes(4, 3, 64), "vec_id", "embedding"),
        "lsh_top_k": lsh_top_k(emb, emb, k=3, n_planes=4, n_tables=3, n_probe_bits=1),
        "embedding_duplicates": embedding_duplicates(
            emb, threshold=0.9, mode="lsh", n_planes=4, n_tables=3
        ),
    }

    def sqrt_above_generate(node) -> list[str]:
        kids = node.children()
        kids = [kids.apply(i) for i in range(kids.size())]
        below, found = False, []
        for kid in kids:
            gen, bad = sqrt_above_generate(kid)
            below, found = below or gen, found + bad
        own = node.expressions().toString()
        if below and "SQRT(" in own.upper():
            found.append(node.nodeName())
        return below or node.nodeName() == "Generate", found

    for name, df in plans.items():
        plan = df._jdf.queryExecution().optimizedPlan()
        assert "Generate" in plan.toString(), name
        assert sqrt_above_generate(plan)[1] == [], (name, plan.toString())


def _global_windows(df) -> list[bool]:
    """Execute ``df`` and return, per unpartitioned ``Window`` node of
    its final plan, whether it is bounded: every path from it down to
    a leaf crosses a limit, ``TakeOrderedAndProject`` or key-less
    aggregate.  An unbounded one is a global window whose input grows
    with the data.  Leaves (scans, local rows) never count as bounded,
    so a few-row input cannot hide a missing cut."""
    df.collect()

    def kids(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [node.plan()]
        if name == "ReusedExchangeExec":
            return [node.child()]
        ch = node.children()
        return [ch.apply(i) for i in range(ch.size())]

    def bounded(node):
        name = node.nodeName()
        if name in ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit"):
            return True
        if name.endswith("Aggregate") and node.groupingExpressions().isEmpty():
            return True
        below = kids(node)
        return bool(below) and all(bounded(k) for k in below)

    found = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found.append(all(bounded(k) for k in kids(node)))
        for k in kids(node):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_global_windows_sit_above_a_bound(spark, tmp_path):
    """Every operator that plans an unpartitioned window ranks only
    rows that already passed a limit, top-k or key-less aggregate, so
    no global window ever sorts corpus-sized data in one task."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from networkframe_spark.functions.pipeline import gumbel_topk_sample
    from networkframe_spark.functions.search import (
        bm25_top_docs,
        build_text_index,
        text_index_phrase_search,
        text_index_search,
    )
    from networkframe_spark.functions.temporal import funnel_steps
    from networkframe_spark.functions.text import build_vocab, zipf_fit

    docs = spark.createDataFrame(
        [
            (1, "spark hash data data"),
            (2, "vector data spark"),
            (3, "hash join spark spark"),
            (4, "the data of the vector"),
        ],
        "doc_id long, text string",
    )
    tix = str(tmp_path / "tix")
    build_text_index(docs, tix, n_kmod=1, positions=True)
    ev = spark.createDataFrame(
        [(1, "a", 0), (1, "b", 60), (2, "a", 0)],
        "user_id long, event_type string, sec long",
    ).selectExpr("user_id", "event_type", "CAST(sec AS TIMESTAMP) AS ts")
    weighted = docs.withColumn("weight", F.col("doc_id").cast("double"))
    ops = {
        "bm25_top_docs": bm25_top_docs(docs, ["spark", "data"], k=2),
        "text_index_search": text_index_search(spark, tix, ["spark", "data"], k=2),
        "text_index_phrase_search": text_index_phrase_search(
            spark, tix, ["vector", "data"], k=2
        ),
        "gumbel_topk_sample": gumbel_topk_sample(weighted, 2),
        "build_vocab": build_vocab(docs, size=3),
        "zipf_fit": zipf_fit(docs, top_n=3),
        "funnel_steps": funnel_steps(ev, ["a", "b"]),
    }
    for name, df in ops.items():
        windows = _global_windows(df)
        assert windows and all(windows), (name, windows)
    # the lint itself catches a global rank over the raw input
    raw = docs.withColumn("r", F.row_number().over(Window.orderBy("doc_id")))
    assert _global_windows(raw) == [False]
