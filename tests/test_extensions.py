"""Round-2 extension operators: pagerank, triangle counts, near-dup
cluster folding, BM25 search, grouped percentiles."""
import math

import pytest
from pyspark.sql import functions as F

from networkframe_spark import NetworkFrame
from networkframe_spark.functions.dedup import dedup_near, duplicate_clusters
from networkframe_spark.functions.pipeline import pack_token_sequences
from networkframe_spark.functions.search import bm25_top_docs
from networkframe_spark.functions.stats import group_percentiles
from networkframe_spark.streaming.ops import user_event_sequences


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------
def _pagerank_py(nodes, edges, d=0.85, n_iter=10):
    """Driver-side reference: same semantics (dangling mass dropped)."""
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += pr[s] / outdeg[s]
        pr = {v: (1 - d) / n + d * contrib[v] for v in nodes}
    return pr


def test_pagerank_matches_reference_loop(spark, letter_frame):
    got = {r["id"]: r["pagerank"] for r in letter_frame.pagerank(n_iter=10).collect()}
    want = _pagerank_py(
        ["A", "B", "C", "D"], [("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")]
    )
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=2e-6)
    # sink D collects the most mass; source A only the teleport share
    assert got["D"] == max(got.values())
    assert got["A"] == min(got.values())


def test_pagerank_sums_below_one_with_dangling(spark, letter_frame):
    # D is dangling: its mass leaks, so the total is < 1 but > (1-d)
    total = sum(r["pagerank"] for r in letter_frame.pagerank(n_iter=20).collect())
    assert 0.15 < total < 1.0


def test_pagerank_weighted(spark):
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0)], "source long, target long, weight double"
    )
    pr = {
        r["id"]: r["pagerank"]
        for r in NetworkFrame(nodes, edges)
        .pagerank(n_iter=1, weight_col="weight")
        .collect()
    }
    # after 1 iter: node1 gets d * (1/3) * 0.75, node2 gets d * (1/3) * 0.25
    base = 0.15 / 3
    assert pr[1] == pytest.approx(base + 0.85 * 0.75 / 3, abs=1e-6)
    assert pr[2] == pytest.approx(base + 0.85 * 0.25 / 3, abs=1e-6)


# ---------------------------------------------------------------------------
# triangle counts
# ---------------------------------------------------------------------------
def test_triangle_counts_known_graph(spark):
    # K4 on 0-3 (each node in C(3,2)=3 triangles) plus pendant 4, isolated 5
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4 + [(3, 4)], "source long, target long")
    got = {
        r["id"]: r["triangles"]
        for r in NetworkFrame(nodes, edges).triangle_counts().collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 0, 5: 0}


def test_triangle_counts_ignores_direction_dupes_loops(spark):
    """The whole triangle family shares one enumeration over the simple
    projection, so each must see exactly one triangle here."""
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    # triangle encoded with mixed directions, a duplicate edge and a loop
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (1, 1)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: r["triangles"] for r in nf.triangle_counts().collect()}
    assert got == {0: 1, 1: 1, 2: 1}
    clus = {
        r["id"]: (r["triangles"], r["clustering"])
        for r in nf.local_clustering().collect()
    }
    assert clus == {0: (1, 1.0), 1: (1, 1.0), 2: (1, 1.0)}
    # each edge: 1 common neighbor out of a 3-node union
    jac = {
        (r["source"], r["target"]): (r["n_common"], r["jaccard"])
        for r in nf.edge_jaccard().collect()
    }
    assert jac == {e: (1, round(1 / 3, 6)) for e in [(0, 1), (0, 2), (1, 2)]}
    truss = {
        (r["source"], r["target"]): r["support"]
        for r in nf.k_truss(3).collect()
    }
    assert truss == {(0, 1): 1, (0, 2): 1, (1, 2): 1}


def test_triangle_plan_has_no_cartesian(spark):
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    for df in (
        nf.triangle_counts(),
        nf.edge_jaccard(),
        nf.local_clustering(),
        nf.k_truss(3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# duplicate clusters
# ---------------------------------------------------------------------------
def test_duplicate_clusters_chain(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    # chain 0~1, 1~2 plus pair 4~5: clusters {0,1,2}, {3}, {4,5}
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_duplicate"])
        for r in duplicate_clusters(docs, pairs).collect()
    }
    assert got == {
        0: (0, False), 1: (0, True), 2: (0, True),
        3: (3, False), 4: (4, False), 5: (4, True),
    }


def test_dedup_near_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in dedup_near(docs, pairs).collect())
    assert kept == [0, 3, 4]


# ---------------------------------------------------------------------------
# bm25
# ---------------------------------------------------------------------------
def test_bm25_exact_tiny_corpus(spark):
    docs = spark.createDataFrame(
        [(0, "spark spark hash"), (1, "spark slow"), (2, "other words here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["score"], r["rank"]) for r in
           bm25_top_docs(docs, ["spark"], k=5).collect()}
    # hand-computed: N=3, df=2, idf=ln(1+(3-2+0.5)/2.5); avgdl=8/3
    idf = math.log(1 + 1.5 / 2.5)
    def s(tf, dl):
        return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8 / 3))), 6)
    assert out[0] == (pytest.approx(s(2, 3), abs=1e-6), 1)
    assert out[1] == (pytest.approx(s(1, 2), abs=1e-6), 2)
    assert 2 not in out


def test_bm25_rank_ties_break_by_id(spark):
    docs = spark.createDataFrame(
        [(7, "a b"), (3, "a b"), (5, "a b")], "doc_id long, text string"
    )
    ranks = [r["doc_id"] for r in bm25_top_docs(docs, ["a"], k=3)
             .orderBy("rank").collect()]
    assert ranks == [3, 5, 7]


# ---------------------------------------------------------------------------
# persisted inverted text index (sixth index family)
# ---------------------------------------------------------------------------
def test_text_index_search_equals_transient(spark, tmp_path):
    """Index probe ≡ transient bm25_top_docs bit-for-bit on the same
    corpus (same idf, rounding, DECIMAL sum, tie-breaks) — the
    persisted family only changes COST, never the answer."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    meta = build_text_index(docs, path, n_kmod=16)
    assert meta["n_docs"] == docs.count()
    terms = ["spark", "hash", "vector"]
    a = sorted(map(tuple, bm25_top_docs(docs, terms, k=10).collect()))
    b = sorted(
        map(tuple, text_index_search(spark, path, terms, k=10).collect())
    )
    assert a == b and len(b) == 10


def test_text_index_add_equals_rebuild(spark, tmp_path):
    """Incremental add with stored params + exact-integer meta deltas
    ≡ full rebuild over the union; an at-least-once replay appends
    zero docs (doclens membership anti-join, dmod-pruned)."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_kmod=16)
    assert text_index_add(spark, inc, docs.filter("doc_id % 2 = 1")) > 0
    build_text_index(docs, full, n_kmod=16)
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    want = srch(full)
    assert srch(inc) == want
    # replay: zero ingested, search unchanged
    assert text_index_add(spark, inc, docs.filter("doc_id % 2 = 1")) == 0
    assert srch(inc) == want


def test_text_index_remove_refresh_equals_rebuild(spark, tmp_path):
    """index_remove knows the postings/doclens layout; df self-heals
    (recomputed per probe), and text_index_refresh_stats re-derives
    (n_docs, sdl) from doclens — remove + refresh ≡ rebuild over the
    remaining corpus, bit-identically."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_refresh_stats,
        text_index_search,
    )
    from networkframe_spark.functions.similarity import index_remove
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    full, part = str(tmp_path / "f"), str(tmp_path / "p")
    build_text_index(docs, full, n_kmod=16)
    rm = docs.filter("doc_id % 5 = 1").select("doc_id")
    rep = index_remove(spark, full, rm)
    assert rep["postings"]["rows_removed"] > 0
    assert rep["doclens"]["rows_removed"] == rm.count()
    meta = text_index_refresh_stats(spark, full)
    build_text_index(docs.filter("doc_id % 5 != 1"), part, n_kmod=16)
    from networkframe_spark.store import read_manifest

    assert meta == read_manifest(spark, part, "meta")
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(full) == srch(part)


def test_text_index_search_plan_prunes_partitions(spark, tmp_path):
    """The probe reads only the kmod directories the query's terms
    hash into: PartitionFilters present, partitions actually read
    (scan metric) < kmod directories on disk."""
    import os

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
    )
    from networkframe_spark.sources import read_table
    from tests.conftest import scan_partition_counts

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=16)
    out = text_index_search(spark, path, ["spark", "hash"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kmod" in plan
    total = sum(
        1
        for d in os.listdir(os.path.join(path, "postings"))
        if d.startswith("kmod=")
    )
    scans = scan_partition_counts(out)
    assert scans, "no FileSourceScan found in the executed plan"
    scanned = max(s.get("numPartitions", 0) for s in scans)
    # 2 terms touch at most 2 kmod dirs
    assert 0 < scanned <= 2 < total, (scanned, total)


def test_text_index_lifecycle_stats_compact_maintain(spark, tmp_path):
    """index_stats sees postings/doclens; index_compact shrinks
    add-accumulated files with the search bit-identical across the
    swap."""
    import glob

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.functions.similarity import (
        index_compact,
        index_stats,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    build_text_index(docs.filter("doc_id < 100"), path, n_kmod=8)
    for lo in (100, 200, 300):
        text_index_add(
            spark,
            path,
            docs.filter(f"doc_id >= {lo} AND doc_id < {lo + 100}"),
        )
    st = index_stats(spark, path)
    assert "postings" in st and "doclens" in st
    assert st["postings"]["max_files_per_partition"] > 1
    terms = ["spark", "hash", "vector"]
    want = sorted(
        map(tuple, text_index_search(spark, path, terms, k=10).collect())
    )
    f_before = len(
        glob.glob(path + "/postings/**/*.parquet", recursive=True)
    )
    rep = index_compact(spark, path)
    f_after = len(
        glob.glob(path + "/postings/**/*.parquet", recursive=True)
    )
    assert rep["postings"]["files_after"] == f_after < f_before
    got = sorted(
        map(tuple, text_index_search(spark, path, terms, k=10).collect())
    )
    assert got == want


def _simulate_crashed_add(spark, path, batch, after_doclens=False):
    """Reproduce text_index_add's write sequence up to a crash point:
    marker + postings appended, doclens (and meta) not yet —
    or, with after_doclens=True, marker + postings + doclens appended
    but meta stale and marker never deleted."""
    import os

    from pyspark.sql import functions as F

    from networkframe_spark.functions.search import _text_postings
    from networkframe_spark.store import read_manifest

    meta = read_manifest(spark, path, "meta")
    n_kmod = int(meta["n_kmod"])
    postings, doclens = _text_postings(batch, "doc_id", "text", n_kmod)
    (
        doclens.select("doc_id")
        .coalesce(1)
        .write.mode("error")
        .parquet(os.path.join(path, "_pending", "crashtok", "docs"))
    )
    (
        postings.repartition(F.col("kmod"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("append")
        .partitionBy("kmod")
        .parquet(os.path.join(path, "postings"))
    )
    if after_doclens:
        (
            doclens.withColumn(
                "dmod", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_kmod))
            )
            .write.mode("append")
            .partitionBy("dmod")
            .parquet(os.path.join(path, "doclens"))
        )


def test_text_index_add_retry_after_postings_crash_converges(
    spark, tmp_path
):
    """The ADVICE-r15 crash window: postings appended, doclens not.
    A naive replay would re-append those postings (doubling tf/df and
    corrupting BM25); the pending-marker repair retracts the orphans
    first, so retry ≡ clean add ≡ full rebuild bit-for-bit."""
    import os

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_kmod=8)
    batch = docs.filter("doc_id % 2 = 1")
    _simulate_crashed_add(spark, inc, batch)
    # replay the SAME batch — repair must retract the orphaned
    # postings before re-ingesting, and the add must ingest fully
    assert text_index_add(spark, inc, batch) == batch.count()
    assert not os.path.exists(os.path.join(inc, "_pending", "crashtok"))
    build_text_index(docs, full, n_kmod=8)
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(inc) == srch(full)


def test_text_index_add_retry_after_doclens_crash_converges(
    spark, tmp_path
):
    """Crash after BOTH appends but before the meta update: the batch
    is committed content (doclens membership), so the replay must
    ingest zero docs while the repair heals the stale meta from
    doclens — add-after-crash ≡ rebuild bit-for-bit."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.sources import read_table
    from networkframe_spark.store import read_manifest

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_kmod=8)
    batch = docs.filter("doc_id % 2 = 1")
    _simulate_crashed_add(spark, inc, batch, after_doclens=True)
    assert text_index_add(spark, inc, batch) == 0  # replay: all dupes
    build_text_index(docs, full, n_kmod=8)
    assert read_manifest(spark, inc, "meta") == read_manifest(spark, full, "meta")
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(inc) == srch(full)


def test_text_index_repair_direct_restores_pre_add_state(spark, tmp_path):
    """text_index_repair alone (no follow-up add) rolls a
    postings-only crash back to 'batch fully absent': search and meta
    ≡ the pre-add index bit-for-bit."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_repair,
        text_index_search,
    )
    from networkframe_spark.sources import read_table
    from networkframe_spark.store import read_manifest

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, half = str(tmp_path / "inc"), str(tmp_path / "half")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_kmod=8)
    _simulate_crashed_add(spark, inc, docs.filter("doc_id % 2 = 1"))
    assert text_index_repair(spark, inc) == 1
    build_text_index(docs.filter("doc_id % 2 = 0"), half, n_kmod=8)
    assert read_manifest(spark, inc, "meta") == read_manifest(spark, half, "meta")
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(inc) == srch(half)


def test_text_index_phrase_search_exact_semantics(spark, tmp_path):
    """Phrase matching is positional: in-order consecutive occurrence
    only ('york new' must NOT match 'new york'), repeated-term
    phrases work, and scoring is BM25 over (tf = occurrences, df =
    matching docs) — hand-checked on a tiny corpus."""
    import math

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (0, "new york city is big"),
            (1, "york new haven line"),
            (2, "i love new york and new york loves me"),
            (3, "new new york york"),
            (4, "totally unrelated text"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=4, positions=True)
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in text_index_phrase_search(
            spark, path, ["new", "york"], k=10
        ).collect()
    }
    assert set(got) == {0, 2, 3}  # doc 1 has the words, wrong order
    # doc 2: ptf=2, dl=9; N=5, df_p=3, avgdl=25/5=5.0
    idf = math.log(1 + (5 - 3 + 0.5) / 3.5)
    s2 = round(idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 9 / 5.0)), 6)
    assert got[2][0] == pytest.approx(s2, abs=1e-6)
    # 3-term phrase: only doc 0
    three = text_index_phrase_search(
        spark, path, ["new", "york", "city"], k=10
    ).collect()
    assert [r["doc_id"] for r in three] == [0]
    # repeated-term phrase: only doc 3 has 'new new'
    rep = text_index_phrase_search(spark, path, ["new", "new"], k=10)
    assert [r["doc_id"] for r in rep.collect()] == [3]
    # no match at all
    assert (
        text_index_phrase_search(
            spark, path, ["city", "york"], k=10
        ).count()
        == 0
    )


def test_text_index_positional_add_equals_rebuild(spark, tmp_path):
    """positions=True rides the add ≡ rebuild bit-identity contract:
    build half + add half produces phrase results identical to one
    build over the union (sort_array canonicalizes position collect
    order)."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_add,
        text_index_phrase_search,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index(
        docs.filter("doc_id % 2 = 0"), inc, n_kmod=8, positions=True
    )
    assert text_index_add(spark, inc, docs.filter("doc_id % 2 = 1")) > 0
    build_text_index(docs, full, n_kmod=8, positions=True)
    srch = lambda p: sorted(
        map(
            tuple,
            text_index_phrase_search(
                spark, p, ["hash", "join"], k=10
            ).collect(),
        )
    )
    want = srch(full)
    assert srch(inc) == want and len(want) > 0
    # replay appends nothing, results unchanged
    assert text_index_add(spark, inc, docs.filter("doc_id % 2 = 1")) == 0
    assert srch(inc) == want


def test_text_index_phrase_search_plan_prunes_partitions(spark, tmp_path):
    """The phrase probe reads only the phrase terms' kmod directories
    — same PartitionFilters + row-group prune as the bag-of-terms
    probe — and stays JVM-side (no Python evaluation)."""
    import os

    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_phrase_search,
    )
    from networkframe_spark.sources import read_table
    from tests.conftest import scan_partition_counts

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=16, positions=True)
    out = text_index_phrase_search(spark, path, ["hash", "join"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kmod" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    total = sum(
        1
        for d in os.listdir(os.path.join(path, "postings"))
        if d.startswith("kmod=")
    )
    scans = scan_partition_counts(out)
    assert scans, "no FileSourceScan found in the executed plan"
    scanned = max(s.get("numPartitions", 0) for s in scans)
    assert 0 < scanned <= 2 < total, (scanned, total)


def test_text_index_phrase_requires_positions(spark, tmp_path):
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_phrase_search,
    )

    docs = spark.createDataFrame(
        [(0, "a b c")], "doc_id long, text string"
    )
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=4)
    with pytest.raises(ValueError, match="positions"):
        text_index_phrase_search(spark, path, ["a", "b"])


def test_cjk_aware_tokenizer_segments_unspaced_scripts(spark, tmp_path):
    """The r15-verdict multilingual gap: whitespace tokenization sees a
    CJK sentence as ONE token; mode='cjk_aware' expands CJK/kana
    tokens into character bigrams (Latin tokens pass through), and the
    mode threads through BM25, the text index (stored in meta, query
    terms expanded identically), and MinHash shingles."""
    from networkframe_spark.functions.search import (
        bm25_top_docs,
        build_text_index,
        text_index_add,
        text_index_search,
    )
    from networkframe_spark.functions.text import tokens_col

    docs = spark.createDataFrame(
        [
            (0, "the weather is nice"),
            (1, "今日は良い天気です"),
            (2, "明日も良い天気でしょう"),
            (3, "spark で 分散処理 is fast"),
            (4, "良い本を読む"),
            (5, "unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    # CJK docs get >1 token under cjk_aware (1 under ws)
    counts = {
        r["doc_id"]: (r["ws"], r["cjk"])
        for r in docs.select(
            "doc_id",
            F.size(tokens_col("text")).alias("ws"),
            F.size(tokens_col("text", mode="cjk_aware")).alias("cjk"),
        ).collect()
    }
    assert counts[1] == (1, 8) and counts[2][1] > 1
    assert counts[0] == (4, 4)  # pure Latin unchanged
    assert counts[3][1] > counts[3][0]  # mixed: CJK parts expand
    # index probe == transient BM25 under the stored tokenizer, with
    # the query phrase expanded through the same expression
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=8, tokenizer="cjk_aware")
    want = sorted(
        map(
            tuple,
            bm25_top_docs(
                docs, ["良い天気"], k=10, tokenizer="cjk_aware"
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            text_index_search(spark, path, ["良い天気"], k=10).collect(),
        )
    )
    assert got == want and len(got) > 0
    assert {t[0] for t in got} <= {1, 2, 4}  # only 良い/い天/天気 docs
    # add == rebuild with the stored cjk tokenizer
    inc = str(tmp_path / "inc")
    build_text_index(
        docs.filter("doc_id % 2 = 0"), inc, n_kmod=8,
        tokenizer="cjk_aware",
    )
    assert text_index_add(spark, inc, docs.filter("doc_id % 2 = 1")) == 3
    assert sorted(
        map(
            tuple,
            text_index_search(spark, inc, ["良い天気"], k=10).collect(),
        )
    ) == want


def test_cjk_aware_minhash_finds_cjk_neardups(spark):
    """Two CJK documents differing by one character: invisible to
    whitespace shingles (whole-sentence tokens -> jaccard 0), found by
    cjk_aware bigram shingles — the multilingual dedup gap closed."""
    from networkframe_spark.functions.dedup import minhash_lsh_duplicates

    a = "機械学習は大規模データの処理に革命をもたらした技術です"
    b = "機械学習は大規模データの解析に革命をもたらした技術です"
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, "completely different latin text")],
        "doc_id long, text string",
    )
    ws = minhash_lsh_duplicates(
        docs, n_perm=32, bands=16, shingle_n=3, threshold=0.5
    )
    assert ws.count() == 0
    cjk = minhash_lsh_duplicates(
        docs, n_perm=32, bands=16, shingle_n=3, threshold=0.5,
        tokenizer="cjk_aware",
    ).collect()
    assert len(cjk) == 1
    assert (cjk[0]["id_a"], cjk[0]["id_b"]) == (0, 1)
    assert cjk[0]["jaccard"] > 0.5


def test_text_index_empty_result_id_type_follows_store(spark, tmp_path):
    """Empty-terms / empty-index branches derive the id column type
    from the stored doclens schema (ADVICE r15) — a string-id index
    returns string-id empties, union-compatible with its normal
    path."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
        text_index_search_batch,
    )

    docs = spark.createDataFrame(
        [("a", "spark hash"), ("b", "vector spark")],
        "doc_id string, text string",
    )
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=4)
    normal = text_index_search(spark, path, ["spark"], k=5)
    empty = text_index_search(spark, path, [], k=5)
    typ = lambda df: [(f.name, f.dataType) for f in df.schema.fields]
    assert typ(empty) == typ(normal) and empty.count() == 0
    q = spark.createDataFrame(
        [(1, ["spark"])], "query_id long, terms array<string>"
    )
    q_empty = spark.createDataFrame(
        [], "query_id long, terms array<string>"
    )
    nb = text_index_search_batch(spark, q, path)
    eb = text_index_search_batch(spark, q_empty, path)
    assert typ(eb) == typ(nb) and eb.count() == 0


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------
def test_group_percentiles_exact(spark):
    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 5.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = {r["grp"]: r for r in
           group_percentiles(df, "value", "grp", ps=(0.5, 0.9)).collect()}
    # percentile_cont over 1..10: p50 = 5.5, p90 = 9.1
    assert got["a"]["p50"] == pytest.approx(5.5)
    assert got["a"]["p90"] == pytest.approx(9.1)
    assert got["a"]["n_rows"] == 10
    assert got["b"]["p50"] == 5.0 and got["b"]["p90"] == 5.0


def test_group_percentiles_approx_path(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1000)], "grp string, value double"
    )
    row = group_percentiles(df, "value", "grp", ps=(0.5,), exact=False).collect()[0]
    assert abs(row["p50"] - 499.5) < 20  # sketch-bounded, not exact


# ---------------------------------------------------------------------------
# token-sequence packing
# ---------------------------------------------------------------------------
def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)],
        "doc_id long, text string",
    )
    out = pack_token_sequences(docs, max_tokens=7).collect()
    assert len(out) == 40
    rows = sorted(out, key=lambda r: r["start_offset"])
    # contiguous layout: each start = previous start + previous length
    pos = 0
    for r in rows:
        assert r["start_offset"] == pos
        assert r["shard_id"] == pos // 7
        pos += r["n_tokens"]
    assert pos == sum(i % 5 + 1 for i in range(40))


def test_pack_sequences_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["start_offset"]
         for r in pack_token_sequences(docs, max_tokens=7).collect()}
    b = {r["doc_id"]: r["start_offset"]
         for r in pack_token_sequences(docs.repartition(7), max_tokens=7).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# user event sequences
# ---------------------------------------------------------------------------
def test_user_event_sequences_order_and_ties(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 103, t0, "view"),
        (1, 101, t0, "click"),          # same ts: event_id breaks the tie
        (1, 105, t0 + datetime.timedelta(minutes=1), "purchase"),
        (2, 104, t0, "signup"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {r["user_id"]: r for r in user_event_sequences(ev).collect()}
    assert got[1]["sequence"] == "click>view>purchase"
    assert got[1]["n_events"] == 3
    assert got[1]["first_ts"] == t0
    assert got[2]["sequence"] == "signup"


# ---------------------------------------------------------------------------
# containment dedup
# ---------------------------------------------------------------------------
def test_containment_catches_subset_jaccard_misses(spark):
    from networkframe_spark.functions.dedup import (
        containment_duplicates,
        ngram_jaccard_duplicates,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = quote + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, quote), (1, long_doc), (2, "unrelated words entirely different")],
        "doc_id long, text string",
    )
    cont = containment_duplicates(docs, n=3, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(0, 1)]
    assert cont[0]["containment"] == 1.0  # the quote is fully inside
    # symmetric jaccard is diluted by the filler and misses the pair
    jac = ngram_jaccard_duplicates(docs, n=3, threshold=0.9).collect()
    assert jac == []


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
def test_redact_pii_counts_and_replaces(spark):
    from networkframe_spark.functions.text import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a@b.co and c@d.org please"),
            (1, "server at 10.0.0.1 answered"),
            (2, "call +1 555-123-4567 today"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[0]["n_email"] == 2 and "[EMAIL]" in got[0]["text_redacted"]
    assert "@" not in got[0]["text_redacted"]
    assert got[1]["n_ipv4"] == 1 and got[1]["text_redacted"] == "server at [IPV4] answered"
    assert got[2]["n_phone"] == 1 and got[2]["text_redacted"] == "call [PHONE] today"
    assert got[3]["text_redacted"] == "nothing sensitive here"
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (0, 0, 0)


# ---------------------------------------------------------------------------
# graph describe
# ---------------------------------------------------------------------------
def test_describe_profile(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    # 0->1 twice (parallel), 1->1 loop, 2->0; node 3, 4 isolated
    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 1), (2, 0)], "source long, target long"
    )
    row = NetworkFrame(nodes, edges).describe().collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 4
    assert row["n_distinct_pairs"] == 3
    assert row["n_self_loops"] == 1
    assert row["max_out_degree"] == 2
    assert row["max_in_degree"] == 3
    assert row["n_isolated"] == 2


def test_describe_empty_edges(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([], "source long, target long")
    row = NetworkFrame(nodes, edges).describe().collect()[0]
    assert row["n_edges"] == 0 and row["n_self_loops"] == 0
    assert row["max_out_degree"] == 0 and row["max_in_degree"] == 0
    assert row["n_isolated"] == 2


# ---------------------------------------------------------------------------
# round 8: quality classifier / ANN recall / temporal split
# ---------------------------------------------------------------------------
def test_train_quality_classifier_learns_and_is_deterministic(spark):
    from networkframe_spark.functions.classifier import (
        train_quality_classifier,
    )
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn("y", (F.col("n_chars") > 300).cast("int"))
    base = docs.agg(F.avg("y")).collect()[0][0]
    base = max(base, 1 - base)
    r1 = train_quality_classifier(docs, "y").collect()[0]
    r2 = train_quality_classifier(docs, "y").collect()[0]
    # trained accuracy beats the majority-class base rate
    assert r1["accuracy"] > base + 0.1
    # exact-integer training: bit-identical across runs
    assert r1 == r2
    assert r1["n"] == docs.count()


def test_train_quality_classifier_matches_local_replay(spark):
    """Replay the integer GD loop in plain Python on the collected
    feature table — the training must match bit-for-bit."""
    from networkframe_spark.functions.classifier import (
        FEATURE_UNIT,
        N_FEATURES,
        WEIGHT_UNIT,
        _tdiv_int,
        feature_sql_exprs,
        train_quality_classifier,
    )
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn("y", (F.col("n_chars") > 250).cast("int"))
    feats = docs.selectExpr("CAST(y AS BIGINT) AS y", *feature_sql_exprs()).collect()
    n = len(feats)
    w = [0] * N_FEATURES
    for _ in range(3):
        g = [0] * N_FEATURES
        for r in feats:
            z = sum(w[j] * r[f"x{j}"] for j in range(N_FEATURES))
            p = min(max(5 * 10**8 + _tdiv_int(z, 4 * FEATURE_UNIT), 0), WEIGHT_UNIT)
            resid = p - r["y"] * WEIGHT_UNIT
            for j in range(N_FEATURES):
                g[j] += resid * r[f"x{j}"]
        for j in range(N_FEATURES):
            w[j] -= _tdiv_int(2 * g[j], n * FEATURE_UNIT)
    got = train_quality_classifier(docs, "y", n_iter=3, lr_num=2, lr_den=1).collect()[0]
    for j in range(N_FEATURES):
        assert got[f"w{j}"] == w[j] / WEIGHT_UNIT, (j, got[f"w{j}"], w[j])


def test_score_quality_classifier_monotone_in_length_weight(spark):
    from networkframe_spark.functions.classifier import (
        score_quality_classifier,
    )

    docs = spark.createDataFrame(
        [(1, "short text"), (2, " ".join(["word"] * 300))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["quality_p"]
        for r in score_quality_classifier(
            docs, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]
        ).collect()
    }
    # positive weight on the length feature -> longer doc scores higher
    assert out[2] > out[1]
    assert 0.0 <= out[1] <= 1.0 and 0.0 <= out[2] <= 1.0


def test_cell_pruned_top_k_subset_of_brute_and_recall(spark):
    from networkframe_spark.functions.similarity import (
        ann_recall_report,
        brute_force_top_k,
        cell_pruned_top_k,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id < 5")
    approx = cell_pruned_top_k(emb, qs, k=5, n_cells=8, n_probe=2)
    # pruned search scores a strict subset of pairs -> each returned
    # cosine must equal the brute-force cosine for that same pair
    brute = brute_force_top_k(emb, qs, k=10**6)
    joined = approx.join(
        brute.select("query_id", "vec_id", brute["cosine"].alias("bc")),
        on=["query_id", "vec_id"],
    )
    assert joined.count() == approx.count()
    assert joined.filter("cosine <> bc").count() == 0
    rep = ann_recall_report(emb, qs, approx, k=5)
    rows = rep.collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_truth"] <= 5
        assert abs(r["recall"] - round(r["n_hit"] / r["n_truth"], 6)) < 1e-12
    # probing every cell makes the pruned search exact -> recall 1.0
    full = cell_pruned_top_k(emb, qs, k=5, n_cells=8, n_probe=8)
    rep_full = ann_recall_report(emb, qs, full, k=5)
    assert all(r["recall"] == 1.0 for r in rep_full.collect())


def test_time_split_boundaries_and_embargo(spark):
    from networkframe_spark.functions.pipeline import time_split
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=10 * i)) for i in range(11)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    # span = 100 min; cutoff = 80 min (4/5); embargo = 600 s -> (80, 90]
    out = {r["event_id"]: r["split"] for r in
           time_split(df, "ts", 4, 5, embargo_seconds=600).collect()}
    assert all(out[i] == "train" for i in range(9))
    assert out[9] == "embargo"
    assert out[10] == "test"
    assert out[99] is None


def test_time_split_validation(spark):
    import pytest as _pytest
    from networkframe_spark.functions.pipeline import time_split

    df = spark.createDataFrame([(1,)], "event_id long").selectExpr(
        "event_id", "CAST('2024-01-01' AS TIMESTAMP) AS ts"
    )
    with _pytest.raises(ValueError):
        time_split(df, "ts", 6, 5)
    with _pytest.raises(ValueError):
        time_split(df, "ts", embargo_seconds=-1)


def test_classification_report_hand_counts(spark):
    from networkframe_spark.functions.classifier import (
        classification_report,
    )

    df = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 1), (0, 0), (1, 1), (0, 0), (1, None)],
        "y int, pred int",
    )
    r = classification_report(df, "y", "pred").collect()[0]
    assert (r["n"], r["tp"], r["fp"], r["fn"], r["tn"]) == (6, 2, 1, 1, 2)
    assert r["accuracy"] == round(4 / 6, 6)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == round(2 / 3, 6)
    assert r["f1"] == round(4 / 6, 6)


def test_classification_report_zero_denominators_null(spark):
    from networkframe_spark.functions.classifier import (
        classification_report,
    )

    # no positive predictions and no positive labels
    df = spark.createDataFrame([(0, 0), (0, 0)], "y int, pred int")
    r = classification_report(df, "y", "pred").collect()[0]
    assert r["precision"] is None and r["recall"] is None and r["f1"] is None
    assert r["accuracy"] == 1.0


def test_calibration_bins_exact_means(spark):
    from networkframe_spark.functions.classifier import calibration_bins

    df = spark.createDataFrame(
        [(0.05, 0), (0.15, 0), (0.12, 1), (0.95, 1), (1.0, 1)],
        "p double, y int",
    )
    rows = {r["bin"]: r for r in calibration_bins(df, "p", "y").collect()}
    assert set(rows) == {0, 1, 9}
    assert rows[1]["n"] == 2 and rows[1]["mean_p"] == round((0.15 + 0.12) / 2, 6)
    assert rows[1]["pos_rate"] == 0.5
    # p == 1.0 clamps into the top bin
    assert rows[9]["n"] == 2 and rows[9]["pos_rate"] == 1.0


def test_rolling_origin_splits_expanding_windows(spark):
    import datetime as dt

    from networkframe_spark.functions.pipeline import rolling_origin_splits

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(hours=i)) for i in range(9)],
        "event_id long, ts timestamp",
    )
    # span 8h cut into 4 -> cutoffs at 2h, 4h, 6h
    out = rolling_origin_splits(df, "ts", n_folds=3)
    got = {
        (r["fold"], r["event_id"]): r["role"] for r in out.collect()
    }
    # fold 1: train <= 2h, test (2h, 4h]
    assert got[(1, 0)] == got[(1, 2)] == "train"
    assert got[(1, 3)] == got[(1, 4)] == "test"
    assert (1, 5) not in got
    # fold 3: train <= 6h, test (6h, 8h]
    assert got[(3, 6)] == "train" and got[(3, 8)] == "test"
    # each fold's train set expands
    train_sizes = [
        sum(1 for (f, _), role in got.items() if f == k and role == "train")
        for k in (1, 2, 3)
    ]
    assert train_sizes == sorted(train_sizes) and train_sizes[0] < train_sizes[-1]


def test_ivf_index_add_equals_full_rebuild_search(spark, tmp_path):
    """Append-maintained index must search identically to an index
    built over the union with the same centroid manifest, and a
    pruned probe must still read only the probed partitions."""
    from networkframe_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_add,
        ivf_index_search,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id % 2 = 0")
    delta = emb.filter("vec_id % 2 = 1")
    p_add = str(tmp_path / "idx_add")
    cents = build_ivf_index(base, p_add, n_lists=4, n_iter=1, mode="overwrite")
    ivf_index_add(spark, p_add, delta)

    # full rebuild with the SAME centroids (ivf_top_k accepts them)
    from networkframe_spark.functions.similarity import ivf_top_k

    qs = emb.filter("vec_id < 5")
    via_add = ivf_index_search(spark, p_add, qs, k=4, n_probe=4)
    via_mem = ivf_top_k(emb, qs, k=4, n_lists=4, n_probe=4, centroids=cents)
    assert sorted(map(tuple, via_add.collect())) == sorted(
        map(tuple, via_mem.collect())
    )
    # the appended index contains every vector exactly once
    cells = spark.read.parquet(p_add + "/cells")
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()


def test_semantic_decontaminate_brute_and_lsh(spark):
    """A planted paraphrase (same direction, different norm) must be
    flagged; orthogonal vectors must not.  Degenerate 0-plane LSH ==
    brute (the established exhaustive-mode equivalence)."""
    from networkframe_spark.functions.similarity import (
        semantic_decontaminate,
    )

    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # same direction as eval 100
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [0.9, 0.1, 0.0]),   # close to eval 100
        ],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        (r["train_id"], r["eval_id"]): r["cosine"]
        for r in semantic_decontaminate(train, ev, threshold=0.9).collect()
    }
    assert (1, 100) in got and got[(1, 100)] == 1.0
    assert (3, 100) in got and got[(3, 100)] > 0.9
    assert (2, 100) not in got
    brute = sorted(map(tuple, semantic_decontaminate(
        train, ev, threshold=0.5).collect()))
    lsh = sorted(map(tuple, semantic_decontaminate(
        train, ev, threshold=0.5, method="lsh", n_planes=0, n_tables=1
    ).collect()))
    assert brute == lsh
    import pytest as _pytest
    with _pytest.raises(ValueError):
        semantic_decontaminate(train, ev, method="nope")


def test_pair_recall_report_contract(spark):
    from networkframe_spark.functions.similarity import (
        pair_recall_report,
        semantic_decontaminate,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ev = emb.filter("vec_id % 20 = 0")
    tr = emb.filter("vec_id % 20 <> 0")
    truth = semantic_decontaminate(tr, ev, threshold=0.42)
    # lsh candidates are a subset of all pairs, so lsh matches must be
    # a subset of brute matches at the same threshold
    pred = semantic_decontaminate(
        tr, ev, threshold=0.42, method="lsh", n_planes=4, n_tables=2
    )
    extra = pred.select("train_id", "eval_id").exceptAll(
        truth.select("train_id", "eval_id")
    )
    assert extra.count() == 0
    rep = pair_recall_report(truth, pred).collect()
    assert len(rep) == truth.select("eval_id").distinct().count()
    for r in rep:
        assert 0 <= r["n_hit"] <= r["n_truth"]
        assert abs(r["recall"] - round(r["n_hit"] / r["n_truth"], 6)) < 1e-12
    # identical pred -> perfect recall on every group
    perfect = pair_recall_report(truth, truth).collect()
    assert perfect and all(r["recall"] == 1.0 for r in perfect)


def test_leiden_refinement_splits_stranded_community(spark):
    """The stranded-leaves gadget from the registered query: the
    local-move phase leaves {u, w} with no internal edge; Leiden's
    refinement must split them while plain Louvain keeps them fused."""
    from pyspark.sql import functions as F

    from networkframe_spark.frame import NetworkFrame

    ids = spark.range(8).select(F.col("id"))
    hubs = ids.filter("id % 4 = 1").select(F.col("id").alias("h"))
    pairs = (
        hubs.select(
            F.col("h").alias("source"),
            (F.col("h") - 1).alias("target"),
            F.lit(10).alias("weight"),
        )
        .unionByName(
            hubs.select(
                F.col("h").alias("source"),
                (F.col("h") + 1).alias("target"),
                F.lit(1).alias("weight"),
            )
        )
        .unionByName(
            hubs.select(
                F.col("h").alias("source"),
                (F.col("h") + 2).alias("target"),
                F.lit(1).alias("weight"),
            )
        )
    )
    nf = NetworkFrame(ids, pairs)
    lei = {
        r["id"]: r["community"]
        for r in nf.leiden_communities(
            n_levels=1, n_rounds=1, weight_col="weight"
        ).collect()
    }
    lou = {
        r["id"]: r["community"]
        for r in nf.louvain_communities(
            n_levels=1, n_rounds=1, weight_col="weight"
        ).collect()
    }
    # louvain: leaves 2,3 chase the hub's old label and stay fused
    assert lou[2] == lou[3]
    # leiden: the {2,3} community has no internal edge -> refined into
    # singletons rooted at their own ids
    assert lei[2] == 2 and lei[3] == 3
    # the hub joined its strong neighbor in both
    assert lei[1] == lei[0] and lou[1] == lou[0]


def test_semantic_decontaminate_multiprobe_monotone_and_degenerate(spark):
    from pyspark.sql import functions as F

    from networkframe_spark.functions.similarity import (
        pair_recall_report,
        semantic_decontaminate,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ev = emb.filter("vec_id % 20 = 0")
    tr = emb.filter("vec_id % 20 <> 0")
    truth = semantic_decontaminate(tr, ev, threshold=0.42)

    def hits(npb):
        pred = semantic_decontaminate(
            tr, ev, threshold=0.42, method="lsh",
            n_planes=4, n_tables=2, n_probe_bits=npb,
        )
        r = (
            pair_recall_report(truth, pred)
            .agg(F.sum("n_hit").alias("h"))
            .first()
        )
        return int(r["h"])

    h0, h1, h4 = hits(0), hits(1), hits(4)
    assert h0 <= h1 <= h4
    # probing the full Hamming ball ≡ brute force, pair for pair
    full = semantic_decontaminate(
        tr, ev, threshold=0.42, method="lsh",
        n_planes=4, n_tables=2, n_probe_bits=4,
    )
    assert full.exceptAll(truth).count() == 0
    assert truth.exceptAll(full).count() == 0
    import pytest

    with pytest.raises(ValueError):
        semantic_decontaminate(
            tr, ev, method="lsh", n_planes=4, n_probe_bits=9
        )


def test_text_index_search_batch_equals_per_query(spark, tmp_path):
    """Batched retrieval run ≡ per-query text_index_search loop
    bit-for-bit; the batch pays one pruned postings scan for the term
    union and its top-k window is query-keyed, never global."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
        text_index_search_batch,
    )
    from networkframe_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_kmod=16)
    qsets = {
        1: ["spark", "hash"],
        2: ["vector", "data", "spark"],
        3: ["zzz_no_such_term"],
    }
    queries = spark.createDataFrame(
        [(qid, ts) for qid, ts in qsets.items()],
        "query_id long, terms array<string>",
    )
    got = sorted(
        map(
            tuple,
            text_index_search_batch(spark, queries, path, k=5).collect(),
        )
    )
    want = []
    for qid, ts in qsets.items():
        for r in text_index_search(spark, path, ts, k=5).collect():
            want.append((qid, r["doc_id"], r["score"], r["rank"]))
    assert got == sorted(want)
    assert len(got) > 0


def test_hybrid_search_batch_equals_leg_composition(spark, tmp_path):
    """hybrid_search_batch == rrf_fuse(text_index_search_batch,
    lsh_index_search) composed by hand — one call, two persisted
    indexes, bit-identical fusion; exhaustive probes make the vector
    leg equal brute force so the whole result is deterministic."""
    from networkframe_spark.functions.search import (
        build_text_index,
        hybrid_search_batch,
        rrf_fuse,
        text_index_search_batch,
    )
    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings, read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    tix, lsh = str(tmp_path / "tix"), str(tmp_path / "lsh")
    build_text_index(docs, tix, n_kmod=8)
    build_lsh_index(emb, lsh, n_planes=4, n_tables=2)
    terms = spark.createDataFrame(
        [(0, ["spark", "hash"]), (1, ["vector", "data"])],
        "query_id long, terms array<string>",
    )
    queries = terms.join(
        emb.selectExpr("vec_id as query_id", "embedding"), on="query_id"
    )
    got = sorted(
        map(
            tuple,
            hybrid_search_batch(
                spark, queries, tix, lsh,
                k=10, lexical_k=5, vector_k=3,
                n_probe_bits=4, exclude_self=True,
            ).collect(),
        )
    )
    lex = text_index_search_batch(
        spark, terms, tix, k=5
    ).select("query_id", "doc_id", "rank")
    vec = lsh_index_search(
        spark, lsh, queries.select("query_id", "embedding"),
        k=3, n_probe_bits=4, query_id_col="query_id", exclude_self=True,
    ).selectExpr("query_id", "vec_id as doc_id", "rank")
    want = sorted(
        map(
            tuple,
            rrf_fuse(
                [lex, vec], id_col="doc_id", query_col="query_id", top_k=10
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # both legs contribute: some fused rows carry n_lists == 2 or the
    # union spans both sources (vector-only ids exist since vector_k
    # ids need not match any lexical term)
    assert any(r[2] >= 1 for r in got)


def test_hybrid_search_batch_vector_leg_dispatch(spark, tmp_path):
    """An ivf_sq or ivfpq store at the vector path swaps the vector
    leg for the quantized stores (the 100 TB memory answer) with the
    fusion arithmetic unchanged: hybrid == rrf_fuse(lexical leg,
    detected family's probe) composed by hand, bit-for-bit, for both
    families; a store of another family is refused by name."""
    import pytest as _pytest

    from networkframe_spark.functions.search import (
        build_text_index,
        hybrid_search_batch,
        rrf_fuse,
        text_index_search_batch,
    )
    from networkframe_spark.functions.similarity import (
        build_ivf_sq_index,
        build_ivfpq_index,
        ivf_sq_search,
        ivfpq_search,
    )
    from networkframe_spark.sources import read_embeddings, read_table
    from networkframe_spark.store import index_family

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(100)
    tix = str(tmp_path / "tix")
    build_text_index(docs, tix, n_kmod=8)
    terms = spark.createDataFrame(
        [(0, ["spark", "hash"]), (1, ["vector", "data"])],
        "query_id long, terms array<string>",
    )
    queries = terms.join(
        emb.selectExpr("vec_id as query_id", "embedding"), on="query_id"
    )
    lex = text_index_search_batch(
        spark, terms, tix, k=5
    ).select("query_id", "doc_id", "rank")

    def fused(vec_df):
        return sorted(
            map(
                tuple,
                rrf_fuse(
                    [lex, vec_df.selectExpr(
                        "query_id", "vec_id as doc_id", "rank"
                    )],
                    id_col="doc_id", query_col="query_id", top_k=10,
                ).collect(),
            )
        )

    # --- ivf_sq leg ---
    sq = str(tmp_path / "ivfsq")
    build_ivf_sq_index(emb, sq, n_lists=4, n_iter=2)
    got_sq = sorted(
        map(
            tuple,
            hybrid_search_batch(
                spark, queries, tix, sq,
                k=10, lexical_k=5, vector_k=3,
                n_probe=2, exclude_self=False,
            ).collect(),
        )
    )
    want_sq = fused(
        ivf_sq_search(
            spark, sq, queries.select("query_id", "embedding"),
            k=3, n_probe=2, query_id_col="query_id",
            exclude_self=False,
        )
    )
    assert got_sq == want_sq and len(got_sq) > 0

    # --- ivfpq leg ---
    pq = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        emb, pq, n_lists=4, m=4, k_codes=16,
        codebook_init="first_ids", residual=False,
    )
    got_pq = sorted(
        map(
            tuple,
            hybrid_search_batch(
                spark, queries, tix, pq,
                k=10, lexical_k=5, vector_k=3,
                n_probe=2,
            ).collect(),
        )
    )
    want_pq = fused(
        ivfpq_search(
            spark, pq, queries.select("query_id", "embedding"),
            k=3, n_probe=2, query_id_col="query_id",
        )
    )
    assert got_pq == want_pq and len(got_pq) > 0
    # the leg is read from the store by existence checks alone
    last_job = lambda: max(
        spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1
    )
    before = last_job()
    assert index_family(spark, pq) == "ivfpq"
    assert index_family(spark, sq) == "ivf_sq"  # reads its manifest
    assert last_job() == before

    with _pytest.raises(ValueError, match="exclude_self"):
        hybrid_search_batch(spark, queries, tix, pq, exclude_self=True)
    with _pytest.raises(ValueError, match="holds a text index"):
        hybrid_search_batch(spark, queries, tix, tix)
