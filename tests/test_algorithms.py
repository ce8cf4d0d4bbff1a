"""Graph algorithm semantics: components, BFS, k-hop aggregation,
groupby/condense, spectral ordering."""

import math

import pytest
from pyspark.sql import functions as F

from networkframe_spark import NetworkFrame


def ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.fixture()
def two_component_frame(spark):
    """0-1-2 weakly connected (directed chain + back edge), 3-4 separate,
    5 isolated."""
    nodes = spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, x double")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4)], "source long, target long"
    )
    return NetworkFrame(nodes, edges)


def test_weak_components(two_component_frame):
    labels = {r["id"]: r["component"] for r in two_component_frame.component_labels(
        connection="weak").collect()}
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4]
    assert len({labels[0], labels[3], labels[5]}) == 3
    # deterministic numbering: largest component first
    assert labels[0] == 0 and labels[3] == 1 and labels[5] == 2


def test_n_connected_components(two_component_frame):
    assert two_component_frame.n_connected_components(connection="weak") == 3
    assert not two_component_frame.is_fully_connected()


def test_strong_components(spark):
    # 0→1→2→0 is an SCC; 2→3→4, 4→3 back edge makes {3,4} an SCC
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    labels = {r["id"]: r["component"] for r in nf.component_labels(
        directed=True, connection="strong").collect()}
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4]
    assert labels[0] != labels[3]


def test_strong_components_dag(spark):
    # DAG: every node its own SCC
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "source long, target long")
    nf = NetworkFrame(nodes, edges)
    labels = nf.component_labels(directed=True, connection="strong")
    assert labels.select("component").distinct().count() == 4


def test_strong_components_distributed_fb_path(spark, monkeypatch):
    """Force the distributed Forward-Backward SCC path (normally gated
    behind _LOCAL_MAX_ROWS) on a graph that stresses its fixpoint:
    a 40-cycle (worst case for plain label propagation — pointer
    jumping must converge in ~log rounds, not 40), a DAG tail hanging
    off it, and a separate 2-cycle."""
    from networkframe_spark import algorithms

    monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
    n = 40
    cycle = [(i, (i + 1) % n) for i in range(n)]
    tail = [(0, 100), (100, 101), (101, 102)]
    duo = [(200, 201), (201, 200)]
    node_ids = list(range(n)) + [100, 101, 102, 200, 201]
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id long")
    edges = spark.createDataFrame(cycle + tail + duo, "source long, target long")
    nf = NetworkFrame(nodes, edges)
    labels = {r["id"]: r["component"] for r in nf.component_labels(
        directed=True, connection="strong").collect()}
    assert len(labels) == len(node_ids)
    assert len({labels[i] for i in range(n)}) == 1  # the 40-cycle is one SCC
    assert labels[200] == labels[201]
    # DAG tail nodes are singleton SCCs, all distinct
    assert len({labels[100], labels[101], labels[102], labels[0], labels[200]}) == 5


def test_strong_components_local_collect_stays_bounded(spark, monkeypatch):
    """The local Tarjan collects only the distinct edges, bounded by
    ``_LOCAL_MAX_ROWS``: with the bound just above the edge count, no
    collect of a graph with many isolated nodes pulls more than the
    bound + 1 rows, and the labels (isolated nodes are singletons)
    equal the forced-distributed path's."""
    from networkframe_spark import algorithms

    edge_rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)]
    nodes = spark.createDataFrame([(i,) for i in range(200)], "id long")
    edges = spark.createDataFrame(edge_rows, "source long, target long")
    nf = NetworkFrame(nodes, edges)

    def labels():
        return sorted(
            tuple(r)
            for r in algorithms._strong_component_min_labels(nf)
            .select("id", "comp")
            .collect()
        )

    bound = len(edge_rows) + 1
    pulled = []

    def recording(collect):
        def wrapper(df):
            out = collect(df)
            pulled.append(len(out))
            return out

        return wrapper

    monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", bound)
    for name in ("toPandas", "toArrow"):
        monkeypatch.setattr(
            type(nodes), name, recording(getattr(type(nodes), name))
        )
    local = labels()
    monkeypatch.undo()
    # every driver-side collect of the call, the local path taken
    assert pulled and max(pulled) <= bound + 1, pulled
    monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
    assert local == labels()
    assert local[:6] == [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)]
    assert len(local) == 200


def test_weak_components_coalesce_bound_holds_on_a_hot_partition(spark, monkeypatch):
    """The narrow union-find ladder sizes its coalesce from the largest
    observed mapping partitions, not the average: one hot partition
    cannot push a merged partition past ``_HIER_MAX_ROWS_PER_PART``.
    The ladder starts at ``defaultParallelism`` partitions, patched to
    64 here as on a 64-core cluster."""
    from networkframe_spark import algorithms

    # 64 edge partitions of 100 ids each: partition 0 holds a 100-edge
    # path (101 mapping rows), every other partition one edge (2 rows)
    edges = (
        spark.range(0, 6400, 1, 64)
        .filter((F.col("id") < 100) | (F.col("id") % 100 == 0))
        .select(F.col("id").alias("source"), (F.col("id") + 1).alias("target"))
    )
    nodes = spark.range(0, 6402).select("id")
    nf = NetworkFrame(nodes, edges)

    def labels():
        return sorted(
            tuple(r)
            for r in algorithms._weak_component_min_labels(nf).select("id", "comp").collect()
        )

    want = labels()
    sc_type = type(spark.sparkContext)
    coalesce = type(nodes).coalesce
    merged = []

    def recording(df, n):
        out = coalesce(df, n)
        merged.append(out)
        return out

    monkeypatch.setattr(algorithms, "_HIER_MAX_ROWS_PER_PART", 120)
    monkeypatch.setattr(sc_type, "defaultParallelism", property(lambda sc: 64))
    monkeypatch.setattr(type(nodes), "coalesce", recording)
    got = labels()
    monkeypatch.undo()
    assert got == want
    assert merged
    for df in merged:
        sizes = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
        assert max(sizes) <= 120, sizes


def test_largest_connected_component(two_component_frame):
    out = two_component_frame.largest_connected_component(connection="weak")
    assert ids(out.nodes) == [0, 1, 2]
    assert out.n_edges == 3


def test_connected_components_iterator(two_component_frame):
    comps = list(two_component_frame.connected_components(connection="weak"))
    assert len(comps) == 3
    sizes = sorted(len(c) for c in comps)
    assert sizes == [1, 2, 3]


def test_select_component_from_node(two_component_frame):
    out = two_component_frame.select_component_from_node(3, directed=True)
    assert ids(out.nodes) == [3, 4]


def test_component_labels_on_undirected_flag(spark):
    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    edges = spark.createDataFrame([(0, 1)], "source long, target long")
    nf = NetworkFrame(nodes, edges, directed=False)
    assert nf.n_connected_components() == 2


def test_k_hop_pairs(letter_frame):
    pairs = letter_frame.k_hop_pairs(1, directed=True, drop_self=True)
    got = sorted((r["node"], r["neighbor"]) for r in pairs.collect())
    assert got == [("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")]


def test_k_hop_pairs_undirected(letter_frame):
    pairs = letter_frame.k_hop_pairs(1, directed=False, drop_self=True)
    per_node = {}
    for r in pairs.collect():
        per_node.setdefault(r["node"], set()).add(r["neighbor"])
    assert per_node["A"] == {"B", "C"}
    assert per_node["D"] == {"C"}


def test_k_hop_aggregation_mean(letter_frame):
    # undirected, k=1: A's neighbors {B,C} sizes {2,3} -> mean 2.5
    out = letter_frame.k_hop_aggregation(1, aggregations=["mean", "sum"], directed=False)
    rows = {r["id"]: r for r in out.collect()}
    assert rows["A"]["size_neighbor_mean"] == pytest.approx(2.5)
    assert rows["A"]["size_neighbor_sum"] == 5
    assert rows["D"]["size_neighbor_mean"] == pytest.approx(3.0)
    assert len(rows) == 4


def test_k_hop_aggregation_std_only(letter_frame):
    # the reference NameErrors on std-without-mean; we fix it (SURVEY §2.6 A10)
    out = letter_frame.k_hop_aggregation(1, aggregations="std", directed=False)
    rows = {r["id"]: r for r in out.collect()}
    # A neighbors sizes {2,3}: stddev_samp = sqrt(0.5)
    assert rows["A"]["size_neighbor_std"] == pytest.approx(math.sqrt(0.5))


def test_k_hop_aggregation_isolated_node(spark):
    nodes = spark.createDataFrame([(0, 1.0), (1, 2.0), (2, 9.0)], "id long, x double")
    edges = spark.createDataFrame([(0, 1)], "source long, target long")
    nf = NetworkFrame(nodes, edges)
    out = nf.k_hop_aggregation(1, aggregations="mean", directed=False)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[2]["x_neighbor_mean"] is None
    assert rows[0]["x_neighbor_mean"] == pytest.approx(2.0)


# -- groupby / condense ----------------------------------------------------
def test_groupby_size_edges(readme_frame):
    gb = readme_frame.groupby_nodes("color")
    out = gb.size_edges()
    rows = {(r["source_color"], r["target_color"]): r["size"] for r in out.collect()}
    # edges: 0r→1b, 1b→2r, 2r→3b, 2r→1b, 3b→0r
    assert rows[("red", "blue")] == 3
    assert rows[("blue", "red")] == 2
    assert ("red", "red") not in rows


def test_groupby_apply_edges_sum(readme_frame):
    out = readme_frame.groupby_nodes("color").apply_edges("sum", columns=["weight"])
    rows = {(r["source_color"], r["target_color"]): r["weight"] for r in out.collect()}
    assert rows[("red", "blue")] == 1 + 3 + 4
    assert rows[("blue", "red")] == 2 + 5


def test_groupby_apply_edges_callable(readme_frame):
    out = readme_frame.groupby_nodes("color").apply_edges(
        lambda df: df.sum(), columns=["weight"]
    )
    rows = {(r["source_color"], r["target_color"]): r["weight"] for r in out.collect()}
    assert rows[("red", "blue")] == pytest.approx(8.0)


def test_groupby_iteration(readme_frame):
    gb = readme_frame.groupby_nodes("color", induced=True)
    got = {key: (len(sub), sub.n_edges) for key, sub in gb}
    assert set(got) == {("blue", "blue"), ("red", "red")}
    assert got[("red", "red")] == (3, 0)


def test_groupby_len(readme_frame):
    assert len(readme_frame.groupby_nodes("color")) == 4
    assert len(readme_frame.groupby_nodes("color", induced=True)) == 2


def test_condense(readme_frame):
    out = readme_frame.condense("color", func="size")
    assert ids(out.nodes) == ["blue", "red"]
    rows = {(r["source"], r["target"]): r["weight"] for r in out.edges.collect()}
    assert rows[("red", "blue")] == 3
    assert rows[("blue", "red")] == 2


def test_condense_sum(readme_frame):
    out = readme_frame.condense("color", func="sum", columns=["weight"], weight_name="w")
    rows = {(r["source"], r["target"]): r["w"] for r in out.edges.collect()}
    assert rows[("red", "blue")] == 8


# -- spectral --------------------------------------------------------------
def test_sort_spectral(spark):
    # star: hub 0 connected to 1..4 — hub must have extreme |score|
    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 5)], "source long, target long, weight double"
    )
    nf = NetworkFrame(nodes, edges)
    out = nf.sort_spectral()
    rows = out.nodes.collect()
    scores = {r["id"]: r["spectral_score"] for r in rows}
    hub = abs(scores[0])
    for i in range(1, 5):
        assert hub > abs(scores[i]) * 1.5
    # leaves all get equal scores
    leaf = [scores[i] for i in range(1, 5)]
    assert max(leaf) - min(leaf) < 1e-6


def test_spectral_scores_distributed_path(spark, monkeypatch):
    """The distributed power iteration (bound at 0) matches the
    driver-local one on a graph with an isolated node, a bipartite
    component (a path, where the unshifted iteration oscillates) and a
    weighted triangle.  Fixed rounds (``tol=0``) on both sides."""
    from networkframe_spark import algorithms

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 1.0), (4, 5, 3.0), (5, 6, 1.0), (6, 4, 2.0)],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)

    def scores():
        return {
            r["id"]: abs(r["spectral_score"])
            for r in algorithms.spectral_scores(nf, max_iter=25, tol=0.0).collect()
        }

    local = scores()
    monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
    dist = scores()
    assert local.keys() == dist.keys() == set(range(8))
    for i in range(8):
        assert dist[i] == pytest.approx(local[i], abs=1e-9), i
    assert local[7] < local[4]  # the isolated node decays


def test_local_twins_job_counts(spark):
    """Spark jobs per call, result collected, on one small graph below
    the local bound.  One guarded ``limit(N + 1)`` Arrow collect per
    table replaced a count and a ``toPandas`` (SCC also collected every
    node id; spectral ran a checkpoint, a node count and a Spark
    ``sigma`` aggregate before its two collects): on this graph the
    counts were SCC 7, ``hop_distances`` 6, ``shortest_paths`` 6 and
    ``spectral_scores`` 12."""
    from networkframe_spark import algorithms

    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 10, float(i + 1)) for i in range(10)] + [(3, 7, 2.0)],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    sc = spark.sparkContext
    calls = {
        "scc": lambda: algorithms._strong_component_min_labels(nf),
        "hop_distances": lambda: algorithms.hop_distances(nf, 0),
        "shortest_paths": lambda: algorithms.shortest_paths(nf, 0),
        "spectral_scores": lambda: algorithms.spectral_scores(nf),
    }
    jobs = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"twin-{name}", name)
            call().collect()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"twin-{name}"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    pins = {"scc": 5, "hop_distances": 3, "shortest_paths": 3, "spectral_scores": 5}
    assert all(jobs[k] <= pins[k] for k in pins), jobs


# -- exports ---------------------------------------------------------------
def test_aggregated_edges(spark):
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 2.0), (0, 1, 3.0)], "source long, target long, weight double"
    )
    nf = NetworkFrame(nodes, edges)
    agg = {(r["source"], r["target"]): r["weight"] for r in nf.aggregated_edges("weight").collect()}
    assert agg[(0, 1)] == 5.0
    cnt = {(r["source"], r["target"]): r["weight"] for r in nf.aggregated_edges().collect()}
    assert cnt[(0, 1)] == 2


def test_to_adjacency(readme_frame):
    adj = readme_frame.to_adjacency(weight_col="weight")
    assert adj.loc[2, 1] == 4
    assert adj.loc[0, 1] == 1
    assert adj.loc[0, 2] == 0
    assert adj.shape == (5, 5)


def test_to_sparse_adjacency(readme_frame):
    mat, order = readme_frame.to_sparse_adjacency(weight_col="weight")
    pos = {v: i for i, v in enumerate(order)}
    assert mat[pos[2], pos[1]] == 4.0
    assert mat.shape == (5, 5)


def test_to_networkx(readme_frame):
    pytest.importorskip("networkx")
    g = readme_frame.to_networkx()
    assert g.number_of_nodes() == 5
    assert g.number_of_edges() == 5
    assert g.nodes[0]["color"] == "red"


def test_torch_geometric_arrays(readme_frame):
    """The torch-free half of to_torch_geometric (VERDICT r12 missing
    §1): positional edge index in node-id order, undirected doubling,
    zero-filled numeric feature matrix, edge weights — everything up
    to the tensor boundary, asserted on the README fixture."""
    import numpy as np

    from networkframe_spark.exports import torch_geometric_arrays

    ei, x, w, ids = torch_geometric_arrays(
        readme_frame, directed=True, weight_col="weight"
    )
    assert ids == [0, 1, 2, 3, 4]
    assert ei.shape == (2, 5) and ei.dtype == np.int64
    pairs = list(zip(ei[0].tolist(), ei[1].tolist()))
    assert set(pairs) == {(0, 1), (1, 2), (2, 3), (2, 1), (3, 0)}
    # feature matrix: only the numeric node column (id is the index)
    assert x.shape[0] == 5 and x.dtype == np.float32
    assert w is not None and w.tolist() == [
        float(dict((p, wt) for p, wt in zip(pairs, w.tolist()))[p])
        for p in pairs
    ]
    # undirected: edges double, weights double, reverse pairs present
    ei2, _, w2, _ = torch_geometric_arrays(
        readme_frame, directed=False, weight_col="weight"
    )
    assert ei2.shape == (2, 10) and len(w2) == 10
    rev = set(zip(ei2[0].tolist(), ei2[1].tolist()))
    assert {(1, 0), (2, 1), (3, 2), (0, 3)} <= rev


def test_aggregated_edges_callable(readme_frame):
    """Arbitrary python aggfunc per (source, target) group (reference
    networkframe.py:501, 595) via applyInPandas."""
    out = {
        (r["source"], r["target"]): r["weight"]
        for r in readme_frame.aggregated_edges(
            weight_col="weight", aggfunc=lambda s: s.max() - s.min()
        ).collect()
    }
    assert out[(0, 1)] == 0.0  # single edge
    assert all(v >= 0 for v in out.values())


def test_k_hop_aggregation_callable(letter_frame):
    """Arbitrary pandas callable over neighborhoods (reference
    networkframe.py:1352-1355) via applyInPandas; must agree with the
    JVM-side built-in on the same data."""
    import math

    def span(s):
        return s.max() - s.min()

    out = {
        r["id"]: r["size_neighbor_span"]
        for r in letter_frame.k_hop_aggregation(
            1, aggregations=[span], directed=False
        ).collect()
    }
    builtin_max = {
        r["id"]: (r["size_neighbor_max"], r["size_neighbor_min"])
        for r in letter_frame.k_hop_aggregation(
            1, aggregations=["max", "min"], directed=False
        ).collect()
    }
    for node, got in out.items():
        mx, mn = builtin_max[node]
        want = None if mx is None else float(mx - mn)
        assert (got is None and want is None) or math.isclose(got, want), node


def test_hop_distances(spark):
    """BFS hop distances on a path-with-branch graph: exact hand
    distances, unreachable nodes absent (reference semantics:
    networkframe.py:962-998 keeps only finite scipy distances)."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    # 0-1-2-3 path, 1-4 branch; 5 isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 4)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: r["dist"] for r in nf.hop_distances(0, directed=False).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 4: 2, 3: 3}
    # directed: only forward edges
    got_d = {r["id"]: r["dist"] for r in nf.hop_distances(2, directed=True).collect()}
    assert got_d == {2: 0, 3: 1}
    # max_hops truncation
    got_h = {r["id"]: r["dist"] for r in nf.hop_distances(0, directed=False, max_hops=1).collect()}
    assert got_h == {0: 0, 1: 1}


def test_hop_distances_distributed_path(spark, monkeypatch):
    """Force the frontier-loop path (guard at 0) and require identical
    answers to the driver-local BFS on both orientations, including the
    two-wave anti-join optimization for undirected and the cumulative
    visited set for directed (a directed back-edge to an old wave must
    not resurrect it).  Every operator built on the shared BFS kernel —
    k-hop pairs, k-hop neighborhood, single-source component and
    multi-source distances — is checked against hand values on both
    orientations, with the guard forced to 0 and left at its default."""
    from networkframe_spark import NetworkFrame, algorithms

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # 0->1->2->3->4 path, branch 1->5, back-edge 4->0 (old wave),
    # cross 5->3; 6,7 isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5), (4, 0), (5, 3)],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    for directed in (True, False):
        local = {
            r["id"]: r["dist"]
            for r in nf.hop_distances(0, directed=directed).collect()
        }
        monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
        dist = {
            r["id"]: r["dist"]
            for r in nf.hop_distances(0, directed=directed).collect()
        }
        monkeypatch.undo()
        assert dist == local, directed
    # sanity on the actual values (directed)
    monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
    got = {r["id"]: r["dist"] for r in nf.hop_distances(0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 5: 2, 3: 3, 4: 4}
    monkeypatch.undo()

    everyone = set(range(6))
    want = {
        True: {
            "pairs2": {
                0: {1, 2, 5}, 1: {2, 3, 5}, 2: {3, 4},
                3: {0, 4}, 4: {0, 1}, 5: {3, 4},
            },
            "hood1": {0, 1},
            "hood2": {0, 1, 2, 5},
            "from0": {0: 0, 1: 1, 2: 2, 5: 2, 3: 3, 4: 4},
            "from5": {5: 0, 3: 1, 4: 2, 0: 3, 1: 4, 2: 5},
        },
        False: {
            # every node of 0..5 is within 2 undirected hops of the rest
            "pairs2": {v: everyone - {v} for v in everyone},
            "hood1": {0, 1, 4},
            "hood2": everyone,
            "from0": {0: 0, 1: 1, 4: 1, 2: 2, 3: 2, 5: 2},
            "from5": {5: 0, 1: 1, 3: 1, 0: 2, 2: 2, 4: 2},
        },
    }
    for guard in (None, 0):
        if guard is not None:
            monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", guard)
        for directed in (True, False):
            w, tag = want[directed], (guard, directed)
            pairs = {}
            for r in nf.k_hop_pairs(2, directed=directed).collect():
                pairs.setdefault(r["node"], set()).add(r["neighbor"])
            assert pairs == w["pairs2"], tag
            for k in (1, 2):
                hood = nf.k_hop_neighborhood(0, k, directed=directed)
                assert set(ids(hood.nodes)) == w[f"hood{k}"], (tag, k)
            comp = nf.select_component_from_node(0, directed=directed)
            assert set(ids(comp.nodes)) == everyone, tag
            assert comp.edges.count() == 7, tag
            alone = nf.select_component_from_node(6, directed=directed)
            assert ids(alone.nodes) == [6] and alone.edges.count() == 0, tag
            multi = {
                (r["seed"], r["id"]): r["dist"]
                for r in algorithms.multi_source_hop_distances(
                    nf, [0, 5], directed=directed
                ).collect()
            }
            assert multi == {
                **{(0, v): d for v, d in w["from0"].items()},
                **{(5, v): d for v, d in w["from5"].items()},
            }, tag
        monkeypatch.undo()


def test_k_core(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle
    (chain peels over two rounds — exercises the cascade)."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    # triangle 0-1-2, chain 2-3-4, isolated 5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: r["core_degree"] for r in nf.k_core(2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    assert nf.k_core(3).count() == 0


def test_link_prediction(spark):
    """Hand-computed Adamic-Adar / Jaccard on a 5-node graph."""
    import math

    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    # 0 and 1 share neighbors {2, 3}; 0-1 NOT adjacent.
    # deg: 2 -> {0,1,4} = 3, 3 -> {0,1} = 2
    edges = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 2), (1, 3), (2, 4)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    rows = {
        (r["source"], r["candidate"]): r
        for r in nf.link_prediction(min_common=2).collect()
    }
    # (0,1) share {2,3}; (2,3) share {0,1} — both non-adjacent
    assert set(rows) == {(0, 1), (2, 3)}
    r01 = rows[(0, 1)]
    assert r01["n_common"] == 2
    # jaccard = 2 / (2 + 2 - 2) = 1.0
    assert r01["jaccard"] == 1.0
    want_aa = round(1 / math.log(3) + 1 / math.log(2), 6)
    assert abs(r01["adamic_adar"] - want_aa) < 1e-9
    r23 = rows[(2, 3)]
    # jaccard = 2 / (3 + 2 - 2) = 2/3; aa = 2/ln(2)
    assert r23["jaccard"] == round(2 / 3, 6)
    assert abs(r23["adamic_adar"] - round(2 / math.log(2), 6)) < 1e-9
    # hub cap: center 2 (deg 3) is dropped, so (0,1) only counts its
    # wedge through center 3 — n_common falls from 2 to 1
    capped = {
        (r["source"], r["candidate"]): r["n_common"]
        for r in nf.link_prediction(min_common=1, max_hub_degree=2).collect()
    }
    assert capped[(0, 1)] == 1


def test_pagerank_personalized(spark):
    """Restart mass concentrates on the seed; nodes unreachable from
    the seed set get exactly zero rank."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # 0 -> 1 -> 2 ; 3 disconnected
    edges = spark.createDataFrame([(0, 1), (1, 2)], "source long, target long")
    nf = NetworkFrame(nodes, edges)
    pr = {r["id"]: r["pagerank"] for r in nf.pagerank(n_iter=5, personalize=[0]).collect()}
    assert pr[3] == 0.0          # unreachable from seeds
    assert pr[0] == 0.15         # seed keeps only restart mass (no in-edges)
    assert pr[1] > pr[2] > 0.0   # mass decays along the chain
    # uniform pagerank differs: node 3 gets base mass
    pu = {r["id"]: r["pagerank"] for r in nf.pagerank(n_iter=5).collect()}
    assert pu[3] > 0.0


def test_pagerank_personalize_duplicates_collapse_and_empty_raises(spark):
    """A repeated seed is one seed: ``personalize=[s, s]`` gives the
    ranks of ``personalize=[s]`` (not half of them), and an empty seed
    list raises ValueError like the batch's empty seed list.  A seed
    absent from the node table is ignored, as in the batch:
    ``[s, 999]`` gives the ranks of ``[s]`` and of
    ``pagerank_personalized_batch`` for ``s``; no present seed raises."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.algorithms import pagerank_personalized_batch

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)

    def ranks(seeds):
        return {
            r["id"]: r["pagerank"]
            for r in nf.pagerank(n_iter=5, personalize=seeds).collect()
        }

    one = ranks([0])
    assert ranks([0, 0]) == one
    with pytest.raises(ValueError):
        nf.pagerank(personalize=[])
    assert ranks([0, 999]) == one
    batch = pagerank_personalized_batch(nf, [0], n_iter=5).collect()
    assert {r["id"]: r["pagerank"] for r in batch} == {
        i: p for i, p in one.items() if p > 0
    }
    with pytest.raises(ValueError):
        nf.pagerank(personalize=[998, 999])


def test_local_clustering(spark):
    """Triangle+pendant: triangle corners have clustering 1 (deg 2,
    1 triangle); the junction node 2 has deg 3 -> 1/3; leaves 0."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: (r["triangles"], r["clustering"]) for r in nf.local_clustering().collect()}
    assert got[0] == (1, 1.0)
    assert got[1] == (1, 1.0)
    assert got[2] == (1, round(1 / 3, 6))
    assert got[3] == (0, 0.0)
    assert got[4] == (0, 0.0)


def test_shortest_paths_weighted(spark):
    """Weighted SSSP must prefer a cheap 2-hop route over an expensive
    direct edge, honor directionality, and bound rounds."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [
            (0, 1, 10.0),  # direct but expensive
            (0, 2, 1.0),
            (2, 1, 2.0),   # 0->2->1 = 3.0 beats 10.0
            (1, 3, 1.0),
            (3, 0, 1.0),   # back edge
        ],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    got = {r["id"]: r["dist"] for r in nf.shortest_paths(0).collect()}
    assert got == {0: 0.0, 2: 1.0, 1: 3.0, 3: 4.0}  # 4 unreachable
    # undirected: the back edge opens 0-3 directly
    got_u = {
        r["id"]: r["dist"]
        for r in nf.shortest_paths(0, directed=False).collect()
    }
    assert got_u[3] == 1.0 and got_u[1] == 2.0  # 0-3-1 via reversed edges
    # round bound: one relaxation can't see the 2-hop shortcut
    got_1 = {
        r["id"]: r["dist"] for r in nf.shortest_paths(0, max_rounds=1).collect()
    }
    assert got_1[1] == 10.0 and got_1[2] == 1.0


def test_shortest_paths_parallel_edges_take_min(spark):
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame(
        [(0, 1, 5.0), (0, 1, 2.0)], "source long, target long, weight double"
    )
    got = {
        r["id"]: r["dist"]
        for r in NetworkFrame(nodes, edges).shortest_paths(0).collect()
    }
    assert got == {0: 0.0, 1: 2.0}


def test_label_propagation_cliques_and_isolated(spark):
    """Two disjoint triangles collapse to their min id; an isolated
    node keeps its own label; a bridge node follows the majority."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [
            (0, 1), (1, 2), (0, 2),        # triangle A
            (3, 4), (4, 5), (3, 5),        # triangle B
            (5, 6), (4, 6),                # 6 hangs off B (majority B)
        ],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    got = {
        r["id"]: r["community"] for r in nf.label_propagation(n_iter=4).collect()
    }
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == got[4] == got[5] == got[6] == 3
    assert got[7] == 7  # isolated


def test_label_propagation_deterministic(spark):
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(20)], "id long")
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(20) if i != (i * 7 + 3) % 20],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    a = sorted(
        (r["id"], r["community"]) for r in nf.label_propagation(n_iter=3).collect()
    )
    b = sorted(
        (r["id"], r["community"]) for r in nf.label_propagation(n_iter=3).collect()
    )
    assert a == b


def test_shortest_paths_distributed_matches_local(spark, monkeypatch):
    from networkframe_spark import NetworkFrame, algorithms

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [
            (0, 1, 4.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 7.0),
            (2, 3, 8.0), (3, 4, 1.0), (4, 5, 1.0), (0, 5, 100.0),
        ],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    for directed in (True, False):
        local = sorted(
            (r["id"], r["dist"])
            for r in nf.shortest_paths(0, directed=directed).collect()
        )
        monkeypatch.setattr(algorithms, "_LOCAL_MAX_ROWS", 0)
        dist = sorted(
            (r["id"], r["dist"])
            for r in nf.shortest_paths(0, directed=directed).collect()
        )
        monkeypatch.undo()
        assert dist == local, directed


def test_label_propagation_string_ids(spark):
    """String node ids must work (the tie-break negates the COUNT, not
    the label): a 3-clique of letters collapses to its min letter."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([("A",), ("B",), ("C",), ("Z",)], "id string")
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C")], "source string, target string"
    )
    got = {
        r["id"]: r["community"]
        for r in NetworkFrame(nodes, edges).label_propagation(n_iter=3).collect()
    }
    assert got["A"] == got["B"] == got["C"] == "A"
    assert got["Z"] == "Z"


def test_hits_letter_graph(spark, letter_frame):
    """A->B, A->C, B->C, C->D: A is the strongest hub (points at the
    strongest authority C twice-removed), C the strongest authority;
    A has no in-edges (authority 0), D no out-edges (hub 0); each
    score vector is L1-normalized."""
    got = {r["id"]: (r["hub"], r["authority"]) for r in letter_frame.hits(n_iter=3).collect()}
    assert got["A"][1] == 0.0 and got["D"][0] == 0.0
    hubs = {k: v[0] for k, v in got.items()}
    auths = {k: v[1] for k, v in got.items()}
    assert max(hubs, key=hubs.get) == "A"
    assert max(auths, key=auths.get) == "C"
    assert abs(sum(hubs.values()) - 1.0) < 1e-5
    assert abs(sum(auths.values()) - 1.0) < 1e-5


def test_harmonic_centrality_letter_graph(spark, letter_frame):
    """Undirected from seed A: d(B)=d(C)=1, d(D)=2 -> harmonic 1, 1,
    0.5; the seed itself (dist 0) collects nothing."""
    got = {
        r["id"]: r["harmonic"]
        for r in letter_frame.harmonic_centrality(["A"], directed=False).collect()
    }
    assert got == {"A": 0.0, "B": 1.0, "C": 1.0, "D": 0.5}


def test_harmonic_centrality_two_seeds(spark, letter_frame):
    """Seeds A and D: B collects 1/1 + 1/2, C collects 1/1 + 1/1."""
    got = {
        r["id"]: r["harmonic"]
        for r in letter_frame.harmonic_centrality(["A", "D"], directed=False).collect()
    }
    assert got["B"] == 1.5 and got["C"] == 2.0
    # each seed sees only the OTHER seed: d(A,D)=2 both ways
    assert got["A"] == 0.5 and got["D"] == 0.5


def test_random_walks_structure_and_determinism(spark, letter_frame):
    """Every consecutive (step t-1 -> t) hop is a real undirected
    edge; step-0 covers every (node, rep); two runs are identical."""
    rw = letter_frame.random_walks(walk_length=3, walks_per_node=2, directed=False)
    rows = sorted(
        (r["start_id"], r["rep"], r["step"], r["id"]) for r in rw.collect()
    )
    starts = {(s, rep) for s, rep, t, _ in rows if t == 0}
    assert starts == {(v, r) for v in "ABCD" for r in (0, 1)}
    und = {("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")}
    und |= {(b, a) for a, b in und}
    pos = {(s, rep, t): v for s, rep, t, v in rows}
    for (s, rep, t), v in pos.items():
        if t > 0:
            prev = pos[(s, rep, t - 1)]
            assert (prev, v) in und, (s, rep, t)
    rows2 = sorted(
        (r["start_id"], r["rep"], r["step"], r["id"])
        for r in letter_frame.random_walks(
            walk_length=3, walks_per_node=2, directed=False
        ).collect()
    )
    assert rows == rows2


def test_random_walks_stop_at_sinks(spark, letter_frame):
    """Directed walks die at D (no out-edges): no walk starting at D
    advances past step 0, and every directed hop is a forward edge."""
    rw = letter_frame.random_walks(walk_length=3, walks_per_node=1, directed=True)
    rows = [(r["start_id"], r["step"], r["id"]) for r in rw.collect()]
    assert [(s, t) for s, t, _ in rows if s == "D"] == [("D", 0)]
    fwd = {("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")}
    pos = {(s, t): v for s, t, v in rows}
    for (s, t), v in pos.items():
        if t > 0:
            assert (pos[(s, t - 1)], v) in fwd


def test_topological_levels_diamond_and_cycle(spark):
    """Diamond DAG A->B->D, A->C->D, C->E: levels follow the LONGEST
    path (D=2 despite the A->D shortcut edge); isolated node at 0; a
    cycle raises loudly."""
    import pytest as _pytest

    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame(
        [(x,) for x in "ABCDEF"], "id string"
    )
    edges = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("C", "E"), ("A", "D")],
        "source string, target string",
    )
    got = {
        r["id"]: r["level"]
        for r in NetworkFrame(nodes, edges).topological_levels().collect()
    }
    assert got == {"A": 0, "B": 1, "C": 1, "D": 2, "E": 2, "F": 0}
    # convergence boundary: depth 2 needs a third, unchanged round to
    # confirm the fixpoint
    with _pytest.raises(ValueError, match="not converged"):
        NetworkFrame(nodes, edges).topological_levels(max_rounds=2)
    at3 = {
        r["id"]: r["level"]
        for r in NetworkFrame(nodes, edges).topological_levels(max_rounds=3).collect()
    }
    assert at3 == got
    cyc = NetworkFrame(
        nodes,
        spark.createDataFrame(
            [("A", "B"), ("B", "C"), ("C", "A")], "source string, target string"
        ),
    )
    with _pytest.raises(ValueError, match="cycle"):
        cyc.topological_levels(max_rounds=8)


def test_sample_negative_edges_properties(spark, letter_frame):
    """No sampled pair is a real edge (either direction, undirected
    mode), no self-loops, at most per_node per source, and two runs
    are identical."""
    neg1 = sorted(
        map(
            tuple,
            letter_frame.sample_negative_edges(
                per_node=3, directed=False
            ).collect(),
        )
    )
    neg2 = sorted(
        map(
            tuple,
            letter_frame.sample_negative_edges(
                per_node=3, directed=False
            ).collect(),
        )
    )
    assert neg1 == neg2 and len(neg1) > 0
    und = {("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")}
    und |= {(b, a) for a, b in und}
    from collections import Counter

    per_src = Counter()
    for s, t, rep in neg1:
        assert (s, t) not in und and s != t
        assert 0 <= rep < 3
        per_src[s] += 1
    assert all(v <= 3 for v in per_src.values())
    # A-D is the only undirected non-edge on 4 nodes; it must be
    # reachable by SOME seed/rep combination here (per_node=3 probes
    # 3 of the 4 ranks per source)
    assert any((s, t) in {("A", "D"), ("D", "A")} for s, t, _ in neg1)


def test_label_propagation_weighted_votes(spark):
    """Weighted voting: parallel edges accumulate (1-2 carries 3+3=6,
    beating the single 5-weight 1-4 edge), winners follow weight sums
    not neighbor counts, isolated nodes keep their own label."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (1, 2, 3.0), (1, 4, 5.0), (2, 4, 1.0)],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    got = {
        r["id"]: r["community"]
        for r in nf.label_propagation(
            n_iter=1, directed=False, weight_col="weight"
        ).collect()
    }
    assert got == {1: 2, 2: 1, 4: 1, 3: 3}


def test_label_propagation_weighted_vs_unweighted_diverge(spark):
    """On a graph where one heavy edge opposes two light ones, the
    weighted and unweighted variants pick different communities for
    the contested node."""
    from networkframe_spark import NetworkFrame

    # node 10 has two light edges into the {1,2} side and one heavy
    # edge to 20; unweighted majority says {1,2}, weight says 20
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 10, 20)], "id long")
    edges = spark.createDataFrame(
        [(10, 1, 1.0), (10, 2, 1.0), (10, 20, 100.0), (1, 2, 1.0)],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    unw = {
        r["id"]: r["community"]
        for r in nf.label_propagation(n_iter=1, directed=False).collect()
    }
    wtd = {
        r["id"]: r["community"]
        for r in nf.label_propagation(
            n_iter=1, directed=False, weight_col="weight"
        ).collect()
    }
    assert unw[10] == 1  # two votes from {1,2} side + tie-break
    assert wtd[10] == 20  # the heavy edge dominates


def test_node2vec_walks_match_reference_simulation(spark):
    """The distributed biased walk reproduces, row for row, an
    independent pure-Python simulation of the node2vec rule (counter
    hash, integer quarter-unit weights, cumulative-weight inversion)
    on a 6-node undirected graph — for a biased (p=2, q=0.5) and the
    uniform (p=q=1) setting."""
    from networkframe_spark import NetworkFrame

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 5), (2, 5)]
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edf = spark.createDataFrame(edges, "source long, target long")
    nf = NetworkFrame(nodes, edf)

    und = {}
    for a, b in edges:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    P = 1000003

    def simulate(p4, q4, walk_length, walks_per_node):
        w_ret, w_nbr, w_out = 4 * q4, p4 * q4, 4 * p4
        rows = []
        for start in range(6):
            for rep in range(walks_per_node):
                prev, cur = start, start
                rows.append((start, rep, 0, start))
                for t in range(1, walk_length + 1):
                    cands = sorted(und[cur])
                    wts = [
                        w_ret
                        if x == prev
                        else w_nbr
                        if x in und[prev]
                        else w_out
                        for x in cands
                    ]
                    h = (
                        (start % P) * 1315423911 + rep * 2654435761 + t * 97
                    ) % P
                    r = h % sum(wts)
                    cum = 0
                    for x, wt in zip(cands, wts):
                        cum += wt
                        if r < cum:
                            nxt = x
                            break
                    prev, cur = cur, nxt
                    rows.append((start, rep, t, cur))
        return sorted(rows)

    for p, q, p4, q4 in [(2.0, 0.5, 8, 2), (1.0, 1.0, 4, 4)]:
        got = sorted(
            (r["start_id"], r["rep"], r["step"], r["id"])
            for r in nf.node2vec_walks(
                walk_length=4, walks_per_node=2, p=p, q=q, directed=False
            ).collect()
        )
        assert got == simulate(p4, q4, 4, 2), (p, q)


def test_node2vec_walks_rejects_non_quarter_pq(spark, letter_frame):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="0.25"):
        letter_frame.node2vec_walks(p=0.3)


def test_betweenness_single_seed_hand_computed(spark, letter_frame):
    """Undirected seed A on A-B, A-C, B-C, C-D: the BFS DAG from A has
    C as the sole gateway to D -> delta(C) = 1, everything else 0."""
    got = {
        r["id"]: r["betweenness"]
        for r in letter_frame.betweenness_approx(["A"], directed=False).collect()
    }
    assert got == {"A": 0.0, "B": 0.0, "C": 1.0, "D": 0.0}


def test_betweenness_path_graph_all_seeds(spark):
    """Path 1-2-3-4-5, all nodes as seeds: raw Brandes accumulation
    (both directions counted) gives interior scores 2*(k)(n-1-k):
    node 2 -> 6, node 3 -> 8."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {
        r["id"]: r["betweenness"]
        for r in nf.betweenness_approx(
            [1, 2, 3, 4, 5], directed=False, max_hops=4
        ).collect()
    }
    assert got == {1: 0.0, 2: 6.0, 3: 8.0, 4: 6.0, 5: 0.0}


def test_community_quality_two_cliques_bridge(spark):
    """Two triangles joined by one bridge edge: each community has 3
    internal edges, volume 7, cut 1; modularity matches Newman's
    closed form sum_c (e_c/m - (vol_c/2m)^2) = 2*(3/7 - (7/14)^2)."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "source long, target long",
    )
    labels = spark.createDataFrame(
        [(i, i // 3) for i in range(6)], "id long, community long"
    )
    nf = NetworkFrame(nodes, edges)
    got = {
        r["community"]: r
        for r in nf.community_quality(labels).collect()
    }
    for c in (0, 1):
        assert got[c]["n_nodes"] == 3
        assert got[c]["internal_edges"] == 3
        assert got[c]["volume"] == 7
        assert got[c]["cut_edges"] == 1
        assert got[c]["conductance"] == round(1 / 7, 6)
    q = sum(r["modularity_part"] for r in got.values())
    assert abs(q - 2 * (3 / 7 - 0.25)) < 1e-5


def test_community_quality_single_community(spark, letter_frame):
    """All nodes in one community: no cuts, conductance 0, and the
    modularity of the trivial partition is 1/m - 1 + ... = 1 - 1 = 0
    by construction (internal = m, volume = 2m)."""
    labels = letter_frame.nodes.select(
        "id", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(0).alias("community")
    )
    rows = letter_frame.community_quality(labels).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cut_edges"] == 0 and r["conductance"] == 0.0
    assert abs(r["modularity_part"] - 0.0) < 1e-9


def test_betweenness_directed_path(spark):
    """Directed path 1->2->3->4, all seeds: node 2 carries pairs
    (1,3),(1,4) and node 3 carries (1,4),(2,4) -> both score 2."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "source long, target long"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in NetworkFrame(nodes, edges)
        .betweenness_approx([1, 2, 3, 4], directed=True, max_hops=3)
        .collect()
    }
    assert got == {1: 0.0, 2: 2.0, 3: 2.0, 4: 0.0}


def test_neighbor_sample_fanout_and_determinism(spark, letter_frame):
    """fanout=1 keeps exactly one out-edge per frontier node per hop;
    two runs identical; different seed may differ but stays valid."""
    s1 = letter_frame.neighbor_sample(["A"], fanouts=[1, 1], directed=True)
    rows = sorted((r["hop"], r["source"], r["target"]) for r in s1.collect())
    # hop 1: exactly one of A->B / A->C
    hop1 = [r for r in rows if r[0] == 1]
    assert len(hop1) == 1 and hop1[0][1] == "A"
    fwd = {("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")}
    assert all((s, t) in fwd for _, s, t in rows)
    again = sorted(
        (r["hop"], r["source"], r["target"])
        for r in letter_frame.neighbor_sample(
            ["A"], fanouts=[1, 1], directed=True
        ).collect()
    )
    assert rows == again
    # generous fanout keeps the full frontier expansion
    full = sorted(
        (r["hop"], r["source"], r["target"])
        for r in letter_frame.neighbor_sample(
            ["A"], fanouts=[10, 10], directed=True
        ).collect()
    )
    assert [(h, s, t) for h, s, t in full if h == 1] == [
        (1, "A", "B"), (1, "A", "C"),
    ]
    assert {(s, t) for h, s, t in full if h == 2} == {("B", "C"), ("C", "D")}


def test_degree_distribution_modes(spark, letter_frame):
    """A->B, A->C, B->C, C->D: out degrees {A:2,B:1,C:1,D:0}; und
    degrees {A:2,B:2,C:3,D:1}."""
    out = {
        r["degree"]: r["n_nodes"]
        for r in letter_frame.degree_distribution("out").collect()
    }
    assert out == {0: 1, 1: 2, 2: 1}
    und = {
        r["degree"]: r["n_nodes"]
        for r in letter_frame.degree_distribution("und").collect()
    }
    assert und == {1: 1, 2: 2, 3: 1}


def test_bipartite_project_shared_counts(spark):
    """Bipartite u1,u2,u3 -> items: u1:{x,y}, u2:{x,y}, u3:{y}.
    Source projection: (u1,u2) share 2, (u1,u3) and (u2,u3) share 1
    via y; target projection: (x,y) share 2 (u1 and u2)."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",), ("x",), ("y",)], "id string"
    )
    edges = spark.createDataFrame(
        [("u1", "x"), ("u1", "y"), ("u2", "x"), ("u2", "y"), ("u3", "y")],
        "source string, target string",
    )
    nf = NetworkFrame(nodes, edges)
    src_proj = {
        (r["a"], r["b"]): r["n_shared"]
        for r in nf.bipartite_project(side="source").collect()
    }
    assert src_proj == {("u1", "u2"): 2, ("u1", "u3"): 1, ("u2", "u3"): 1}
    tgt_proj = {
        (r["a"], r["b"]): r["n_shared"]
        for r in nf.bipartite_project(side="target").collect()
    }
    assert tgt_proj == {("x", "y"): 2}
    # capping at degree 1 drops both shared users for (x,y)... x has
    # deg 2, y deg 3 as SHARED side in source projection: cap 2 keeps
    # only x -> (u1,u2) survives via x alone
    capped = {
        (r["a"], r["b"]): r["n_shared"]
        for r in nf.bipartite_project(side="source", max_hub_degree=2).collect()
    }
    assert capped == {("u1", "u2"): 1}


def test_attribute_mixing_and_assortativity(spark, letter_frame):
    """letter_frame colors: A,D red; B,C blue.  Directed edges A->B,
    A->C, B->C, C->D give mixing counts red->blue 2, blue->blue 1,
    blue->red 1; Newman r = (m*T - S)/(m^2 - S) with T=1,
    S = rowsums x colsums matched on value."""
    mix = {
        (r["attr_a"], r["attr_b"]): (r["n_edges"], r["fraction"])
        for r in letter_frame.attribute_mixing("color").collect()
    }
    assert mix == {
        ("red", "blue"): (2, 0.5),
        ("blue", "blue"): (1, 0.25),
        ("blue", "red"): (1, 0.25),
    }
    # rowsums: red 2, blue 2; colsums: blue 3, red 1 -> S = 2*1 + 2*3 = 8
    # r = (4*1 - 8) / (16 - 8) = -0.5
    got = letter_frame.attribute_assortativity("color").collect()[0]
    assert got["n_edges"] == 4 and got["assortativity"] == -0.5


def test_attribute_assortativity_perfect_homophily(spark):
    """Two same-attribute cliques, no cross edges: r = 1."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame(
        [(i, "g" + str(i // 2)) for i in range(4)], "id long, grp string"
    )
    edges = spark.createDataFrame(
        [(0, 1), (2, 3)], "source long, target long"
    )
    got = NetworkFrame(nodes, edges).attribute_assortativity("grp").collect()[0]
    assert got["assortativity"] == 1.0


def test_dedup_corpus_exact_and_fuzzy(spark):
    """Three identical docs + one unique: exact mode keeps 2 rows;
    lsh mode folds the identical run the same way."""
    from networkframe_spark.functions.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(i, "same text body here with several words " * 3) for i in range(3)]
        + [(9, "a completely different document about other things entirely")],
        "doc_id long, text string",
    )
    exact = dedup_corpus(docs, method="exact")
    kept = sorted(r["doc_id"] for r in exact.collect())
    assert kept == [0, 9]
    fuzzy = dedup_corpus(docs, method="minhash_lsh", threshold=0.5)
    keptf = sorted(r["doc_id"] for r in fuzzy.collect())
    assert keptf == [0, 9]
    assert {r["doc_id"]: r["cluster_id"] for r in fuzzy.collect()}[0] == 0


def test_maximal_independent_set_matches_greedy(spark):
    """Luby with fixed md5 priorities equals the sequential greedy
    MIS over the priority order (the lexicographically-first MIS);
    the result is independent AND maximal on a random-ish graph."""
    import hashlib

    from networkframe_spark import NetworkFrame

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    # deterministic pseudo-random graph incl. an isolated node (39)
    raw = [
        (i, (i * 7 + j * 13) % (n - 1))
        for i in range(n - 1)
        for j in range(3)
    ]
    edge_rows = [(s, t) for s, t in raw if s != t]
    edges = spark.createDataFrame(edge_rows, "source long, target long")
    nf = NetworkFrame(nodes, edges)
    got = {
        r["id"]: r["in_mis"]
        for r in nf.maximal_independent_set(seed=42).collect()
    }
    assert set(got) == set(range(n))

    adj = {i: set() for i in range(n)}
    for s, t in edge_rows:
        adj[s].add(t)
        adj[t].add(s)
    # sequential greedy over md5 priority order
    prio = {
        i: hashlib.md5(f"42:{i}".encode()).hexdigest() for i in range(n)
    }
    mis = set()
    for v in sorted(range(n), key=lambda i: prio[i]):
        if not (adj[v] & mis):
            mis.add(v)
    assert {v for v, f in got.items() if f} == mis
    # independence + maximality
    for s, t in edge_rows:
        assert not (got[s] and got[t])
    for v in range(n):
        if not got[v]:
            assert any(got[u] for u in adj[v])
    assert got[39]  # isolated node always selected


def test_maximal_independent_set_raises_without_convergence(spark):
    """A path chained in increasing priority order needs one round
    per alternate node — max_rounds=1 must fail loudly."""
    import hashlib

    from networkframe_spark import NetworkFrame

    order = sorted(
        range(6),
        key=lambda i: hashlib.md5(f"42:{i}".encode()).hexdigest(),
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(order[i], order[i + 1]) for i in range(5)],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    try:
        nf.maximal_independent_set(max_rounds=1, seed=42)
        assert False, "expected ValueError"
    except ValueError as e:
        assert "did not decide" in str(e)


def test_maximal_independent_set_symmetrizes_directed_edges(spark):
    """Regression (round-8 advice): with directed=True and edge u->v
    where priority(u) < priority(v), source-side-only blocking let
    BOTH endpoints win the same round.  Independence ignores edge
    direction, so the adjacency must be symmetrized regardless of the
    flag: exactly one endpoint of every edge may be selected."""
    from networkframe_spark import NetworkFrame

    # md5("42:1") < md5("42:0"), so the edge 1 -> 0 is exactly the
    # failing shape: priority(source) < priority(target)
    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(1, 0)], "source long, target long")
    nf = NetworkFrame(nodes, edges)
    got = {
        r["id"]: r["in_mis"]
        for r in nf.maximal_independent_set(directed=True, seed=42).collect()
    }
    assert got == {1: True, 0: False}  # not both True
    # and identical to the undirected call — direction never matters
    und = {
        r["id"]: r["in_mis"]
        for r in nf.maximal_independent_set(directed=False, seed=42).collect()
    }
    assert got == und


def test_connected_components_guard_raises_on_too_many(spark):
    """The component iterator enumerates component ids driver-side, so
    it is size-guarded: more components than max_components raises
    loudly with a pointer to the distributed labeling."""
    import pytest

    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    with pytest.raises(ValueError, match="label_nodes_by_component"):
        list(nf.connected_components(max_components=2))
    # at the cap it still works
    assert len(list(nf.connected_components(max_components=3))) == 3


def test_modularity_refine_moves_mislabeled_bridge_node(spark):
    """Two triangles joined by a bridge, node 2 mislabeled into the
    far community: the exact-integer gain test (hand-computed
    gain = 2m(k_vb - k_va) - deg(vol_b - vol_a + deg) = 23 > 0)
    moves it home and nothing else moves; Q strictly increases."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.algorithms import modularity_refine

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "source long, target long",
    )
    nf = NetworkFrame(nodes, edges)
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 3), (3, 3), (4, 3), (5, 3)],
        "id long, community long",
    )
    got = {
        r["id"]: r["community"]
        for r in modularity_refine(nf, labels).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_modularity_refine_never_decreases_q(spark):
    """On a pseudo-random graph with an adversarial (id % 3) initial
    partition, refined modularity (exact community_quality sum) is
    >= the input partition's, and already-converged input is a
    fixed point."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.algorithms import (
        community_quality,
        modularity_refine,
    )
    from pyspark.sql import functions as F

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    rows = [
        (i, (i * 11 + j * 17) % n) for i in range(n) for j in range(3)
    ]
    edges = spark.createDataFrame(
        [(s, t) for s, t in rows if s != t], "source long, target long"
    )
    nf = NetworkFrame(nodes, edges)
    bad = nodes.select("id", (F.col("id") % 3).alias("community"))

    def q(lab):
        return (
            community_quality(nf, lab)
            .agg(F.sum("modularity_part").alias("q"))
            .first()["q"]
        )

    ref = modularity_refine(nf, bad, n_rounds=2)
    assert q(ref) >= q(bad)
    # fixed point: refining the refinement changes nothing further
    again = modularity_refine(nf, ref, n_rounds=1)
    assert ref.exceptAll(again).isEmpty() and again.exceptAll(ref).isEmpty()
    with pytest.raises(ValueError):
        modularity_refine(nf, bad, n_rounds=0)


@pytest.mark.parametrize("weight_col", [None, "weight"])
def test_pagerank_personalized_batch_equals_per_seed_calls(spark, weight_col):
    """The batched multi-seed PPR equals k independent
    pagerank(personalize=[s]) runs filtered to rank > 0 — same ids,
    bit-identical ranks — and seeds absent from the graph are
    ignored; unweighted and weighted shares alike."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.algorithms import pagerank_personalized_batch

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [
            (i, (i * 5 + j * 3 + 1) % n, 0.5 + ((i * 7 + j) % 5) * 0.25)
            for i in range(n)
            for j in range(2)
            if i != (i * 5 + j * 3 + 1) % n
        ],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    seeds = [0, 7, 13]
    got = {
        (r["seed"], r["id"]): r["pagerank"]
        for r in pagerank_personalized_batch(
            nf, seeds + [999], n_iter=4, weight_col=weight_col
        ).collect()  # 999 not a node: ignored
    }
    want = {}
    for s in seeds:
        for r in nf.pagerank(
            personalize=[s], n_iter=4, weight_col=weight_col
        ).collect():
            if r["pagerank"] > 0:
                want[(s, r["id"])] = r["pagerank"]
    assert got == want and len(want) > 3 * 5  # non-trivial spread


# ---------------------------------------------------------------------------
# round 8: full multi-level Louvain
# ---------------------------------------------------------------------------
def _three_clique_frame(spark):
    from networkframe_spark import NetworkFrame

    edges = []
    for base in (0, 10, 20):
        edges += [
            (base + i, base + j) for i in range(5) for j in range(i + 1, 5)
        ]
    edges += [(4, 10), (14, 20)]
    nodes = spark.createDataFrame(
        [(i,) for b in (0, 10, 20) for i in range(b, b + 5)], "id long"
    )
    e = spark.createDataFrame(edges, "source long, target long")
    return NetworkFrame(nodes, e)


def test_louvain_recovers_planted_cliques(spark):
    nf = _three_clique_frame(spark)
    out = nf.louvain_communities(n_levels=2, n_rounds=2)
    groups = {}
    for r in out.collect():
        groups.setdefault(r["community"], set()).add(r["id"])
    assert sorted(map(frozenset, groups.values()), key=min) == [
        frozenset(range(0, 5)),
        frozenset(range(10, 15)),
        frozenset(range(20, 25)),
    ]


def test_louvain_modularity_not_below_singleton_and_refine(spark):
    """Q(louvain) >= Q(singleton) by construction; on the planted
    graph the full two-level pipeline must also reach at least the
    single-phase refine's modularity from the same singleton start."""
    from networkframe_spark.algorithms import community_quality
    import pyspark.sql.functions as F

    nf = _three_clique_frame(spark)

    def modularity(labels):
        rep = community_quality(nf, labels, label_col="community")
        return rep.agg(F.sum("modularity_part")).collect()[0][0]

    singles = nf.nodes.select("id", F.col("id").alias("community"))
    q_single = modularity(singles)
    q_refine = modularity(nf.modularity_refine(singles, n_rounds=2))
    q_louvain = modularity(nf.louvain_communities(n_levels=2, n_rounds=2))
    assert q_louvain >= q_single
    assert q_louvain >= q_refine - 1e-12
    assert q_louvain > 0.5  # planted cliques: strong structure found


def test_louvain_isolated_nodes_stay_singleton(spark):
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "source long, target long"
    )
    out = {
        r["id"]: r["community"]
        for r in NetworkFrame(nodes, edges)
        .louvain_communities(n_levels=2, n_rounds=2)
        .collect()
    }
    # 3,4,5 are isolated: their community is themselves
    assert out[3] == 3 and out[4] == 4 and out[5] == 5
    # the triangle collapses to one community
    assert out[0] == out[1] == out[2]


@pytest.mark.parametrize("algo", ["louvain_communities", "leiden_communities"])
def test_louvain_deterministic_and_validates(spark, algo):
    nf = _three_clique_frame(spark)
    run = getattr(nf, algo)
    a = sorted(map(tuple, run(2, 2).collect()))
    b = sorted(map(tuple, run(2, 2).collect()))
    assert a == b
    with pytest.raises(ValueError):
        run(n_levels=0)
    with pytest.raises(ValueError):
        run(n_rounds=0)


@pytest.mark.parametrize("algo", ["louvain_communities", "leiden_communities"])
def test_louvain_weighted_weights_steer_merges(spark, algo):
    """Two heavy triangles {0,1,2} and {3,4,5} (weight 10) joined by a
    light complete bipartite mesh (weight 0.1): by edge COUNT the
    graph is near-complete (unweighted Louvain sees little structure),
    but by weight the triangles dominate — weighted Louvain (and Leiden,
    which runs the same levels) must recover exactly the two heavy
    cliques."""
    from networkframe_spark import NetworkFrame

    heavy = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)]
    light = [(a, b) for a in range(3) for b in range(3, 6)]
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(a, b, 10.0) for a, b in heavy] + [(a, b, 0.1) for a, b in light],
        "source long, target long, weight double",
    )
    nf = NetworkFrame(nodes, edges)
    wgt = {r["id"]: r["community"]
           for r in getattr(nf, algo)(2, 4, weight_col="weight").collect()}
    assert wgt[0] == wgt[1] == wgt[2]
    assert wgt[3] == wgt[4] == wgt[5]
    assert wgt[0] != wgt[3]


def _bridge_gadget_frame(spark, bases=(0, 10)):
    """Per base b: nodes b..b+3, edges (b,b+1),(b+1,b+2),(b+1,b+3) —
    the textbook Louvain-defect gadget: in round 1 nodes b+2 and b+3
    join b+1's community while b+1 itself leaves for b, stranding
    {b+2, b+3} as a community with no internal edge."""
    from networkframe_spark import NetworkFrame
    import pyspark.sql.functions as F

    nodes = spark.createDataFrame(
        [(b + i,) for b in bases for i in range(4)], "id long"
    )
    edges = spark.createDataFrame(
        [
            (b + s, b + t)
            for b in bases
            for s, t in ((0, 1), (1, 2), (1, 3))
        ],
        "source long, target long",
    )
    return NetworkFrame(nodes, edges)


def _partition_sets(labels_df):
    groups = {}
    for r in labels_df.collect():
        groups.setdefault(r["community"], set()).add(r["id"])
    return groups


def _is_connected(members, edge_set):
    if len(members) <= 1:
        return True
    members = set(members)
    seen = {min(members)}
    frontier = set(seen)
    while frontier:
        nxt = {
            b
            for a in frontier
            for (x, y) in edge_set
            for b in ((y,) if x == a else (x,) if y == a else ())
            if b in members and b not in seen
        }
        seen |= nxt
        frontier = nxt
    return seen == members


def test_louvain_defect_and_leiden_connectivity(spark):
    """Plain Louvain strands {b+2, b+3} as an edgeless community on
    the bridge gadget (the documented defect); Leiden's refinement
    splits it, so every Leiden community induces a connected
    subgraph, and Q never drops."""
    import pyspark.sql.functions as F
    from networkframe_spark.algorithms import community_quality

    nf = _bridge_gadget_frame(spark)
    edge_set = {(r["source"], r["target"]) for r in nf.edges.collect()}

    louv = _partition_sets(nf.louvain_communities(n_levels=1, n_rounds=1))
    assert {2, 3} in louv.values()  # the defect is real on this graph
    assert not _is_connected({2, 3}, edge_set)

    leid = _partition_sets(nf.leiden_communities(n_levels=1, n_rounds=1))
    for members in leid.values():
        assert _is_connected(members, edge_set)

    def modularity(labels):
        rep = community_quality(nf, labels, label_col="community")
        return rep.agg(F.sum("modularity_part")).collect()[0][0]

    q_louv = modularity(nf.louvain_communities(n_levels=1, n_rounds=1))
    q_leid = modularity(nf.leiden_communities(n_levels=1, n_rounds=1))
    assert q_leid >= q_louv - 1e-12  # splitting disconnected never hurts


def test_leiden_two_levels_merges_gadgets_connected(spark):
    """Level 2 re-merges the refined singletons with their gadget —
    the final partition is one connected community per gadget."""
    nf = _bridge_gadget_frame(spark)
    leid = _partition_sets(nf.leiden_communities(n_levels=2, n_rounds=1))
    assert sorted(map(frozenset, leid.values()), key=min) == [
        frozenset({0, 1, 2, 3}),
        frozenset({10, 11, 12, 13}),
    ]


def test_leiden_matches_louvain_on_connected_communities(spark):
    """On the planted-clique graph every Louvain community is already
    connected, so refinement must be a partition no-op: Leiden and
    Louvain find the same PARTITION (Leiden canonicalizes each label
    to the min member id, so labels may differ)."""
    nf = _three_clique_frame(spark)
    a = _partition_sets(nf.louvain_communities(n_levels=2, n_rounds=2))
    b = _partition_sets(nf.leiden_communities(n_levels=2, n_rounds=2))
    assert sorted(map(frozenset, a.values()), key=min) == sorted(
        map(frozenset, b.values()), key=min
    )
    # Leiden labels are canonical min-member ids
    assert all(k == min(v) for k, v in b.items())
