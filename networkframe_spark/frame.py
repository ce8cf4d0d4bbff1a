"""NetworkFrame: a graph as a pair of Spark DataFrames.

Spark-native re-expression of the reference's core abstraction
(reference: networkframe/networkframe.py:33-99) — "a network as a pair
of DataFrames, one for nodes and one for edges".  Differences by design:

- Spark DataFrames have no index, so node IDs live in an explicit
  ``id`` column (unique); edges carry ``source`` / ``target`` columns
  referring to node IDs, same as the reference.
- Every operator is a lazy DataFrame transformation: nothing executes
  until an action.  Chains of filters/joins fuse into one physical plan
  under Catalyst (predicate pushdown, column pruning, broadcast joins,
  AQE skew handling come for free).
- ``inplace=True`` is supported for API parity by swapping the frame's
  (immutable) DataFrame references, mirroring the reference's
  copy-on-write ``_return`` (networkframe.py:101-110).
- Validation (unique IDs + edge referential integrity,
  networkframe.py:72-81) is expressed as two aggregate queries and is
  OFF by default: at 100 TB an eager integrity scan per construction is
  a full pass over the edge table.  Call ``validate()`` explicitly or
  pass ``validate=True``.

The induced-subgraph closure idiom (drop edges whose endpoints vanished,
networkframe.py:334-336) compiles to two left-semi joins against the
surviving node IDs; with AQE these become broadcast semi-joins whenever
the node side is small, which is the common shape (|N| << |E|).
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterable, Literal, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import algorithms as _alg
from . import exports as _exp
from .expr import to_sql_predicate
from .session import local_table

AxisType = Literal["source", "target", "both"]


def _as_id_df(spark: SparkSession, ids: Any, like: DataFrame) -> DataFrame:
    """Build a single-column ``id`` DataFrame from a python list/scalar or
    pass through an existing DataFrame, casting to the node-ID type.

    A python list ships as a string column through Arrow
    (:func:`~networkframe_spark.session.local_table`), so the id table
    plans as a ``LocalRelation`` with its real size: Catalyst
    broadcasts it up front and folds the cast into it, instead of AQE
    first running the scan of a statistics-less ``LogicalRDD`` and the
    ``union().distinct()`` exchange of ``loc`` as query stages of their
    own (13 jobs per ``loc`` / ``remove_nodes`` call, 8 through Arrow).
    ``str()`` of an int, str or ``None`` id is what the row path gave."""
    id_type = like.schema["id"].dataType
    if isinstance(ids, DataFrame):
        col = "id" if "id" in ids.columns else ids.columns[0]
        return ids.select(F.col(col).cast(id_type).alias("id"))
    if not isinstance(ids, (list, tuple)):
        ids = [ids]
    df = local_table(
        spark, [(None if i is None else str(i),) for i in ids], "id string"
    )
    return df.select(F.col("id").cast(id_type).alias("id"))


def closure_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Keep only edges whose both endpoints exist in ``nodes``.

    The reference's signature semantic (networkframe.py:219, 243,
    334-336): two left-semi joins; AQE turns them into broadcast
    semi-joins when the id set is small.
    """
    ids = nodes.select("id")
    return edges.join(
        ids.withColumnRenamed("id", "source"), on="source", how="left_semi"
    ).join(ids.withColumnRenamed("id", "target"), on="target", how="left_semi")


class NetworkFrame:
    """A graph represented as a pair of Spark DataFrames.

    Parameters
    ----------
    nodes : DataFrame with a unique ``id`` column plus attribute columns.
    edges : DataFrame with ``source`` and ``target`` columns (values in
        ``nodes.id``) plus attribute columns (canonically ``weight``).
        Duplicate (source, target) rows are legal (multigraph).
    directed : semantic flag; undirected graphs store each edge once and
        symmetrize on demand (reference: networkframe.py:41, 769-771).
    validate : run uniqueness/integrity checks eagerly (two Spark jobs).
    """

    def __init__(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        directed: bool = True,
        sources: Optional[DataFrame] = None,
        targets: Optional[DataFrame] = None,
        validate: bool = False,
        induced: bool = True,
    ):
        if "id" not in nodes.columns:
            raise ValueError("nodes DataFrame must have an 'id' column")
        for c in ("source", "target"):
            if c not in edges.columns:
                raise ValueError(f"edges DataFrame must have a '{c}' column")
        self._nodes = nodes
        self._edges = edges
        # closure-fusion state (SURVEY §4.2): the edge table as of the
        # last non-shrinking operation.  Node-shrinking ops
        # (query_nodes / remove_nodes) re-close from here, so a chain
        # of k filters costs one closure (2 semi-joins), not k.
        # Sound because closure(closure(E, N1), N2) == closure(E, N2)
        # whenever N2 ⊆ N1; any op that can grow the node set or that
        # replaces the edge table resets this to the current edges.
        self._raw_edges = edges
        self._directed = directed
        self._sources = sources
        self._targets = targets
        self._induced = induced
        self._n_nodes_cache: Optional[int] = None
        self._n_edges_cache: Optional[int] = None
        if validate:
            self.validate()

    # ------------------------------------------------------------------
    # basics
    # ------------------------------------------------------------------
    @property
    def nodes(self) -> DataFrame:
        return self._nodes

    @property
    def edges(self) -> DataFrame:
        return self._edges

    @property
    def directed(self) -> bool:
        return self._directed

    @property
    def spark(self) -> SparkSession:
        return self._nodes.sparkSession

    def validate(self) -> None:
        """Uniqueness of node IDs + edge referential integrity.

        Reference: networkframe.py:72-81 (an O(E) membership scan the
        author flags "very very slow"); here two aggregate queries that
        Catalyst plans as hash aggregates / broadcast anti-joins.
        """
        dup = (
            self._nodes.groupBy("id").count().filter(F.col("count") > 1).limit(1)
        ).count()
        if dup:
            raise ValueError("Node IDs must be unique")
        ids = self._nodes.select("id")
        dangling = (
            self._edges.select(F.col("source").alias("id"))
            .union(self._edges.select(F.col("target").alias("id")))
            .distinct()
            .join(ids, on="id", how="left_anti")
            .limit(1)
        ).count()
        if dangling:
            raise ValueError("source/target values must all appear in nodes id")

    def _return(self, inplace: bool = False, **kwargs) -> Optional["NetworkFrame"]:
        """Copy-on-write return (reference: networkframe.py:101-110).

        DataFrames are immutable, so "mutation" is swapping references.
        """
        if "edges" in kwargs and "raw_edges" not in kwargs:
            kwargs["raw_edges"] = kwargs["edges"]
        if inplace:
            for k, v in kwargs.items():
                setattr(self, f"_{k}", v)
            self._n_nodes_cache = None
            self._n_edges_cache = None
            return None
        out = object.__new__(NetworkFrame)
        out.__dict__.update(self.__dict__)
        out._n_nodes_cache = None
        out._n_edges_cache = None
        for k, v in kwargs.items():
            setattr(out, f"_{k}", v)
        return out

    def _induced_subframe(
        self, ids: DataFrame, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """The subframe induced by the node ids in ``ids``: nodes
        semi-joined against them, edges closed over those nodes."""
        nodes = self._nodes.join(ids, on="id", how="left_semi")
        return self._return(inplace, nodes=nodes, edges=closure_edges(self._edges, nodes))

    def __len__(self) -> int:
        if self._n_nodes_cache is None:
            self._n_nodes_cache = self._nodes.count()
        return self._n_nodes_cache

    @property
    def n_edges(self) -> int:
        if self._n_edges_cache is None:
            self._n_edges_cache = self._edges.count()
        return self._n_edges_cache

    def __repr__(self) -> str:
        return (
            f"NetworkFrame(nodes={len(self)}x{len(self._nodes.columns)}, "
            f"edges={self.n_edges}x{len(self._edges.columns)}, "
            f"directed={self._directed})"
        )

    def persist(self, storage_level: str | None = None) -> "NetworkFrame":
        """Cache both tables (returns self).  Call before pipelines that
        consume nodes/edges repeatedly — e.g. iterative algorithms after
        a filter chain — so upstream joins/filters run once instead of
        once per downstream reuse.  Lazy, like ``DataFrame.persist``."""
        if storage_level is not None:
            from pyspark import StorageLevel

            lvl = getattr(StorageLevel, storage_level)
            self._nodes.persist(lvl)
            self._edges.persist(lvl)
        else:
            self._nodes.cache()
            self._edges.cache()
        return self

    def unpersist(self) -> "NetworkFrame":
        self._nodes.unpersist()
        self._edges.unpersist()
        return self

    def copy(self) -> "NetworkFrame":
        return self._return()

    def deepcopy(self) -> "NetworkFrame":
        # immutable DataFrames: a shallow copy is a deep copy
        return self._return()

    def get_public_attributes(self) -> dict:
        return {k.lstrip("_"): v for k, v in self.__dict__.items() if not k.endswith("_cache")}

    # ------------------------------------------------------------------
    # sources/targets bookkeeping (non-induced sub-block support,
    # reference: networkframe.py:147-177)
    # ------------------------------------------------------------------
    @property
    def sources(self) -> DataFrame:
        ids = self._nodes.select("id")
        if self._sources is None:
            return ids
        return ids.join(self._sources.select("id"), on="id", how="left_semi")

    @property
    def targets(self) -> DataFrame:
        ids = self._nodes.select("id")
        if self._targets is None:
            return ids
        return ids.join(self._targets.select("id"), on="id", how="left_semi")

    @property
    def source_nodes(self) -> DataFrame:
        if self._sources is None:
            return self._nodes
        return self._nodes.join(self._sources.select("id"), on="id", how="left_semi")

    @property
    def target_nodes(self) -> DataFrame:
        if self._targets is None:
            return self._nodes
        return self._nodes.join(self._targets.select("id"), on="id", how="left_semi")

    # ------------------------------------------------------------------
    # selection (SURVEY §2.2)
    # ------------------------------------------------------------------
    def query_nodes(
        self,
        query: str,
        inplace: bool = False,
        local_dict: Optional[dict] = None,
        global_dict: Optional[dict] = None,
        **kwargs,
    ) -> Optional["NetworkFrame"]:
        """Filter nodes by a predicate; drop edges losing an endpoint.

        Reference: networkframe.py:273-338.  The expression may use
        pandas-query syntax (``&``, ``@var``) or Spark SQL directly.
        """
        predicate = to_sql_predicate(query, local_dict, global_dict)
        nodes = self._nodes.filter(predicate)
        # fused closure: close against the pre-closure edge table so
        # filter chains pay two semi-joins total, not two per filter
        edges = closure_edges(self._raw_edges, nodes)
        return self._return(
            inplace, nodes=nodes, edges=edges, raw_edges=self._raw_edges
        )

    def query_edges(
        self,
        query: str,
        inplace: bool = False,
        local_dict: Optional[dict] = None,
        global_dict: Optional[dict] = None,
        **kwargs,
    ) -> Optional["NetworkFrame"]:
        """Filter edges by a predicate; nodes unchanged.

        Reference: networkframe.py:347-409.
        """
        predicate = to_sql_predicate(query, local_dict, global_dict)
        edges = self._edges.filter(predicate)
        return self._return(inplace, edges=edges)

    def remove_nodes(
        self, nodes: Any, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """Drop listed node IDs (anti-join); re-close edges.

        Reference: networkframe.py:223-244.
        """
        ids = _as_id_df(self.spark, nodes, self._nodes)
        new_nodes = self._nodes.join(ids, on="id", how="left_anti")
        new_edges = closure_edges(self._raw_edges, new_nodes)
        return self._return(
            inplace, nodes=new_nodes, edges=new_edges, raw_edges=self._raw_edges
        )

    def remove_edges(
        self, remove_edges: DataFrame, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """Drop all edges whose (source, target) pair appears in the
        given frame — removes every parallel copy of a listed pair.

        Reference: networkframe.py:246-259 (MultiIndex difference).
        Multi-column left-anti join.
        """
        pairs = remove_edges.select("source", "target").distinct()
        new_edges = self._edges.join(pairs, on=["source", "target"], how="left_anti")
        return self._return(inplace, edges=new_edges)

    def add_nodes(
        self, new_nodes: DataFrame, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """Append node rows (no dedup/validation; reference
        networkframe.py:261-265)."""
        nodes = self._nodes.unionByName(new_nodes, allowMissingColumns=True)
        # node set may grow: reset the fusion base so a later filter
        # cannot resurrect edges dropped by an earlier closure
        return self._return(inplace, nodes=nodes, raw_edges=self._edges)

    def add_edges(
        self, new_edges: DataFrame, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """Append edge rows (reference networkframe.py:267-271)."""
        edges = self._edges.unionByName(new_edges, allowMissingColumns=True)
        return self._return(inplace, edges=edges)

    def remove_unused_nodes(self, inplace: bool = False) -> Optional["NetworkFrame"]:
        """Keep only nodes incident to at least one edge.

        Reference: networkframe.py:411-456.  Semi-join against the
        distinct endpoint union.
        """
        used = (
            self._edges.select(F.col("source").alias("id"))
            .union(self._edges.select(F.col("target").alias("id")))
            .distinct()
        )
        nodes = self._nodes.join(used, on="id", how="left_semi")
        return self._return(inplace, nodes=nodes)

    def reindex_nodes(self, index: Any) -> "NetworkFrame":
        """Conform nodes to a given ID set: keep listed IDs (introducing
        all-null attribute rows for missing ones); re-close edges.

        Reference: networkframe.py:203-221 (pandas ``reindex``).  Row
        *order* is non-semantic in Spark; the ID set is what matters.
        """
        ids = _as_id_df(self.spark, index, self._nodes)
        nodes = ids.join(self._nodes, on="id", how="left")
        edges = closure_edges(self._edges, nodes)
        return self._return(False, nodes=nodes, edges=edges)

    @property
    def loc(self) -> "LocIndexer":
        """Block selection ``nf.loc[row_ids, col_ids]``
        (reference: networkframe.py:1075-1112, 1552-1609)."""
        return LocIndexer(self)

    # ------------------------------------------------------------------
    # joins (SURVEY §2.3)
    # ------------------------------------------------------------------
    def apply_node_features(
        self,
        columns: Union[str, list],
        axis: AxisType = "both",
        inplace: bool = False,
    ) -> Optional["NetworkFrame"]:
        """Decorate edges with source-/target-node attributes as
        ``source_{col}`` / ``target_{col}``.

        Reference: networkframe.py:458-498 (per-column ``.map`` ≙ left
        equi-join).  The canonical graph join: node table broadcast when
        small (AQE decides at runtime from actual sizes).
        """
        if isinstance(columns, str):
            columns = [columns]
        edges = self._edges
        if axis in ("source", "both"):
            right = self._nodes.select(
                F.col("id").alias("source"),
                *[F.col(c).alias(f"source_{c}") for c in columns],
            )
            edges = edges.join(right, on="source", how="left")
        if axis in ("target", "both"):
            right = self._nodes.select(
                F.col("id").alias("target"),
                *[F.col(c).alias(f"target_{c}") for c in columns],
            )
            edges = edges.join(right, on="target", how="left")
        return self._return(inplace, edges=edges)

    def node_agreement(self, other: "NetworkFrame") -> float:
        """Fraction of this frame's node IDs present in ``other``
        (reference: networkframe.py:1225-1239)."""
        mine = self._nodes.select("id")
        total = mine.count()
        if total == 0:
            return float("nan")
        shared = mine.join(
            other._nodes.select("id"), on="id", how="left_semi"
        ).count()
        return shared / total

    def __eq__(self, other: object) -> bool:
        """Order-insensitive frame equality under bag semantics
        (reference: networkframe.py:1114-1144): both tables equal as
        multisets.  ``exceptAll`` both directions per table."""
        if not isinstance(other, NetworkFrame):
            return NotImplemented
        if self._directed != other._directed:
            return False
        if sorted(self._nodes.columns) != sorted(other._nodes.columns):
            return False
        if sorted(self._edges.columns) != sorted(other._edges.columns):
            return False
        # exact bag equality, one direction only: |A| == |B| and
        # A exceptAll B == empty  =>  A == B as multisets.  The count
        # pre-check is a cheap aggregate and short-circuits the common
        # unequal case before any exceptAll shuffle.
        n1 = self._nodes.select(*sorted(self._nodes.columns))
        n2 = other._nodes.select(*sorted(other._nodes.columns))
        if n1.count() != n2.count():
            return False
        if not n1.exceptAll(n2).isEmpty():
            return False
        e1 = self._edges.select(*sorted(self._edges.columns))
        e2 = other._edges.select(*sorted(other._edges.columns))
        if e1.count() != e2.count():
            return False
        return e1.exceptAll(e2).isEmpty()

    def __ne__(self, other: object) -> bool:
        eq = self.__eq__(other)
        if eq is NotImplemented:
            return eq
        return not eq

    # ------------------------------------------------------------------
    # grouping (SURVEY §2.4) — implementation in groupby.py
    # ------------------------------------------------------------------
    def groupby_nodes(
        self, by: Any, axis: AxisType = "both", induced: bool = False, **kwargs
    ):
        """Group nodes by column(s); see NodeGroupBy
        (reference: networkframe.py:1000-1073)."""
        from .groupby import NodeGroupBy

        return NodeGroupBy(self, by=by, axis=axis, induced=induced)

    def condense(
        self,
        by: Any,
        func: Union[Callable, str] = "size",
        weight_name: str = "weight",
        columns: Optional[list] = None,
    ) -> "NetworkFrame":
        """Quotient graph: nodes = distinct values of ``nodes[by]``,
        edges = per-(source-group, target-group) aggregate of edges.

        Reference: networkframe.py:1513-1538.
        """
        agg_edges = self.groupby_nodes(by).apply_edges(func, columns=columns)
        # single-agg result column -> weight_name, group cols -> source/target
        out_cols = [c for c in agg_edges.columns if c not in (f"source_{by}", f"target_{by}")]
        edges = agg_edges.withColumnRenamed(f"source_{by}", "source").withColumnRenamed(
            f"target_{by}", "target"
        )
        if len(out_cols) == 1:
            edges = edges.withColumnRenamed(out_cols[0], weight_name)
        nodes = self._nodes.select(F.col(by).alias("id")).distinct()
        return NetworkFrame(nodes, edges, directed=self._directed)

    # ------------------------------------------------------------------
    # graph algorithms (SURVEY §2.6) — implementations in algorithms.py
    # ------------------------------------------------------------------
    # These methods ARE the algorithms functions, whose first parameter
    # is the frame: their docstrings are the method docs.
    component_labels = _alg.connected_component_labels
    k_hop_pairs = _alg.k_hop_pair_table
    pagerank = _alg.pagerank
    pagerank_personalized_batch = _alg.pagerank_personalized_batch
    triangle_counts = _alg.triangle_counts
    hop_distances = _alg.hop_distances
    approx_diameter = _alg.approx_diameter
    k_core = _alg.k_core
    k_truss = _alg.k_truss
    edge_jaccard = _alg.edge_jaccard
    core_numbers = _alg.core_numbers
    shortest_paths = _alg.shortest_paths
    label_propagation = _alg.label_propagation
    modularity_refine = _alg.modularity_refine
    louvain_communities = _alg.louvain_communities
    leiden_communities = _alg.leiden_communities
    link_prediction = _alg.link_prediction
    local_clustering = _alg.local_clustering
    hits = _alg.hits
    harmonic_centrality = _alg.harmonic_centrality
    attribute_mixing = _alg.attribute_mixing
    attribute_assortativity = _alg.attribute_assortativity
    bipartite_project = _alg.bipartite_project
    neighbor_sample = _alg.neighbor_sample
    degree_distribution = _alg.degree_distribution
    community_quality = _alg.community_quality
    betweenness_approx = _alg.betweenness_approx
    random_walks = _alg.random_walks
    node2vec_walks = _alg.node2vec_walks
    topological_levels = _alg.topological_levels
    maximal_independent_set = _alg.maximal_independent_set
    sample_negative_edges = _alg.sample_negative_edges
    metrics = _alg.graph_metrics

    def symmetrized_edges(self) -> DataFrame:
        """source/target edge list unioned with its reverse — the
        undirected view used by weak connectivity and k-hop with
        ``directed=False`` (reference: networkframe.py:694-698, 1542)."""
        e = self._edges.select("source", "target")
        return e.union(
            e.select(F.col("target").alias("source"), F.col("source").alias("target"))
        )

    def label_nodes_by_component(
        self,
        name: str = "component",
        inplace: bool = False,
        directed: bool = True,
        connection: str = "weak",
    ) -> Optional["NetworkFrame"]:
        """Add an integer component-label column to nodes, labels
        numbered 0..k-1 by decreasing component size (ties broken by min
        member id) — deterministic, unlike scipy's internal numbering
        (reference: networkframe.py:881-929)."""
        labels = self.component_labels(directed=directed, connection=connection)
        nodes = self._nodes.join(labels.withColumnRenamed("component", name), on="id", how="left")
        return self._return(inplace, nodes=nodes)

    def n_connected_components(
        self, directed: bool = True, connection: str = "weak"
    ) -> int:
        labels = self.component_labels(directed=directed, connection=connection)
        return labels.select("component").distinct().count()

    def is_fully_connected(
        self, directed: bool = True, connection: str = "weak"
    ) -> bool:
        return self.n_connected_components(directed=directed, connection=connection) == 1

    def connected_components(
        self, directed: bool = True, connection: str = "weak",
        max_components: int = 100_000,
    ) -> Iterable["NetworkFrame"]:
        """Generator of per-component frames (reference:
        networkframe.py:785-819).  Labels computed once; each component
        extracted lazily by semi-join.

        The iterator API forces enumerating every component id on the
        driver, so it is size-guarded (same convention as the dense
        exports, ``exports._MAX_DENSE_NODES``): more than
        ``max_components`` components raises loudly — on a graph with
        billions of singleton components an unguarded collect is a
        driver OOM.  For the distributed form use
        :meth:`label_nodes_by_component` / :meth:`component_labels`,
        which keep the labels as a DataFrame."""
        labels = self.component_labels(directed=directed, connection=connection)
        labels = labels.cache()
        # limit(cap+1) plans as TakeOrderedAndProject — the driver never
        # receives more than cap+1 ids no matter the component count
        comp_ids = [
            r[0]
            for r in labels.select("component").distinct()
            .orderBy("component").limit(max_components + 1).collect()
        ]
        if len(comp_ids) > max_components:
            raise ValueError(
                f"connected_components: more than {max_components} components"
                " — enumerating them driver-side would not scale; use "
                "label_nodes_by_component()/component_labels() for the "
                "distributed labeling, or raise max_components explicitly"
            )
        for cid in comp_ids:
            yield self._induced_subframe(
                labels.filter(F.col("component") == F.lit(cid)).select("id")
            )

    def largest_connected_component(
        self, directed: bool = True, connection: str = "weak", inplace: bool = False,
        verbose: bool = False,
    ) -> Optional["NetworkFrame"]:
        """Top-1 component by node count (reference:
        networkframe.py:732-783).  ``verbose`` is accepted for the
        reference's signature and ignored."""
        labels = self.component_labels(directed=directed, connection=connection)
        top = (
            labels.groupBy("component")
            .count()
            .orderBy(F.desc("count"), F.asc("component"))
            .limit(1)
            .select("component")
        )
        ids = labels.join(F.broadcast(top), on="component", how="left_semi").select("id")
        return self._induced_subframe(ids, inplace)

    def select_component_from_node(
        self, node_id: Any, directed: bool = True, inplace: bool = False
    ) -> Optional["NetworkFrame"]:
        """Single-source reachability — avoids computing all components
        (reference: networkframe.py:962-998)."""
        ids = _alg.reachable_from(self, node_id, directed=directed)
        return self._induced_subframe(ids, inplace)

    def k_hop_neighborhood(
        self, node_id: Any, k: int, directed: bool = False
    ) -> "NetworkFrame":
        """Induced subframe on nodes within k hops of ``node_id``
        (reference: networkframe.py:1241-1277)."""
        ids = _alg.k_hop_reachable(self, node_id, k, directed=directed)
        return self._induced_subframe(ids)

    def k_hop_mask(self, k: int, directed: bool = False) -> DataFrame:
        """Reference parity for the dense all-pairs k-hop mask
        (networkframe.py:1279-1307): returned here as the long
        (node, neighbor) pair table — the O(n^2)-memory dense form is
        deliberately not materialized (BASELINE.md complexity note);
        pivot driver-side under a size guard if a matrix is required."""
        return self.k_hop_pairs(k, directed=directed, drop_self=False)

    #: k_hop_decomposition issues one filter job per distinct ego node
    #: — a driver loop by design (the reference's return type is a
    #: per-node Series of frames).  Past this many egos that is
    #: thousands of Spark jobs; the distributed form is k_hop_pairs.
    _DECOMP_LOCAL_MAX_EGOS = 10_000

    def k_hop_decomposition(self, k: int, directed: bool = False):
        """Yield ``(node_id, subframe)`` per node — the reference's
        Series of per-node k-hop subframes (networkframe.py:1309-1330).
        Driver loop over collected ego ids; each subframe is a lazy
        induced selection.  Small-graph parity surface — the scalable
        form is :meth:`k_hop_pairs` grouped by ego node; guarded at
        ``_DECOMP_LOCAL_MAX_EGOS`` like every other local twin
        (``algorithms._LOCAL_MAX_ROWS`` policy).

        The ego-count guard runs EAGERLY at call time (not at first
        iteration): this wrapper collects the distinct ego list once
        (bounded by the guard), raises immediately when over, and
        returns an inner generator that reuses the collected list —
        no second distinct job, no deferred ValueError."""
        pairs = self.k_hop_pairs(k, directed=directed, drop_self=False)
        egos = [
            r["node"]
            for r in pairs.select("node")
            .distinct()
            .limit(self._DECOMP_LOCAL_MAX_EGOS + 1)
            .collect()
        ]
        if len(egos) > self._DECOMP_LOCAL_MAX_EGOS:
            raise ValueError(
                f"k_hop_decomposition: >{self._DECOMP_LOCAL_MAX_EGOS} ego "
                "nodes would issue one driver-side Spark job per node "
                "(one induced-subframe filter each). This surface exists "
                "for reference parity on small graphs; for the "
                "distributed form use k_hop_pairs(k) grouped by 'node' "
                "(one shuffle, no driver loop), or raise "
                "_DECOMP_LOCAL_MAX_EGOS deliberately."
            )
        egos.sort()

        def _gen():
            for ego in egos:
                members = pairs.filter(F.col("node") == F.lit(ego)).select(
                    F.col("neighbor").alias("id")
                )
                yield ego, self._induced_subframe(members)

        return _gen()

    def k_hop_aggregation(
        self,
        k: int,
        aggregations: Union[str, list] = "mean",
        directed: bool = False,
        drop_self_in_neighborhood: bool = True,
        drop_non_numeric: bool = True,
        verbose: bool = False,
        engine: str = "auto",
    ) -> DataFrame:
        """Neighborhood feature aggregation (GNN-style); returns one row
        per node with ``{col}_neighbor_{agg}`` columns
        (reference: networkframe.py:1332-1511).  ``verbose`` and
        ``engine`` are accepted for the reference's signature and
        ignored."""
        return _alg.k_hop_aggregation(
            self,
            k,
            aggregations=aggregations,
            directed=directed,
            drop_self_in_neighborhood=drop_self_in_neighborhood,
            drop_non_numeric=drop_non_numeric,
        )

    def sort_spectral(
        self,
        weight_col: str = "weight",
        inplace: bool = False,
        max_iter: int = 60,
        tol: float = 1e-7,
    ) -> Optional["NetworkFrame"]:
        """Order nodes by the leading eigenvector of the symmetrized
        weighted adjacency, as a ``spectral_score`` column + sorted
        nodes (reference: networkframe.py:1540-1549; power iteration).

        ``tol=0`` disables the early-convergence stop and always runs
        ``max_iter`` rounds — use for bit-reproducible scores (the
        eigenvector sign remains ambiguous, as in the reference's
        eigsh; take ``abs`` for engine-portable comparisons)."""
        scores = _alg.spectral_scores(
            self, weight_col=weight_col, max_iter=max_iter, tol=tol
        )
        nodes = self._nodes.join(scores, on="id", how="left").orderBy("spectral_score")
        return self._return(inplace, nodes=nodes)

    def describe(self) -> DataFrame:
        """One-row structural profile of the graph: ``n_nodes,
        n_edges, n_distinct_pairs, n_self_loops, max_out_degree,
        max_in_degree, n_isolated`` — the first thing to run on an
        unfamiliar graph (multigraph-ness = n_edges vs
        n_distinct_pairs; hub skew = max degrees; coverage =
        n_isolated).

        Fully lazy: composed from one-row aggregates cross-joined
        together (each side is a single row, so the joins are free);
        the heavy inputs are one pass over edges + two degree
        aggregates.  Every term is a plain SQL scalar, so the profile
        is oracle-checkable.
        """
        e = self._edges
        edge_stats = e.agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct(F.struct("source", "target")).alias("n_distinct_pairs"),
            F.sum(
                (F.col("source") == F.col("target")).cast("long")
            ).alias("n_self_loops"),
        ).select(
            "n_edges", "n_distinct_pairs", F.coalesce("n_self_loops", F.lit(0)).alias("n_self_loops")
        )
        node_stats = self._nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        max_out = (
            e.groupBy("source").agg(F.count(F.lit(1)).alias("d"))
            .agg(F.coalesce(F.max("d"), F.lit(0)).alias("max_out_degree"))
        )
        max_in = (
            e.groupBy("target").agg(F.count(F.lit(1)).alias("d"))
            .agg(F.coalesce(F.max("d"), F.lit(0)).alias("max_in_degree"))
        )
        endpoints = e.select(F.col("source").alias("id")).unionAll(
            e.select(F.col("target").alias("id"))
        ).distinct()
        isolated = (
            self._nodes.select("id")
            .join(endpoints, on="id", how="left_anti")
            .agg(F.count(F.lit(1)).alias("n_isolated"))
        )
        return (
            node_stats.crossJoin(edge_stats)
            .crossJoin(max_out)
            .crossJoin(max_in)
            .crossJoin(isolated)
        )

    # ------------------------------------------------------------------
    # serde / exports (SURVEY §2.1) — implementations in exports.py
    # ------------------------------------------------------------------
    # These methods ARE the exports functions (see graph algorithms).
    to_adjacency = _exp.to_adjacency
    to_networkx = _exp.to_networkx
    to_torch_geometric = _exp.to_torch_geometric

    def to_dict(self, orient: str = "dict") -> dict:
        """Driver-side serialization (reference: networkframe.py:1156-1173).
        Collects both tables — small-graph escape hatch."""
        nodes_pdf = self._nodes.toPandas().set_index("id")
        edges_pdf = self._edges.toPandas()
        return {
            "nodes": nodes_pdf.to_dict(orient=orient),
            "edges": edges_pdf.to_dict(orient=orient),
            "directed": self._directed,
        }

    def to_json(self, orient: str = "dict") -> str:
        return json.dumps(self.to_dict(orient=orient), default=str)

    @classmethod
    def from_dict(
        cls,
        d: dict,
        spark: SparkSession,
        orient: str = "columns",
        index_dtype: str = "bigint",
    ) -> "NetworkFrame":
        """Deserialize from ``{nodes, edges, directed}``
        (reference: networkframe.py:1193-1223).  Both tables ship to
        Spark as Arrow tables: they plan as a ``LocalRelation`` with
        real statistics, and a null attribute stays null."""
        import pandas as pd
        import pyarrow as pa

        nodes_pdf = pd.DataFrame.from_dict(d["nodes"], orient=orient)
        nodes_pdf.index.name = "id"
        nodes_pdf = nodes_pdf.reset_index()
        try:
            nodes_pdf["id"] = nodes_pdf["id"].astype("int64" if index_dtype == "bigint" else index_dtype)
        except (ValueError, TypeError):
            pass
        edges_pdf = pd.DataFrame.from_dict(d["edges"], orient=orient)
        nodes, edges = (
            spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False))
            for pdf in (nodes_pdf, edges_pdf)
        )
        return cls(nodes, edges, directed=d.get("directed", True))

    def to_sparse_adjacency(
        self,
        weight_col: Optional[str] = None,
        aggfunc: str = "sum",
        verify_integrity: bool = True,
        format: str = "csr",
    ):
        """See :func:`networkframe_spark.exports.to_sparse_adjacency`;
        ``verify_integrity`` is accepted for the reference's signature
        and ignored."""
        return _exp.to_sparse_adjacency(
            self, weight_col=weight_col, aggfunc=aggfunc, format=format
        )

    def aggregated_edges(
        self, weight_col: Optional[str] = None, aggfunc="sum"
    ) -> DataFrame:
        """The scale-native sparse adjacency: parallel edges collapsed
        by groupBy(source, target) — what the reference's CSR export
        computes before densifying (networkframe.py:630-645).

        String ``aggfunc`` compiles to a built-in JVM aggregate; an
        arbitrary Python callable (reference networkframe.py:501, 595)
        runs per (source, target) group via ``applyInPandas`` — the
        Arrow-batched slow path."""
        if weight_col is None:
            return self._edges.groupBy("source", "target").agg(
                F.count(F.lit(1)).alias("weight")
            )
        if callable(aggfunc):
            import pandas as pd

            st = self._edges.schema["source"].dataType.simpleString()
            tt = self._edges.schema["target"].dataType.simpleString()
            schema = f"source {st}, target {tt}, weight double"

            def wrap(key, pdf: pd.DataFrame) -> pd.DataFrame:
                return pd.DataFrame(
                    [
                        {
                            "source": key[0],
                            "target": key[1],
                            "weight": float(aggfunc(pdf[weight_col])),
                        }
                    ]
                )

            return self._edges.groupBy("source", "target").applyInPandas(
                wrap, schema=schema
            )
        agg = getattr(F, {"mean": "avg"}.get(aggfunc, aggfunc))
        return self._edges.groupBy("source", "target").agg(
            agg(weight_col).alias("weight")
        )


class LocIndexer:
    """``nf.loc[row_ids, col_ids]`` block selection: edges from the row
    set to the col set; nodes = union of both sets (reference:
    networkframe.py:1552-1609)."""

    def __init__(self, frame: NetworkFrame):
        self._frame = frame

    def __getitem__(self, args) -> NetworkFrame:
        if not isinstance(args, tuple) or len(args) != 2:
            raise ValueError("Must provide exactly two indexes: nf.loc[rows, cols]")
        row_ids, col_ids = args
        nf = self._frame
        rows = _as_id_df(nf.spark, row_ids, nf.nodes)
        cols = _as_id_df(nf.spark, col_ids, nf.nodes)
        edges = nf.edges.join(
            rows.withColumnRenamed("id", "source"), on="source", how="left_semi"
        ).join(cols.withColumnRenamed("id", "target"), on="target", how="left_semi")
        # a left-semi join emits each node at most once: no distinct needed
        nodes = nf.nodes.join(rows.union(cols), on="id", how="left_semi")
        return nf._return(False, nodes=nodes, edges=edges)
