"""Iterative graph algorithms as driver-orchestrated DataFrame loops.

The reference delegates these to ``scipy.sparse.csgraph`` over a CSR
adjacency (reference: networkframe/networkframe.py:721-730, 1241-1307,
1332-1511).  Catalyst cannot express fixpoints, so each algorithm here
is a driver-side Python loop issuing DataFrame jobs — the classic
iterative-Spark pattern: cache the loop-carried table, localCheckpoint
periodically to truncate lineage, check convergence with a cheap action.

Shared kernels carry the loops and joins that several operators need:

- :func:`_bfs_waves` — the distributed BFS frontier loop, its frontier
  keyed by ``keys + ["id"]`` so many BFS trees advance together.  Used
  by :func:`hop_distances` (one tree; also :func:`reachable_from` and
  :func:`k_hop_reachable`, which keep its ids),
  :func:`multi_source_hop_distances` (a tree per seed; also
  :func:`harmonic_centrality`) and :func:`k_hop_pair_table` for
  ``k >= 2`` (a tree per node).
- :func:`_triangles` — the degree-ordered triangle enumeration over the
  simple projection (:func:`_simple_edges`, :func:`_simple_degrees`),
  with per-edge counts from :func:`_edge_support`.  Used by
  :func:`triangle_counts` (and :func:`local_clustering`),
  :func:`k_truss` and :func:`edge_jaccard`.
- :func:`_fixpoint` — the driver of every single-state loop: step,
  lazily checkpoint, and stop when a signature action repeats
  (``count`` in :func:`k_core` and :func:`k_truss`; :func:`_fingerprint`
  in :func:`core_numbers`, :func:`_weak_component_min_labels`,
  :func:`shortest_paths`, :func:`topological_levels` and the SCC
  :func:`_max_label_fixpoint`), or run fixed rounds with no action
  (:func:`pagerank`, its batch and :func:`label_propagation`).
- :func:`_relax` — one min/max relax round, for :func:`shortest_paths`
  and :func:`topological_levels`.
- :func:`_rank_shares` and :func:`_rank_round` — the exact share table
  and one PageRank round (one join, one aggregate), for
  :func:`pagerank` and :func:`pagerank_personalized_batch`.
- :func:`_move_round` and :func:`_q_scaled` — one synchronous
  local-move round with the exact integer gain test, and the exact
  scaled-modularity accept of several labelings in one collect.  Used
  by :func:`modularity_refine` and :func:`_louvain_phase`, whose
  :func:`_level_ladder` runs the phase / refine / aggregate levels of
  :func:`louvain_communities` and :func:`leiden_communities`.
- :func:`_collect_local`, :func:`_dense_index` and :func:`_local_result`
  — the driver-local twin kernel: one ``limit(N + 1)`` collect guarded
  by the one bound ``_LOCAL_MAX_ROWS``, one sorted-unique id index and
  one Arrow table back.  Used by the SCC Tarjan, :func:`hop_distances`,
  :func:`shortest_paths` and :func:`spectral_scores`, each of which
  runs its distributed loop past the bound.

Not on :func:`_fixpoint`, which carries one table: :func:`hits` and
:func:`maximal_independent_set` (two state tables), the distributed
:func:`spectral_scores` loop (two scalars per round), and the walk,
sample, BFS and betweenness loops (per-step outputs).

Scale notes (100 TB):
- Loop-carried state is one row per node (labels, frontiers) — small
  relative to edges; every join against the edge table shuffles on the
  join key unless the frontier broadcasts (AQE decides from runtime
  sizes, which is exactly right for shrinking frontiers).
- The dense n x n artifacts of the reference (k_hop_mask,
  networkframe.py:1279-1307) are replaced by long-format pair tables.
- Weak components use min-label propagation + pointer-jumping
  (shortcutting), converging in ~O(log n) rounds rather than
  O(diameter) — same family as large-star/small-star.
"""

from __future__ import annotations

import itertools
from typing import Any, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_table

_MAX_ITER = 200
# hierarchical-contraction guard: max mapping rows per post-coalesce
# partition for a narrow union-find level (~a few GB of numpy state);
# beyond this, components fall back to shuffled fixpoint rounds
_HIER_MAX_ROWS_PER_PART = 30_000_000


def _edge_pairs(
    frame, directed: bool, partition_by_source: bool = False
) -> DataFrame:
    """Distinct (source, target) pairs, symmetrized when undirected.

    ``partition_by_source=False`` (unordered consumers): collapse to
    the UNORDERED pair first (least/greatest), distinct once, then
    mirror the non-loops — the same result set as
    distinct-after-symmetrize but the dedup shuffle carries the raw
    edge count, not twice it (on a multigraph like the TPC-H fixture
    that's 6M rows through the exchange instead of 12M; measured ~2x
    faster at sf0.1).

    ``partition_by_source=True`` (r16, guide §2.4 — for iterative
    callers that need the result hash-partitioned on ``source`` for
    per-round joins): symmetrize FIRST, repartition("source") ONCE,
    and dedupe partition-locally — HashPartitioning(source) satisfies
    the (source, target) clustering the aggregate needs (partitioning
    on a subset of the grouping keys), so the dedup adds NO second
    exchange.  The old shape shuffled the table twice (distinct
    exchange + the caller's repartition: raw + 2·distinct rows); the
    fused shape shuffles 2·raw rows once and replaces two exchanges
    with one.  Same distinct row set either way."""
    e = frame.edges.select("source", "target")
    if partition_by_source:
        sym = (
            e
            if directed
            else e.union(
                e.filter(F.col("source") != F.col("target")).select(
                    F.col("target").alias("source"),
                    F.col("source").alias("target"),
                )
            )
        )
        return sym.repartition("source").dropDuplicates(["source", "target"])
    if directed:
        return e.distinct()
    und = (
        e.select(
            F.least("source", "target").alias("source"),
            F.greatest("source", "target").alias("target"),
        )
        .distinct()
    )
    return und.union(
        und.filter(F.col("source") != F.col("target")).select(
            F.col("target").alias("source"), F.col("source").alias("target")
        )
    )


def _weighted_pairs(
    frame, directed: bool, weight_col: str, partition_by_source: bool = False
) -> DataFrame:
    """``(source, target, w)`` with parallel edges collapsed by
    exact DECIMAL(28,6) weight sums; symmetrized when undirected
    (same unordered-pair-first dedup shape as :func:`_edge_pairs` —
    the aggregate shuffle carries the raw edge count, not twice it).

    ``partition_by_source=True``: same fused one-exchange shape as
    :func:`_edge_pairs` — symmetrize raw edges first (mirroring only
    non-loops, so self-loop weights count once), repartition("source")
    once, aggregate partition-locally (no second exchange; decimal
    sums are order-independent, so the collapsed weights are
    bit-identical to the unordered-pair form)."""
    wcol = F.col(weight_col).cast("decimal(28,6)")
    if partition_by_source:
        e = frame.edges.select("source", "target", wcol.alias("w"))
        sym = (
            e
            if directed
            else e.union(
                e.filter(F.col("source") != F.col("target")).select(
                    F.col("target").alias("source"),
                    F.col("source").alias("target"),
                    F.col("w"),
                )
            )
        )
        return (
            sym.repartition("source")
            .groupBy("source", "target")
            .agg(F.sum("w").alias("w"))
        )
    if directed:
        return frame.edges.groupBy("source", "target").agg(
            F.sum(wcol).alias("w")
        )
    und = (
        frame.edges.select(
            F.least("source", "target").alias("source"),
            F.greatest("source", "target").alias("target"),
            wcol.alias("w"),
        )
        .groupBy("source", "target")
        .agg(F.sum("w").alias("w"))
    )
    return und.union(
        und.filter(F.col("source") != F.col("target")).select(
            F.col("target").alias("source"),
            F.col("source").alias("target"),
            F.col("w"),
        )
    )


def _seed_df(frame, node_id: Any) -> DataFrame:
    from .frame import _as_id_df

    return _as_id_df(frame.spark, node_id, frame.nodes)


def _fingerprint(df: DataFrame, *cols: str) -> Any:
    """Order-independent hash of ``df``'s rows over ``cols`` (one
    aggregate job): ``bit_xor`` of row xxhash64s — exact and
    overflow-free in plain codegen, where a SUM of 64-bit hashes is not
    under ANSI and a DECIMAL(38,0) hash sum runs interpreted.  None for
    an empty table."""
    return df.agg(F.bit_xor(F.xxhash64(*cols)).alias("f")).collect()[0]["f"]


def _fixpoint(
    state: DataFrame,
    step,
    signature,
    max_rounds: int | None,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` to ``state`` until ``signature`` repeats, or for
    at most ``max_rounds`` rounds (None = until it repeats).  Returns
    ``(state, converged)``; ``converged`` is True only when the
    signature repeated.

    Each new state is lazily checkpointed, so lineage stays O(1), and
    the one ``signature`` action per round also materializes that
    checkpoint.  The caller checkpoints the initial state; its
    signature is the first action, and zero rounds run no action at
    all.  ``signature`` must detect the fixpoint exactly: ``count`` for
    a set that only shrinks, :func:`_fingerprint` for a state that
    changes values in place.  ``signature=None`` runs exactly
    ``max_rounds`` fixed rounds and no action: the caller's first
    action on the result materializes every round's checkpoint.
    """
    if signature is None:
        for _ in range(max_rounds):
            state = step(state).localCheckpoint(eager=False)
        return state, False
    if max_rounds == 0:
        return state, False
    sig = signature(state)
    rounds = itertools.count() if max_rounds is None else range(max_rounds)
    for _ in rounds:
        state = step(state).localCheckpoint(eager=False)
        nxt = signature(state)
        if nxt == sig:
            return state, True
        sig = nxt
    return state, False


# ---------------------------------------------------------------------------
# driver-local twins
# ---------------------------------------------------------------------------
# The row bound of every table a driver-local twin collects: SCC's
# distinct edges, the BFS pair table, Bellman-Ford's cheapest edges,
# and spectral's symmetrized edges and node ids.
_LOCAL_MAX_ROWS = 2_000_000


def _collect_local(df: DataFrame, max_rows: int):
    """``df`` as a pandas frame, or None past ``max_rows`` rows: one
    ``limit(max_rows + 1)`` Arrow collect is the guard and the collect,
    one job whatever the session's Arrow setting (a ``toPandas`` of a
    limit can run Spark's incremental take, a job per batch of
    partitions), so a tripped guard pulls at most ``max_rows + 1``
    rows."""
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table.to_pandas()


def _dense_index(epdf, *extra):
    """Sorted unique ids over a collected edge table's ``source`` and
    ``target`` and the ``extra`` id lists, then the dense positions
    (``searchsorted``) of each of those columns: ``(ids, src, dst,
    *extra)``.  Vectorized, for int and string ids alike."""
    import numpy as np

    src = epdf["source"].to_numpy()
    cols = [src, epdf["target"].to_numpy()]
    cols += [np.asarray(x, dtype=src.dtype) for x in extra]
    ids = np.unique(np.concatenate(cols))
    return (ids, *(np.searchsorted(ids, c) for c in cols))


def _local_result(frame, ids, name: str, values, ddl: str | None = None) -> DataFrame:
    """``(id, name)`` from numpy columns as one Arrow ``LocalRelation``:
    ``id`` typed as the node ids, ``name`` as the DDL type ``ddl`` (the
    node id type when None)."""
    idt = frame.nodes.schema["id"].dataType.simpleString()
    schema = f"id {idt}, {name} {ddl or idt}"
    return local_table(frame.spark, (), schema, columns=[ids, values])


# ---------------------------------------------------------------------------
# BFS reachability
# ---------------------------------------------------------------------------
def _bfs_waves(
    edges: DataFrame,
    seed: DataFrame,
    keys: list,
    directed: bool,
    max_hops: int | None,
) -> DataFrame:
    """The distributed BFS frontier loop shared by every hop-distance
    operator: ``keys + [id, dist]`` rows for everything ``seed`` (the
    ``dist = 0`` rows) reaches within ``max_hops``, one wave per hop.
    The frontier is keyed by ``keys + ["id"]``, so one round advances
    every BFS tree (one per distinct key) a hop together and the
    per-round shuffles carry all trees' frontiers in the same exchange.

    ``edges`` is the caller's cached pair table, hash-partitioned on
    ``source`` so each round shuffles only the (shrinking) frontier to
    it.  Each wave is stamped with its hop number before it joins the
    visited set, so ``dist`` is the minimum hop count by construction
    (a node is claimed by the first wave that reaches it).  The single
    action per round is the wave count, which also materializes the
    wave's lazy checkpoint; rounds are bounded by the graph diameter
    (or ``max_hops``).
    """
    seed = seed.localCheckpoint(eager=True)
    cols = keys + ["id"]
    waves = [seed]
    frontier = seed.select(*cols)
    prev, prev2 = frontier, None
    visited = frontier
    limit = _MAX_ITER if max_hops is None else max_hops
    for d in range(1, limit + 1):
        cand = (
            edges.join(
                frontier.withColumnRenamed("id", "source"),
                on="source",
                # a key-less frontier carries no column to keep
                how="inner" if keys else "left_semi",
            )
            .select(*keys, F.col("target").alias("id"))
            .distinct()
        )
        if directed:
            # a directed edge can reach arbitrarily old waves, so the
            # anti-join needs the full visited set; keep it compacted
            # (one checkpointed table, not a union of D waves)
            seen = visited
        else:
            # undirected BFS invariant (per tree): neighbors of wave d-1
            # sit at distance d-2, d-1, or d — the anti-join only ever
            # needs the LAST TWO waves, so per-round work is
            # frontier-sized regardless of how much is already visited
            seen = prev if prev2 is None else prev.union(prev2)
        nxt = (
            cand.join(seen, on=cols, how="left_anti")
            .select(*cols, F.lit(d).alias("dist"))
        ).localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        waves.append(nxt)
        frontier = nxt.select(*cols)
        prev2, prev = prev, frontier
        if directed:
            visited = visited.union(frontier).localCheckpoint(eager=False)
    out = waves[0]
    for w in waves[1:]:
        out = out.union(w)
    return out


def reachable_from(frame, node_id: Any, directed: bool = True) -> DataFrame:
    """IDs reachable from ``node_id`` (including itself).

    Reference: networkframe.py:962-998 computes this with a scipy
    ``shortest_path`` from one source; here the reachable rows of
    :func:`hop_distances`.
    """
    return hop_distances(frame, node_id, directed=directed).select("id")


def k_hop_reachable(frame, node_id: Any, k: int, directed: bool = False) -> DataFrame:
    """IDs within k hops of ``node_id`` (including itself).

    Reference: networkframe.py:1241-1277 (single-source dijkstra with
    ``limit=k``, unweighted); here :func:`hop_distances` bounded at k
    hops.
    """
    return hop_distances(frame, node_id, directed=directed, max_hops=k).select("id")


def k_hop_pair_table(
    frame, k: int, directed: bool = False, drop_self: bool = True
) -> DataFrame:
    """All-pairs bounded reachability as a long ``(node, neighbor)``
    table — the scale-safe replacement for the reference's dense n x n
    boolean mask (networkframe.py:1279-1307, flagged O(n^2) memory in
    BASELINE.md).

    k rounds of :func:`_bfs_waves` with every node seeding its own BFS
    tree (frontier keyed by ``(node, id)``).  k=1 short-circuits to the
    distinct (symmetrized) edge list itself.
    """
    if k == 1:
        pairs = _edge_pairs(frame, directed).select(
            F.col("source").alias("node"), F.col("target").alias("neighbor")
        )
        if drop_self:
            pairs = pairs.filter(F.col("node") != F.col("neighbor"))
        else:
            pairs = pairs.union(
                frame.nodes.select(
                    F.col("id").alias("node"), F.col("id").alias("neighbor")
                )
            ).distinct()
        return pairs
    edges = _edge_pairs(frame, directed, partition_by_source=True).cache()
    seed = frame.nodes.select(
        F.col("id").alias("node"), "id", F.lit(0).alias("dist")
    )
    visited = _bfs_waves(edges, seed, ["node"], directed, k).select(
        "node", F.col("id").alias("neighbor")
    )
    edges.unpersist()
    if drop_self:
        visited = visited.filter(F.col("node") != F.col("neighbor"))
    return visited


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------
def _local_contract(edges: DataFrame) -> DataFrame:
    """Partition-local union-find: one shuffle-free pass over the edge
    partitions, emitting an ``(id, comp)`` mapping where ``comp`` is the
    min id of the node's component *within that partition*.

    This is the local-contraction phase of scalable CC (the same trick
    large-star/small-star implementations use): every intra-partition
    path collapses to a star around its local minimum, so the global
    min-label loop afterwards only has to stitch across partitions —
    rounds become ~log(#partitions that a component spans) instead of
    ~log(graph diameter).  A node appearing in p partitions emits p
    mapping rows; the mapping is at most one row per (node, partition),
    typically far smaller than the edge table.
    """
    idt = edges.schema["source"].dataType.simpleString()
    schema = f"id {idt}, comp {idt}"

    def uf(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        srcs, tgts = [], []
        for pdf in batches:
            srcs.append(pdf["source"].to_numpy())
            tgts.append(pdf["target"].to_numpy())
        if not srcs:
            return
        s = np.concatenate(srcs)
        t = np.concatenate(tgts)
        # vectorized union-find: hook each edge's larger root index
        # onto the smaller + two pointer-doubling compressions per
        # sweep; O(E+V) numpy work per sweep, ~log(depth) sweeps.
        # pd.factorize is hash-based (no sort) — ~10x cheaper than
        # np.unique(return_inverse) at millions of rows; index order is
        # then arbitrary, so the component-min VALUE is recovered with
        # one np.minimum.at at the end.
        codes, uniques = pd.factorize(np.concatenate([s, t]))
        un = np.asarray(uniques)
        si, ti = codes[: len(s)], codes[len(s):]
        parent = np.arange(len(un))
        while True:
            rs, rt = parent[si], parent[ti]
            if len(rs) == 0 or (rs == rt).all():
                break
            lo = np.minimum(rs, rt)
            hi = np.maximum(rs, rt)
            np.minimum.at(parent, hi, lo)
            parent = parent[parent]
            parent = parent[parent]
        # full path compression
        while True:
            nxt = parent[parent]
            if (nxt == parent).all():
                break
            parent = nxt
        root_min = un.copy()
        np.minimum.at(root_min, parent, un)
        yield pd.DataFrame({"id": un, "comp": root_min[parent]})

    return edges.mapInPandas(uf, schema)


def _coalesce_need(df: DataFrame, max_rows: int) -> int | None:
    """The fewest partitions ``df`` may coalesce into with every merged
    partition at most ``max_rows`` rows (None: no merge fits), sized by
    one aggregate of the rows per partition.  Coalesce balances
    partition counts, so a merge of k partitions holds at most the k
    largest ones' rows: a hot partition counts as itself, not as the
    average."""
    import numpy as np

    n_parts = df.rdd.getNumPartitions()
    sizes = df.groupBy(F.spark_partition_id()).count().collect()
    top = np.cumsum(sorted((r[1] for r in sizes), reverse=True))
    # most partitions one group may take: its k largest fit the bound
    k = int(np.searchsorted(top, max_rows, "right"))
    if k == len(top):
        return 1
    return -(-n_parts // k) if k else None  # ceil


def _weak_component_min_labels(frame) -> DataFrame:
    """(id, comp) where comp = min node id in the weak component.

    Min-label propagation with double pointer-jumping: each round
    (1) pulls the min neighbor label across edges, (2) shortcuts labels
    twice through the label graph (comp <- label[label[comp]]), giving
    ~O(log diameter) convergence.  Reference semantics: scipy
    ``connected_components(connection='weak')`` (networkframe.py:721-730)
    up to label numbering.

    Scale design — iterated partition-local contraction (the
    hash-to-min family, Rastogi et al.; the same local-aggregation
    trick large-star/small-star implementations use):

    1. One shuffle-free union-find pass per edge partition emits an
       ``(id, local-root)`` mapping (:func:`_local_contract`) — every
       intra-partition path collapses immediately.
    2. The mapping is itself a graph (star links to local roots).
       Send every link to BOTH endpoints' hash partitions — a node's
       links from different source partitions co-locate at the node,
       and links into a shared root co-locate at the root, so chains
       id -> r1 -> r2 compress every round (source-only routing has
       non-converged fixpoints: a chain whose endpoints never share a
       partition would stall).  Contract again; repeat to fixpoint.

    Each round shuffles 2x the (shrinking, deduped) mapping plus one
    linear union-find pass; rounds needed are ~log of the contraction
    forest depth, independent of graph diameter.
    Roots are component minima by construction (union-find roots at the
    min), so labels are monotone non-increasing and an xxhash64 state
    fingerprint detects the fixpoint (one cheap aggregate per round,
    which is also the action that materializes the lazy checkpoint).
    """
    # union-find is direction- and duplicate-insensitive: contract the
    # raw edge projection directly — no symmetrize/distinct shuffle
    mapping = _local_contract(frame.edges.select("source", "target"))
    mapping = mapping.localCheckpoint(eager=False)
    # Hierarchical narrow phase: coalesce the mapping by 8x per level
    # (coalesce is shuffle-FREE) and contract again — each level merges
    # 8 partitions' star forests in one linear pass.  Reaching a single
    # partition solves the graph outright; a row-count guard keeps each
    # level's per-partition state within worker memory and falls back
    # to the shuffled fixpoint rounds below for graphs too big for it.
    parts = frame.spark.sparkContext.defaultParallelism
    solved = False
    while parts > 1:
        step = max(1, parts // 8)
        # r17: jump straight to the SMALLEST partition count the
        # memory guard allows instead of fixed /8 levels — a mapping
        # that fits one partition solves in ONE contract pass (one
        # count + one materialization instead of a level per /8).
        # Union-find roots are component minima along any merge order,
        # so the labels are identical whichever ladder is walked.
        need = _coalesce_need(mapping, _HIER_MAX_ROWS_PER_PART)
        if need is None or need > step:
            break
        parts = max(1, min(step, need))
        pairs = mapping.select(
            F.col("id").alias("source"), F.col("comp").alias("target")
        ).coalesce(parts)
        mapping = _local_contract(pairs).localCheckpoint(eager=False)
        solved = parts == 1

    def _round(mapping: DataFrame) -> DataFrame:
        links = mapping.filter(F.col("id") != F.col("comp"))
        pairs = (
            links.select(
                F.col("id").alias("source"),
                F.col("comp").alias("target"),
                F.col("id").alias("k"),
            )
            .union(
                links.select(
                    F.col("id").alias("source"),
                    F.col("comp").alias("target"),
                    F.col("comp").alias("k"),
                )
            )
            .repartition("k")
            .drop("k")
        )
        return _local_contract(pairs)

    mapping, _ = _fixpoint(
        mapping,
        _round,
        lambda m: _fingerprint(m, "id", "comp"),
        0 if solved else _MAX_ITER,
    )
    # isolated nodes keep their own id as the component label
    return frame.nodes.select("id").join(mapping, on="id", how="left").select(
        "id", F.coalesce("comp", "id").alias("comp")
    )


def _max_label_fixpoint(e: DataFrame, init: DataFrame, label: str) -> DataFrame:
    """Fixpoint of ``label(v) = max(label(v), label(u) for u -> v)`` —
    max-label propagation over directed edges, accelerated by POINTER
    JUMPING over an ancestor pointer: ``p(v)`` starts as an in-neighbor
    of ``v`` and squares every round (``p <- p(p)``), while each round
    also folds in ``label(p(v))``.  Because ``p(v)`` is always a true
    ancestor (ancestor-of-ancestor is an ancestor), the fold is sound;
    because the pointer doubles regardless of whether labels improved,
    long chains/cycles converge in O(log diameter) rounds — the
    previous label-graph shortcut (``label(label(v))``) stalled to one
    step per round whenever interior labels were self-pointing,
    measured ~200 rounds on a 200-cycle vs ~9 with pointer jumping.
    Branching ancestry that a single pointer chain misses is still
    covered by the per-round neighbor pull, which alone guarantees the
    exact fixpoint; pointers only accelerate.  Labels are monotone
    non-decreasing, so an xxhash64 fingerprint of ``(id, label)``
    detects the fixpoint; :func:`_fixpoint` runs uncapped because
    stopping early would return a silently wrong coloring.

    Per-round cost control: the state is ONE table ``(id, label,
    __p)``, so ``label(p(v))`` and ``p(p(v))`` both come from one
    self-join on ``__p``; the edge table is hash-partitioned on the
    join key ONCE before the loop (localCheckpoint preserves the
    partitioning, so only the state shuffles each round).  Unique
    column names in the self-joins: a same-name self-join here trips
    Catalyst attribute dedup under localCheckpoint.
    """
    # r16 NEGATIVE RESULT (interleaved A/B at sf0.1, via
    # strong_components): .cache() instead of the checkpoint measured
    # +15% — the label table broadcasts at this scale, so the edge
    # side is never shuffled per round, and this helper's tables are
    # small and short-lived (2 fixpoints per SCC peel round), making
    # the columnar cache build pure overhead.
    e = e.repartition("source").localCheckpoint(eager=False)
    state = (
        init.join(
            e.groupBy(F.col("target").alias("id")).agg(F.max("source").alias("__p")),
            on="id",
            how="left",
        )
        .select("id", label, F.coalesce("__p", F.col("id")).alias("__p"))
        .localCheckpoint(eager=False)
    )

    def _round(s: DataFrame) -> DataFrame:
        nbr = e.join(
            s.select(F.col("id").alias("source"), label), on="source"
        ).select(F.col("target").alias("id"), label)
        merged = (
            s.select("id", label)
            .union(nbr)
            .groupBy("id")
            .agg(F.max(label).alias(label))
        )
        # one self-join on the pointer: the 2^k-th ancestor's
        # accumulated label, and the pointer jump p <- p(p)
        anc = s.select(
            F.col("id").alias("__p"),
            F.col(label).alias("__p_label"),
            F.col("__p").alias("__pp"),
        )
        hop = s.join(anc, on="__p", how="left").select(
            "id", "__p_label", F.coalesce("__pp", "__p").alias("__p")
        )
        return merged.join(hop, on="id", how="left").select(
            "id",
            F.greatest(F.col(label), F.coalesce("__p_label", label)).alias(label),
            "__p",
        )

    state, _ = _fixpoint(state, _round, lambda s: _fingerprint(s, "id", label), None)
    return state.select("id", label)


def _scc_local(src, dst, n: int):
    """Driver-local iterative Tarjan over the dense positions ``src``
    and ``dst`` of ``n`` nodes — the same role as the reference's
    direct scipy call (networkframe.py:721-730).  Returns, per node
    position, the position of its component's first member: with
    sorted ids (:func:`_dense_index`) that is the min member.
    Explicit stack (no recursion), O(V + E)."""
    import numpy as np

    # CSR-style adjacency
    order = np.argsort(src, kind="stable")
    src_s, dst_s = src[order], dst[order]
    starts = np.searchsorted(src_s, np.arange(n + 1))
    index = np.full(n, -1, dtype=np.int64)
    low = np.zeros(n, dtype=np.int64)
    on_stack = np.zeros(n, dtype=bool)
    comp = np.full(n, -1, dtype=np.int64)
    stack: list[int] = []
    counter = 0
    n_comp = 0
    for root in range(n):
        if index[root] != -1:
            continue
        work = [(root, starts[root])]
        while work:
            v, ei = work[-1]
            if ei == starts[v]:  # first visit
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            advanced = False
            while ei < starts[v + 1]:
                w = dst_s[ei]
                ei += 1
                if index[w] == -1:
                    work[-1] = (v, ei)
                    work.append((w, starts[w]))
                    advanced = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if low[v] == index[v]:
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp[w] = n_comp
                    if w == v:
                        break
                n_comp += 1
            if work:
                p = work[-1][0]
                low[p] = min(low[p], low[v])
    # comp holds Tarjan's scc numbers 0..n_comp-1; the first position
    # of each number is its component's first member
    _, first = np.unique(comp, return_index=True)
    return first[comp]


def _strong_component_min_labels(frame) -> DataFrame:
    """(id, comp) for strongly connected components, comp = min member.

    Up to ``_LOCAL_MAX_ROWS`` distinct edges the edges are collected
    and solved with an iterative driver-local Tarjan over their
    endpoints (every other node is a singleton) —
    exactly the reference's own strategy (scipy.csgraph,
    networkframe.py:721-730): Tarjan is inherently sequential, and the
    data-parallel alternative below is diameter-bound.

    Above the guard: Forward-Backward coloring (Orzan's FB family).
    Per peel round:
    1. color(v) = max id that reaches v (max-propagation + transitive
       shortcut, ~log diameter rounds).  A root r has color(r) == r.
    2. M(v) = max id reachable FROM v over same-color edges only, same
       loop shape on reversed edges.  Every node on a class-internal
       v -> r path has color exactly r, so
       v ∈ SCC(r)  ⟺  color(v) == r == M(v).
    3. Peel all found SCCs (every color class yields one) and repeat on
       the remainder — rounds = DAG peeling depth, not #SCCs.
    """
    fwd = frame.edges.select("source", "target").distinct().cache()
    epdf = _collect_local(fwd, _LOCAL_MAX_ROWS)
    if epdf is not None:
        fwd.unpersist()
        ids, src, dst = _dense_index(epdf)
        comp = _local_result(frame, ids, "comp", ids[_scc_local(src, dst, len(ids))])
        # a node on no edge is its own component
        return frame.nodes.select("id").join(comp, on="id", how="left").select(
            "id", F.coalesce("comp", "id").alias("comp")
        )
    remaining = frame.nodes.select("id").localCheckpoint(eager=True)
    results: list[DataFrame] = []
    for outer in range(_MAX_ITER):
        if remaining.isEmpty():
            break
        e = (
            fwd.join(remaining.withColumnRenamed("id", "source"), on="source", how="left_semi")
            .join(remaining.withColumnRenamed("id", "target"), on="target", how="left_semi")
        ).localCheckpoint(eager=True)
        colors = _max_label_fixpoint(
            e, remaining.select(F.col("id"), F.col("id").alias("color")), "color"
        )
        # same-color reversed edges: M propagates "max id reachable
        # from me" backwards along v -> u as u's M flowing to v
        ec = (
            e.join(colors.withColumnRenamed("id", "source").withColumnRenamed("color", "sc"), on="source")
            .join(colors.withColumnRenamed("id", "target").withColumnRenamed("color", "tc"), on="target")
            .filter(F.col("sc") == F.col("tc"))
            .select(F.col("target").alias("source"), F.col("source").alias("target"))
        ).localCheckpoint(eager=True)
        reach = _max_label_fixpoint(
            ec, remaining.select(F.col("id"), F.col("id").alias("m")), "m"
        )
        scc = (
            colors.join(reach, on="id")
            .filter(F.col("color") == F.col("m"))
            .select("id", "color")
        ).localCheckpoint(eager=True)
        comp = scc.groupBy("color").agg(F.min("id").alias("comp"))
        results.append(scc.join(comp, on="color").select("id", "comp"))
        remaining = remaining.join(
            scc.select("id"), on="id", how="left_anti"
        ).localCheckpoint(eager=True)
    fwd.unpersist()
    if not results:
        return frame.nodes.select("id", F.col("id").alias("comp")).limit(0)
    out = results[0]
    for r in results[1:]:
        out = out.union(r)
    return out


def connected_component_labels(
    frame, directed: bool = True, connection: str = "weak"
) -> DataFrame:
    """(id, component) with deterministic dense labels 0..k-1, ordered
    by (component size desc, min member id asc).

    scipy's label numbering (reference networkframe.py:721-730) is an
    internal artifact; this deterministic renumbering makes labels
    stable across runs and engines for comparison.
    """
    if connection not in ("weak", "strong"):
        raise ValueError("connection must be 'weak' or 'strong'")
    if not directed or connection == "weak" or not frame.directed:
        raw = _weak_component_min_labels(frame)
    else:
        raw = _strong_component_min_labels(frame)
    sizes = raw.groupBy("comp").agg(F.count(F.lit(1)).alias("n"))
    numbered = _dense_rank_distributed(
        sizes, [F.desc("n"), F.asc("comp")], out_col="component"
    ).select("comp", "component")
    # numbered has one row per component; AQE broadcasts when small and
    # falls back to a shuffled join on near-edgeless graphs (k ~ n),
    # where a forced broadcast would be its own scale-killer.
    return raw.join(numbered, on="comp").select("id", "component")


def _dense_rank_distributed(
    df: DataFrame, order: list, out_col: str = "rank"
) -> DataFrame:
    """0-based global dense row rank by ``order`` WITHOUT a
    single-partition window (``Window.orderBy`` with no partitionBy
    pulls every row into one task — fine for dozens of rows, a
    driver-killer when row count approaches node count).

    Two-phase scheme (same as RDD ``zipWithIndex``): range-repartition
    on the sort key so partition *p* holds a contiguous rank range,
    rank locally per partition, then add per-partition offsets.  The
    offsets table has one row per partition — bounded by an engine
    config constant, not by data — so collecting it to the driver is
    scale-safe.
    """
    from pyspark.sql import Window

    from .session import shuffle_partitions

    n_part = max(2, shuffle_partitions(df.sparkSession))
    part = df.repartitionByRange(n_part, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    lw = Window.partitionBy("_pid").orderBy(*order)
    local = part.withColumn("_lrank", F.row_number().over(lw) - F.lit(1))
    local = local.localCheckpoint(eager=True)  # avoid recompute across the 2 uses
    counts = {
        r["_pid"]: r["cnt"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if acc > 2**31 - 1:
        raise ValueError(
            f"_dense_rank_distributed: {acc} rows exceeds the int32 rank "
            "range (2^31-1); downstream consumers expose the rank as int — "
            "shard the input or widen out_col to bigint before scaling past "
            "2 billion rows"
        )
    off_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        ),
        F.col("_pid"),
    ) if offsets else F.lit(0)
    return local.withColumn(
        out_col, (F.col("_lrank") + off_expr).cast("int")
    ).drop("_pid", "_lrank")


# ---------------------------------------------------------------------------
# neighborhood aggregation
# ---------------------------------------------------------------------------
_AGG_FUNCS = {
    "mean": F.avg,
    "sum": F.sum,
    "std": F.stddev_samp,
    "max": F.max,
    "min": F.min,
    "count": F.count,
}


def aggregate_over_pairs(
    pairs: DataFrame,
    nodes: DataFrame,
    aggregations: Union[str, list] = "mean",
    drop_non_numeric: bool = True,
    feature_columns: list | None = None,
) -> DataFrame:
    """Aggregate node features over a caller-supplied (node, neighbor)
    pair table — the scale-native analog of the reference's
    ``aggregate_over_graph`` (algorithms.py:9-139), whose "mask" input
    becomes the long pair table.

    Output: one row per node id with ``{col}_neighbor_{agg}`` columns
    (naming per reference networkframe.py:1378-1379).  Spark's
    null-ignoring aggregates reproduce the reference's NaN-aware
    divisors (networkframe.py:1440-1447); ``stddev_samp`` matches its
    ddof=1 variance (networkframe.py:1487-1489).  The reference's
    std-without-mean ``NameError`` bug (networkframe.py:1483 vs 1447)
    is fixed here, by construction.
    """
    if isinstance(aggregations, str) or callable(aggregations):
        aggregations = [aggregations]
    from pyspark.sql.types import NumericType

    if feature_columns is None:
        feature_columns = [
            f.name
            for f in nodes.schema.fields
            if f.name != "id" and (not drop_non_numeric or isinstance(f.dataType, NumericType))
        ]
    feats = nodes.select(F.col("id").alias("neighbor"), *feature_columns)
    joined = pairs.join(feats, on="neighbor")
    if any(callable(a) for a in aggregations):
        # reference parity (§2.8 / networkframe.py:1352-1355): arbitrary
        # pandas-style callables run per neighborhood via applyInPandas
        # (Arrow grouped map — the slow path; string aggs stay JVM-side)
        import pandas as pd

        idt = nodes.schema["id"].dataType.simpleString()

        def agg_name(a):
            return a if isinstance(a, str) else getattr(a, "__name__", "agg")

        out_cols = [
            (col, a, f"{col}_neighbor_{agg_name(a)}")
            for col in feature_columns
            for a in aggregations
        ]
        schema = ", ".join(
            [f"id {idt}"] + [f"`{name}` double" for _, _, name in out_cols]
        )

        def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
            row = {"id": key[0]}
            for col, a, name in out_cols:
                series = pdf[col].dropna()
                if isinstance(a, str):
                    val = getattr(series, {"mean": "mean", "sum": "sum", "std": "std",
                                           "max": "max", "min": "min", "count": "count"}[a])()
                else:
                    val = a(series)
                row[name] = float(val) if val is not None and val == val else None
            return pd.DataFrame([row])

        out = joined.groupBy(F.col("node").alias("id")).applyInPandas(fn, schema)
        return nodes.select("id").join(out, on="id", how="left")
    aggs = []
    for col in feature_columns:
        for agg in aggregations:
            if agg not in _AGG_FUNCS:
                raise ValueError(f"unknown aggregation '{agg}'")
            aggs.append(_AGG_FUNCS[agg](col).alias(f"{col}_neighbor_{agg}"))
    out = joined.groupBy(F.col("node").alias("id")).agg(*aggs)
    # nodes with an empty neighborhood still get a row (all-null aggs)
    return nodes.select("id").join(out, on="id", how="left")


def k_hop_aggregation(
    frame,
    k: int,
    aggregations: Union[str, list] = "mean",
    directed: bool = False,
    drop_self_in_neighborhood: bool = True,
    drop_non_numeric: bool = True,
) -> DataFrame:
    """GNN-style k-hop neighborhood feature aggregation
    (reference: networkframe.py:1332-1511): pair table ⋈ neighbor
    features, then one hash aggregate per node."""
    pairs = k_hop_pair_table(
        frame, k, directed=directed, drop_self=drop_self_in_neighborhood
    )
    return aggregate_over_pairs(
        pairs, frame.nodes, aggregations=aggregations, drop_non_numeric=drop_non_numeric
    )


# ---------------------------------------------------------------------------
# spectral ordering
# ---------------------------------------------------------------------------
def _spectral_scores_local(node_ids, epdf, max_iter, tol):
    """Driver-local power iteration over a collected COO adjacency —
    the small-graph escape hatch (same role as the reference's direct
    scipy ``eigsh`` call, networkframe.py:1546).  Identical shift and
    update rule to the distributed loop: v <- normalize(A·v + sigma·v).
    Returns the sorted node ids and their scores."""
    import numpy as np

    ids, src, dst, _ = _dense_index(epdf, node_ids)
    n = len(ids)
    w = epdf["weight"].to_numpy(dtype=np.float64)
    sigma = float(np.bincount(src, np.abs(w), n).max(initial=0.0)) or 1.0
    v = np.full(n, 1.0 / max(n, 1) ** 0.5)
    prev_dot = None
    for _ in range(max_iter):
        av = np.bincount(src, w * v[dst], n) + sigma * v
        norm = float(np.sqrt((av * av).sum()))
        if norm == 0.0:
            v = np.zeros(n)
            break
        v_new = av / norm
        dot = abs(float((v * v_new).sum()))
        v = v_new
        if prev_dot is not None and abs(dot - 1.0) < tol:
            break
        prev_dot = dot
    return ids, v


def spectral_scores(
    frame, weight_col: str = "weight", max_iter: int = 60, tol: float = 1e-7
) -> DataFrame:
    """Leading-eigenvector scores of the symmetrized weighted adjacency
    via power iteration (reference: networkframe.py:1540-1549 uses
    ``eigsh(adj + adj.T, k=1, "LM")``).

    When the symmetrized edges and the node ids each fit
    ``_LOCAL_MAX_ROWS`` rows they are collected and iterated
    driver-side in numpy (per-iteration driver/executor round-trips
    dominate at small n); past it, each round is one join + hash
    aggregate (v <- A·v) and a scalar norm collect.  Eigenvector sign
    is not pinned (matches the reference's eigsh, which is also
    sign-ambiguous).
    """
    agg = frame.aggregated_edges(weight_col=weight_col)
    sym = (
        agg.union(
            agg.select(
                F.col("target").alias("source"),
                F.col("source").alias("target"),
                "weight",
            )
        )
        .groupBy("source", "target")
        .agg(F.sum("weight").alias("weight"))
    ).cache()
    ids = frame.nodes.select("id")
    epdf = _collect_local(sym, _LOCAL_MAX_ROWS)
    ipdf = epdf if epdf is None else _collect_local(ids, _LOCAL_MAX_ROWS)
    if ipdf is not None:
        sym.unpersist()
        node_ids, vec = _spectral_scores_local(ipdf["id"], epdf, max_iter, tol)
        return _local_result(frame, node_ids, "spectral_score", vec, "double")
    ids = ids.localCheckpoint(eager=True)
    n = ids.count()
    if n == 0:
        return ids.select("id", F.lit(0.0).alias("spectral_score"))
    # Diagonal shift sigma = max absolute row sum makes A + sigma*I PSD,
    # so power iteration converges even on bipartite graphs (where A's
    # extreme eigenvalues are +/-lambda and the unshifted iteration
    # oscillates).  The shift changes eigenvalues, not eigenvectors.
    sigma = (
        sym.groupBy("source").agg(F.sum(F.abs(F.col("weight"))).alias("s"))
        .agg(F.max("s")).collect()[0][0]
    ) or 1.0
    v = ids.select("id", F.lit(1.0 / (n ** 0.5)).alias("v")).localCheckpoint(eager=True)
    prev_dot = None
    for it in range(max_iter):
        av = (
            sym.join(v.withColumnRenamed("id", "target"), on="target")
            .groupBy(F.col("source").alias("id"))
            .agg(F.sum(F.col("weight") * F.col("v")).alias("av"))
        )
        av = ids.join(av, on="id", how="left").join(v, on="id").select(
            "id",
            (F.coalesce("av", F.lit(0.0)) + F.lit(float(sigma)) * F.col("v")).alias("av"),
        )
        stats = av.agg(
            F.sqrt(F.sum(F.col("av") * F.col("av"))).alias("norm")
        ).collect()[0]
        norm = stats["norm"] or 0.0
        if norm == 0.0:
            v = ids.select("id", F.lit(0.0).alias("v"))
            break
        # _cut_lineage, not a bare checkpoint: each round joins v twice,
        # so preserved plan statistics would square every round
        v_new = _cut_lineage(av.select("id", (F.col("av") / F.lit(norm)).alias("v")))
        dot = (
            v_new.withColumnRenamed("v", "v2")
            .join(v, on="id")
            .agg(F.abs(F.sum(F.col("v") * F.col("v2"))).alias("d"))
            .collect()[0]["d"]
        )
        v = v_new
        if prev_dot is not None and dot is not None and abs(dot - 1.0) < tol:
            break
        prev_dot = dot
    sym.unpersist()
    return v.select("id", F.col("v").alias("spectral_score"))


def aggregate_over_graph(
    pairs: DataFrame,
    nodes: DataFrame,
    aggregations: Union[str, list] = "mean",
    drop_self_in_neighborhood: bool = True,
    verbose: bool = False,
    engine: str = "auto",
) -> DataFrame:
    """Module-level export mirroring the reference's
    ``aggregate_over_graph`` (algorithms.py:9-139); the dense mask
    argument becomes a (node, neighbor) pair DataFrame."""
    if drop_self_in_neighborhood:
        pairs = pairs.filter(F.col("node") != F.col("neighbor"))
    return aggregate_over_pairs(pairs, nodes, aggregations=aggregations)


# ---------------------------------------------------------------------------
# centrality / motifs (scale-extension: beyond the reference's surface)
# ---------------------------------------------------------------------------
def _rank_shares(frame, weight_col: str | None) -> DataFrame:
    """``(source, target, share)``: each edge's fraction of its source's
    out-weight.  Weights quantize to 6 dp so the DECIMAL(28,6)
    out-weight normalizer sums them losslessly — the shares are then
    order-independent even though the division itself is floating."""
    w = (
        F.col(weight_col).cast("decimal(28,6)").cast("double")
        if weight_col
        else F.lit(1.0)
    )
    edges = frame.edges.select("source", "target", w.alias("w"))
    out_w = edges.groupBy("source").agg(
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias("w_out")
    )
    return edges.join(out_w, on="source").select(
        "source", "target", (F.col("w") / F.col("w_out")).alias("share")
    )


def _rank_round(
    e: DataFrame, pr: DataFrame, floor: DataFrame, keys: list, damping: float
) -> DataFrame:
    """One PageRank round over ``keys + [id, pr]`` state: contributions
    ``c`` (1e-18-scaled longs, ``b = 0.0``) and the ``floor`` rows
    (``c = 0``, ``b`` = restart) meet in ONE aggregate, ``round(sum(b)
    + d * sum(c) / 1e18, 12)``; ``sum(b)`` is exact, as every ``b`` but
    the floor row's is 0.0."""
    return (
        e.join(pr.withColumnRenamed("id", "source"), on="source")
        .select(
            *keys,
            F.col("target").alias("id"),
            F.floor(F.col("pr") * F.col("share") * F.lit(1e18)).alias("c"),
            F.lit(0.0).alias("b"),
        )
        .unionByName(floor)
        .groupBy(*keys, "id")
        .agg(
            F.round(
                F.sum("b") + F.lit(damping) * (F.sum("c") / F.lit(1e18)), 12
            ).alias("pr")
        )
    )


def pagerank(
    frame,
    damping: float = 0.85,
    n_iter: int = 10,
    weight_col: str | None = None,
    personalize: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank: ``pr'(v) = (1-d)/N + d * sum(pr(u) *
    w(u,v) / W_out(u) for u -> v)`` (dangling mass not redistributed —
    the variant with an exact fixed-iteration SQL twin).  Returns
    ``(id, pagerank)`` with pagerank rounded to 6 dp.

    ``personalize``: optional seed-node list — restart mass ``(1-d)``
    and the initial distribution concentrate uniformly on the seeds
    instead of all nodes (personalized PageRank / random walk with
    restart — the similarity ranking behind "related nodes" features).
    Duplicates collapse; a seed absent from the node table is ignored,
    as in :func:`pagerank_personalized_batch` and networkx (``k``
    counts the present seeds, in the same aggregate that counts the
    nodes); an empty list, or one with no seed in the node table,
    raises ``ValueError``.  The seed set is assumed small (an ``isin``
    literal predicate); for large seed sets join a seeds table
    instead.

    Multigraph semantics: parallel edges each contribute (``W_out``
    counts multiplicity); ``weight_col`` switches to weighted shares —
    weights quantize to 6 dp and the out-weight normalizer sums them
    as exact DECIMAL(28,6), so the shares (and therefore every rank)
    are order-independent and engine-portable even though the share
    division itself is floating.  Weights must be non-negative.

    Scale design: the per-iteration work is one keyed join
    (edges ⋈ ranks on ``source``) and one partial+final hash aggregate
    on ``target`` (:func:`_rank_round`) — both uniform-shuffle,
    AQE-skew-splittable; the out-weight table is joined once up front
    (:func:`_rank_shares`) and checkpointed so its lineage isn't
    replayed per round.

    Determinism without BigDecimal: contributions are floored to
    1e-18-resolution scaled LONGS and summed as integers — exact and
    order-independent like a DECIMAL(38,18) sum, but it stays inside
    whole-stage codegen (measured >2x faster end-to-end at sf0.1; the
    decimal aggregate was the dominant cost).  Safe because each
    contribution and every per-node sum of them is ≤ total rank mass
    ≤ 1.0, so scaled values stay below 1e18 < 2^63 (requires
    non-negative weights).  Each round rounds to 12 dp, so results are
    bit-reproducible across engines, run-to-run and at any parallelism.
    Per-round lazy checkpoints keep lineage O(1) in ``n_iter``.
    """
    if personalize is not None:
        seeds = list(dict.fromkeys(personalize))
        if not seeds:
            raise ValueError("pagerank: empty personalize list")
    nodes = frame.nodes.select("id")
    if personalize is None:
        n = len(frame)
    else:
        in_seeds = F.col("id").isin(seeds)
        counts = nodes.agg(
            F.count(F.lit(1)).alias("n"), F.count(F.when(in_seeds, 1)).alias("k")
        ).first()
        n, k = counts["n"], counts["k"]
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("pagerank"))
    if personalize is not None and k == 0:
        raise ValueError("pagerank: no personalize seed is in the node table")
    e = _rank_shares(frame, weight_col)
    # r16, measured mode-split (interleaved A/B at sf0.1): in WEIGHTED
    # mode, hash-partitioning the share table on the per-round join
    # key and .cache()-ing it measured −15..−26% across three
    # sessions — the InMemoryRelation preserves the partitioning the
    # old localCheckpoint loses (LogicalRDD reports
    # UnknownPartitioning, probe-verified), so rounds stop paying for
    # the share table's layout.  In UNWEIGHTED mode the same change
    # measured consistently SLOWER (best-of-5 ×3 interleaved passes:
    # 3.69-3.97 checkpoint vs 4.51-6.19 cache) — the rank table
    # broadcasts at this scale, so the share side is never shuffled
    # per round and the extra repartition + columnar cache build are
    # pure cost; the unweighted path keeps the RDD-scoped checkpoint.
    # Cache is per-query scope; bench/callers clear it.
    if weight_col is None:
        e = e.localCheckpoint(eager=False)
    else:
        e = e.repartition("source").cache()
    if personalize is None:
        base_col = F.lit((1.0 - damping) / n)
        init_col = F.lit(1.0 / n)
    else:
        base_col = F.when(in_seeds, F.lit((1.0 - damping) / k)).otherwise(
            F.lit(0.0)
        )
        init_col = F.when(in_seeds, F.lit(1.0 / k)).otherwise(F.lit(0.0))
    pr = nodes.select("id", init_col.alias("pr"))
    # r16 optimization (guide §2.4): the per-iteration `nodes` left
    # join existed only to hand no-inflow nodes an s=0 row.  Folding a
    # zero row per node into the SAME aggregate exchange (union before
    # groupBy — partial aggregation absorbs it map-side) yields the
    # identical sum for every id while guaranteeing every node a row,
    # so the join (and its node-table re-scan) disappears from all
    # n_iter rounds; the zero table (which also carries each node's
    # restart base as ``b``) is checkpointed once up front.
    # Relies on the induced contract (edge endpoints ⊆ nodes, frame.py
    # C1): a stray target id would now surface as a row instead of
    # being silently dropped by the old left join.
    zeros = nodes.select(
        "id", F.lit(0).cast("bigint").alias("c"), base_col.alias("b")
    ).localCheckpoint(eager=False)
    pr, _ = _fixpoint(
        pr, lambda pr: _rank_round(e, pr, zeros, [], damping), None, n_iter
    )
    return pr.select("id", F.round("pr", 6).alias("pagerank"))


def _simple_edges(frame) -> DataFrame:
    """``(u, v)`` with ``u < v``: the undirected simple projection of
    the edge table (self-loops dropped; direction and parallel edges
    collapsed)."""
    e = frame.edges.select("source", "target").filter(
        F.col("source") != F.col("target")
    )
    return e.select(
        F.least("source", "target").alias("u"),
        F.greatest("source", "target").alias("v"),
    ).distinct()


def _simple_degrees(und: DataFrame) -> DataFrame:
    """``(id, deg)``: node degrees in the ``(u, v)`` pair table ``und``
    (nodes without an edge are absent)."""
    return (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the ``(u, v)`` pair table ``und`` exactly
    once, as ``(a, b1, b2)`` rows; ``deg`` is :func:`_simple_degrees`
    of ``und``.

    Degree-ordered orientation (the node-iterator++ compact-forward
    algorithm): every undirected edge is directed from its
    lower-``(degree, id)`` endpoint, so each triangle is found exactly
    once at its lowest-degree corner ``a`` and the wedge self-join
    materializes only ``sum_v C(outdeg(v), 2)`` rows — O(m^1.5) total
    for any graph, instead of the O(sum deg^2) a naive wedge join (or
    common-neighbor join) pays on skewed (power-law) degree
    distributions.  All three joins are keyed equi-joins (no cross
    products); the closing-edge join is on the composite (b, c) pair
    key.
    """
    w = und.join(
        deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), on="u"
    ).join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), on="v")
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = w.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lt, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    e1 = oriented.select("a", F.col("b").alias("b1"), F.col("db").alias("db1"))
    e2 = oriented.select("a", F.col("b").alias("b2"), F.col("db").alias("db2"))
    wedges = e1.join(e2, on="a").filter(
        (F.col("db1") < F.col("db2"))
        | ((F.col("db1") == F.col("db2")) & (F.col("b1") < F.col("b2")))
    )
    closing = oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    return wedges.join(closing, on=["b1", "b2"]).select("a", "b1", "b2")


def _edge_support(tri: DataFrame) -> DataFrame:
    """``(u, v, c)`` with ``u < v``: the number of :func:`_triangles`
    rows each edge belongs to — each triangle votes for its 3 edges
    (edges in no triangle are absent)."""
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b1").alias("u"), F.greatest("a", "b1").alias("v")
                ),
                F.struct(
                    F.least("a", "b2").alias("u"), F.greatest("a", "b2").alias("v")
                ),
                F.struct(
                    F.least("b1", "b2").alias("u"),
                    F.greatest("b1", "b2").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))


def triangle_counts(frame) -> DataFrame:
    """Per-node triangle counts over the undirected simple projection
    of the graph (self-loops and duplicate/parallel edges collapsed).
    Returns ``(id, triangles)`` for every node, zeros included.

    Scale design: the degree-ordered enumeration of :func:`_triangles`
    (O(m^1.5) wedges), then one per-corner hash aggregate.
    """
    ids = frame.nodes.select("id")
    und = _simple_edges(frame)
    tri = _triangles(und, _simple_degrees(und))
    # one explode, not a 3-way union of projections: Catalyst has no
    # common-subtree elimination across union branches, so the union
    # form re-executes the expensive wedge join three times (measured
    # 3x wall on the 5M-edge stress graph)
    corners = (
        tri.select(F.explode(F.array("a", "b1", "b2")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return ids.join(corners, on="id", how="left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def _bfs_local(frame, epdf, node_id: Any, max_hops: int | None) -> DataFrame:
    """Driver-local vectorized BFS over a collected pair table: each
    hop gathers all frontier adjacency ranges with one repeat/arange
    construction — no Python per-node loop."""
    import numpy as np

    seeds = [r["id"] for r in _seed_df(frame, node_id).collect()]
    ids, src, dst, seeds = _dense_index(epdf, seeds)
    n = len(ids)
    order = np.argsort(src, kind="stable")
    ss, dd = src[order], dst[order]
    bounds = np.searchsorted(ss, np.arange(n + 1))
    dist = np.full(n, -1, dtype=np.int64)
    frontier = np.unique(seeds)
    dist[frontier] = 0
    limit = _MAX_ITER if max_hops is None else max_hops
    d = 0
    while frontier.size and d < limit:
        d += 1
        lo, hi = bounds[frontier], bounds[frontier + 1]
        lens = hi - lo
        total = int(lens.sum())
        if total == 0:
            break
        offs = np.repeat(np.cumsum(lens) - lens, lens)
        idx = np.repeat(lo, lens) + (np.arange(total) - offs)
        nbrs = dd[idx]
        fresh = np.unique(nbrs[dist[nbrs] < 0])
        if fresh.size == 0:
            break
        dist[fresh] = d
        frontier = fresh
    mask = dist >= 0
    # "int" matches the distributed loop's F.lit(d)
    return _local_result(frame, ids[mask], "dist", dist[mask].astype("int32"), "int")


def hop_distances(
    frame, node_id: Any, directed: bool = True, max_hops: int | None = None
) -> DataFrame:
    """Single-source BFS hop distances: ``(id, dist)`` for every node
    reachable from ``node_id`` (the seed itself at ``dist = 0``).

    Reference: networkframe.py:962-998 runs scipy ``shortest_path``
    from one source and keeps the finite rows; this is the distance
    vector that computation produces, unweighted.

    Scale design: graphs past the local guard below run
    :func:`_bfs_waves` with a key-less frontier over the pair table,
    cached hash-partitioned on ``source`` once.
    """
    pairs = _edge_pairs(frame, directed, partition_by_source=True).cache()
    epdf = _collect_local(pairs, _LOCAL_MAX_ROWS)
    if epdf is not None:
        # the reference's own strategy (scipy shortest_path,
        # networkframe.py:962-998): a frontier loop costs a Spark job
        # per hop, a vectorized local BFS milliseconds
        out = _bfs_local(frame, epdf, node_id, max_hops)
    else:
        seed = _seed_df(frame, node_id).select("id", F.lit(0).alias("dist"))
        out = _bfs_waves(pairs, seed, [], directed, max_hops)
    pairs.unpersist()
    return out


def k_core(frame, k: int, max_iter: int = 50) -> DataFrame:
    """The k-core of the undirected simple projection: iteratively
    peel nodes of degree < k until fixpoint; returns ``(id,
    core_degree)`` for the surviving nodes (degree counted inside the
    core).

    Scale-extension operator (no reference counterpart; SURVEY §2.11).
    The k-core is the unique maximal subgraph with min degree >= k, so
    the fixpoint is order-independent — any peeling schedule converges
    to the same set, which is what makes the result oracle-checkable
    by an unrolled fixed-iteration SQL twin.

    Scale design: each round is one partial+final hash aggregate
    (degrees) and two semi-joins (drop adjacency rows whose endpoint
    was peeled) — all keyed equi-joins on the node id, uniform
    shuffles.  The adjacency is halved rows-per-round in the worst
    case; :func:`_fixpoint` runs the peel with ``count`` as its exact
    convergence signature.  Rounds are bounded by the peel depth
    (<= max core number steps, typically << diameter).
    """
    und = _simple_edges(frame)
    nb = (
        und.select(F.col("u").alias("id"), F.col("v").alias("nb"))
        .unionAll(und.select(F.col("v").alias("id"), F.col("u").alias("nb")))
        .localCheckpoint(eager=False)
    )

    def _peel(nb: DataFrame) -> DataFrame:
        keep = (
            nb.groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("id")
        )
        return nb.join(keep, on="id", how="left_semi").join(
            keep.withColumnRenamed("id", "nb"), on="nb", how="left_semi"
        )

    nb, _ = _fixpoint(nb, _peel, DataFrame.count, max_iter)
    return (
        nb.groupBy("id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def link_prediction(
    frame,
    min_common: int = 2,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link-prediction scores over the undirected
    simple projection: for every non-adjacent pair ``(a, b)`` with at
    least ``min_common`` shared neighbors, emit ``(source, candidate,
    n_common, jaccard, adamic_adar)`` with ``source < candidate``.

    Scale-extension operator (SURVEY §2.11).  ``jaccard = |N(a) ∩
    N(b)| / |N(a) ∪ N(b)|``; ``adamic_adar = Σ_w 1/ln(deg(w))`` over
    shared neighbors ``w`` (Adamic & Adar 2003) — both standard
    similarity-based link predictors.

    Scale design: candidate pairs come from a wedge self-join of the
    adjacency on the shared-neighbor key ``w`` — output is
    ``Σ_w C(deg(w), 2)`` rows, so a single high-degree hub is
    quadratic in its degree.  ``max_hub_degree`` caps that skew by
    dropping wedge centers above the cap BEFORE the self-join (the
    standard practical mitigation: scores through mega-hubs carry
    negligible Adamic-Adar weight anyway, 1/ln(deg)).  Everything else
    is keyed equi-joins + one hash aggregate on the pair key; the
    existing-edge exclusion is a left-anti join on the same key.
    Scores round to 6 dp for engine-portable hashes.

    ``nb`` and ``deg`` are cached: the plan references them 2-4x each
    and Catalyst has no common-subtree elimination across those
    references — without reuse the upstream scan+union+dedup
    re-executes per reference (measured 26 parquet scans / 114
    exchanges in the unshared plan).  Cache (not localCheckpoint)
    because InMemoryRelation preserves the clustered-on-``w``
    outputPartitioning the fused shape establishes.
    """
    e = frame.edges.select("source", "target").filter(
        F.col("source") != F.col("target")
    )
    # r16 (guide §2.4): symmetrize the raw edges FIRST, repartition on
    # the wedge-center key `w` once, and dedupe partition-locally
    # (grouping keys ⊇ partitioning key) — the same fused one-exchange
    # shape as _edge_pairs(partition_by_source=True).  Everything that
    # joins on `w` below (hub semi-join, wdeg decoration, the wedge
    # self-join) is then already clustered and adds NO further
    # exchange; `deg`'s node-keyed aggregate is the one extra shuffle.
    # The old und/nb lazy localCheckpoints erased that partitioning
    # (LogicalRDD reports UnknownPartitioning under AQE), so both
    # tables are .cache()d instead — cache preserves the plan's
    # outputPartitioning, and each is referenced 2-4x.  Same row sets.
    nb = (
        e.select(F.col("source").alias("w"), F.col("target").alias("x"))
        .union(
            e.select(F.col("target").alias("w"), F.col("source").alias("x"))
        )
        .repartition("w")
        .dropDuplicates(["w", "x"])
        .cache()
    )
    deg = (
        nb.groupBy(F.col("x").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .cache()
    )
    centers = nb
    if max_hub_degree is not None:
        ok = deg.filter(F.col("deg") <= max_hub_degree).select(
            F.col("id").alias("w")
        )
        centers = nb.join(ok, on="w", how="left_semi")
    wd = centers.join(
        deg.select(F.col("id").alias("w"), F.col("deg").alias("wdeg")), on="w"
    )
    t1 = wd.select("w", F.col("x").alias("a"), "wdeg")
    t2 = wd.select("w", F.col("x").alias("b"))
    pairs = (
        t1.join(t2, on="w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("wdeg").cast("double"))).alias("aa"),
        )
        .filter(F.col("n_common") >= min_common)
        .join(
            # the old `und` (u < v) is exactly nb's lower-triangle
            nb.filter(F.col("w") < F.col("x")).select(
                F.col("w").alias("a"), F.col("x").alias("b")
            ),
            on=["a", "b"],
            how="left_anti",
        )
    )
    return (
        pairs.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            F.col("a").alias("source"),
            F.col("b").alias("candidate"),
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round("aa", 6).alias("adamic_adar"),
        )
    )


def graph_metrics(frame) -> DataFrame:
    """One-row graph-science summary beyond :meth:`describe`'s
    structural counts: ``(density, reciprocity, assortativity,
    avg_degree)`` over the simple projection (self-loops and parallel
    edges collapsed).

    - density: distinct non-loop ordered pairs / n(n-1)
    - reciprocity: fraction of distinct directed pairs whose reverse
      also exists
    - assortativity: Pearson correlation of endpoint degrees over the
      symmetrized edge list (each undirected edge contributes both
      orientations — Newman 2002's definition), degrees from the
      undirected simple projection
    - avg_degree: mean undirected simple degree over all nodes

    All four are single-pass aggregates over the distinct-pair table +
    one degree join; every term is a plain SQL scalar (oracle-
    checkable).  Values round to 6 dp.
    """
    n = frame.nodes.count()
    # one aggregate keyed on the UNORDERED pair replaces the old
    # reciprocity self-join: each distinct ordered non-loop pair lands
    # in its unordered bucket, so per-bucket cnt==2 means "reverse
    # exists" and m / reciprocal-count / undirected-edge-count all fall
    # out of a single second-stage agg.  sum(deg) = 2*|und| gives
    # avg_degree for free.  Driver-side jobs: nodes.count + this agg
    # (was 4 jobs + a self-join); the assortativity plan below is the
    # only remaining heavy action and reuses the checkpointed
    # unordered-pair table.
    und_counts = (
        frame.edges.select("source", "target")
        .filter(F.col("source") != F.col("target"))
        .distinct()
        .groupBy(
            F.least("source", "target").alias("u"),
            F.greatest("source", "target").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    stats = und_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("m"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") == 2, 2).otherwise(0)), F.lit(0)
        ).alias("recip"),
        F.count(F.lit(1)).alias("n_und"),
    ).collect()[0]
    m, recip, n_und = stats["m"], stats["recip"], stats["n_und"]
    und = und_counts.select("u", "v")
    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    de = (
        sym.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    )
    assort = de.agg(F.round(F.corr("da", "db"), 6).alias("assortativity"))
    dens = m / (n * (n - 1)) if n > 1 else 0.0
    return (
        assort.withColumn("density", F.round(F.lit(dens), 6))
        .withColumn("reciprocity", F.round(F.lit(recip / m if m else 0.0), 6))
        .withColumn(
            "avg_degree", F.round(F.lit(2 * n_und / n if n else 0.0), 6)
        )
        .select("density", "reciprocity", "assortativity", "avg_degree")
    )


def local_clustering(frame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected
    simple projection: ``(id, triangles, clustering)`` with
    ``clustering = triangles / C(deg, 2)`` (0 where degree < 2).

    One degree aggregate joined onto :func:`triangle_counts` — the
    O(m^1.5) oriented wedge join there dominates; this adds one
    uniform hash agg + one keyed join.  Rounds to 6 dp.
    """
    tri = triangle_counts(frame)
    deg = _simple_degrees(_simple_edges(frame))
    wedges = F.col("deg") * (F.col("deg") - 1) / 2
    return (
        tri.join(deg, on="id", how="left")
        .select(
            "id",
            "triangles",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.round(F.col("triangles") / wedges, 6),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def _relax(e: DataFrame, state: DataFrame, col: str, cand, agg) -> DataFrame:
    """One synchronous relax round over ``(id, col)`` state: ``e ⋈
    state`` on ``source`` proposes ``cand`` at each ``target``, and one
    ``agg`` (``F.min`` / ``F.max``) aggregate per ``id`` keeps the
    better of the proposals and the node's current value."""
    return (
        e.join(state.withColumnRenamed("id", "source"), on="source")
        .select(F.col("target").alias("id"), cand.alias(col))
        .unionByName(state)
        .groupBy("id")
        .agg(agg(col).alias(col))
    )


def _bellman_ford_local(frame, epdf, node_id: Any, max_rounds: int) -> DataFrame:
    """Driver-local synchronous relaxation over the collected cheapest
    edges; each round is one vectorized ``np.minimum.at`` scatter —
    exact same bounded-round semantics as the distributed loop."""
    import numpy as np

    seeds = [r["id"] for r in _seed_df(frame, node_id).collect()]
    ids, src, dst, seeds = _dense_index(epdf, seeds)
    w = epdf["w"].to_numpy(dtype=np.float64)
    dist = np.full(len(ids), np.inf)
    dist[seeds] = 0.0
    for _ in range(max_rounds):
        cand = dist[src] + w
        new = dist.copy()
        np.minimum.at(new, dst, cand)
        if np.array_equal(new, dist):
            break
        dist = new
    mask = np.isfinite(dist)
    # F.round (HALF_UP) here, NOT np.round (half-even): must match the
    # distributed path and the SQL twin bit-for-bit
    return _local_result(frame, ids[mask], "dist", dist[mask], "double").select(
        "id", F.round("dist", 6).alias("dist")
    )


def shortest_paths(
    frame,
    node_id: Any,
    weight_col: str = "weight",
    directed: bool = True,
    max_rounds: int = 30,
) -> DataFrame:
    """Single-source weighted shortest-path distances (synchronous
    Bellman-Ford): ``(id, dist)`` for every node reachable from
    ``node_id`` within ``max_rounds`` relaxations, ``dist`` rounded to
    6 dp.  Weights must be non-negative (no negative-cycle detection).

    Scale-extension operator (SURVEY §2.11); the weighted counterpart
    of :func:`hop_distances`.  Each synchronous round computes

        dist_r(v) = min(dist_{r-1}(v), min_u(dist_{r-1}(u) + w(u, v)))

    which is a pure function of the previous round, so a fixed-round
    unrolled SQL twin reproduces it exactly (extra rounds after
    convergence are no-ops — early exit is just an optimization and
    cannot change the output).

    Scale design: the weighted edge table is cached hash-partitioned
    on ``source``; each round shuffles only the current distance
    table (node-sized) into one keyed join + one min-aggregate
    (:func:`_relax`), with lineage cut by a checkpoint per round.
    Convergence is one :func:`_fingerprint` of the distance table per
    round (distances only fall, so a repeated fingerprint is the
    fixpoint); rounds are bounded by the weighted hop diameter.
    """
    if directed:
        e = frame.edges.select("source", "target", F.col(weight_col).alias("w"))
    else:
        # undirected: each edge is traversable both ways at its weight
        rev = frame.edges.select(
            F.col("target").alias("source"),
            F.col("source").alias("target"),
            F.col(weight_col).alias("w"),
        )
        e = (
            frame.edges.select("source", "target", F.col(weight_col).alias("w"))
            .unionByName(rev)
        )
    # parallel edges: keep the cheapest (shortest-path semantics)
    e = e.groupBy("source", "target").agg(F.min("w").alias("w")).cache()
    epdf = _collect_local(e, _LOCAL_MAX_ROWS)
    if epdf is not None:
        # guarded local twin (same policy as hop_distances/SCC): R
        # numpy scatter-min relaxation rounds are bit-equal to the
        # distributed sync rounds — min is order-independent and the
        # per-candidate float add is identical
        e.unpersist()
        return _bellman_ford_local(frame, epdf, node_id, max_rounds)
    part = e.repartition("source").cache()
    dist = (
        _seed_df(frame, node_id)
        .select("id", F.lit(0.0).alias("dist"))
        .localCheckpoint(eager=False)
    )
    dist, _ = _fixpoint(
        dist,
        lambda d: _relax(part, d, "dist", F.col("dist") + F.col("w"), F.min),
        lambda d: _fingerprint(d, "id", "dist"),
        max_rounds,
    )
    part.unpersist()
    e.unpersist()
    return dist.select("id", F.round("dist", 6).alias("dist"))


def label_propagation(
    frame,
    n_iter: int = 3,
    directed: bool = False,
    weight_col: str | None = None,
    self_weight: float = 0.0,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made deterministic: ``(id, community)`` after
    ``n_iter`` rounds over the undirected simple projection (or
    directed out-edges when ``directed``).

    Unweighted (``weight_col=None``): each round every node adopts
    the most frequent label among its neighbors AND itself (the
    self-vote damps the two-coloring oscillation synchronous LPA is
    known for).  Weighted (Barber & Clark 2009 style): the vote is
    ``sum(weight)`` per neighbor label — parallel edges accumulate,
    weights are summed as exact DECIMAL(28,6) so the argmax is
    order-independent and engine-portable; ``self_weight`` is the
    node's own-label vote (0 disables self-damping; raise it on
    graphs that oscillate).  Weights must be non-negative.  Ties
    break to the SMALLEST label, and isolated nodes keep their own —
    the result is a pure function of the graph (no RNG, no visit
    order), and a fixed-``n_iter`` unrolled SQL twin is exact.
    Pair the labels with :func:`community_quality` for the modularity
    readout of the resulting partition.

    Scale design: identical round shape in both modes — one keyed
    join (labels onto edges) + two hash aggregates per round — count
    (or decimal weight-sum) per (node, neighbor-label), then a
    deterministic argmax via ``min_by`` on the (-votes, label) pair.
    All shuffles key on the node id; lineage is cut per round.
    """
    # pre-partitioned on the per-round join key: each round then
    # shuffles only the node-sized label table into the join
    if weight_col is None:
        pairs = _edge_pairs(frame, directed, partition_by_source=True).filter(
            F.col("source") != F.col("target")
        )
        vote = F.lit(1).cast("decimal(28,6)")
    else:
        pairs = _weighted_pairs(
            frame, directed, weight_col, partition_by_source=True
        ).filter(F.col("source") != F.col("target"))
        vote = F.col("w")
    # r16, measured mode-split (interleaved A/B at sf0.1): in WEIGHTED
    # mode, .cache() instead of the checkpoint measured −35%
    # (4.65 -> 3.01 s) — the InMemoryRelation preserves the source
    # partitioning the checkpoint loses (LogicalRDD reports
    # UnknownPartitioning, probe-verified), so rounds stop
    # re-exchanging the decimal-weighted pair table.  In UNWEIGHTED
    # mode the same cache measured +40% (0.90 -> 1.26 s): the label
    # table broadcasts there, the pair side is never shuffled anyway,
    # and the columnar cache build is pure cost — so the unweighted
    # path keeps the RDD-scoped checkpoint.  No unpersist on the
    # cached path: nothing materializes before the caller's first
    # action (cache is per-query scope; bench/callers clear it).
    if weight_col is None:
        pairs = pairs.localCheckpoint(eager=False)
    else:
        pairs = pairs.cache()
    self_vote = F.lit(1 if weight_col is None else self_weight).cast(
        "decimal(28,6)"
    )
    labels = frame.nodes.select(
        "id", F.col("id").alias("community")
    ).localCheckpoint(eager=True)

    def _round(labels: DataFrame) -> DataFrame:
        votes = (
            pairs.join(
                labels.select(
                    F.col("id").alias("source"),
                    F.col("community").alias("nb_label"),
                ),
                on="source",
            )
            .select(F.col("target").alias("id"), "nb_label", vote.alias("__v"))
            .unionByName(
                labels.select(
                    "id",
                    F.col("community").alias("nb_label"),
                    self_vote.alias("__v"),
                )
            )
            .groupBy("id", "nb_label")
            .agg(F.sum("__v").alias("n"))
        )
        # most heavily voted neighbor label, ties -> smallest label
        winner = votes.groupBy("id").agg(
            # min_by on (-n, label): largest vote, then SMALLEST label.
            # Negating the vote (always numeric) instead of the label
            # keeps the tie-break legal for string node ids
            F.expr("min_by(nb_label, struct(-n, nb_label))").alias("__new")
        )
        # r16 optimization (guide §2.4): `votes` unions a self-vote row
        # for EVERY current label row, so `winner` covers every node —
        # the old `labels.join(winner, left) + coalesce` was a
        # node-sized join per round that could never miss; `winner` IS
        # the next label table.  The explicit count() materializer is
        # gone too: the lazy checkpoint materializes inside the next
        # round's first job (same compute, one fewer job barrier per
        # round).
        return winner.select("id", F.col("__new").alias("community"))

    labels, _ = _fixpoint(labels, _round, None, n_iter)
    return labels


def approx_diameter(
    frame, directed: bool = False, max_hops: int | None = None
) -> DataFrame:
    """Double-sweep BFS diameter bound: BFS from the minimum node id,
    then a second BFS from the farthest node found — the second
    eccentricity is a lower bound on the graph diameter that is exact
    on trees and empirically tight on real-world graphs (Magnien,
    Latapy & Habib 2009), at the cost of TWO BFS runs instead of
    all-pairs.  Returns one row ``(start_id, peripheral_id,
    diameter_lower_bound)``.

    Scale design: two :func:`hop_distances` frontier loops (edge table
    cached hash-partitioned on source, node-sized frontiers); the
    argmax between sweeps is a 1-row bounded collect with a
    deterministic (max dist, min id) tie-break.  Disconnected rest of
    the graph is simply unreached — the bound applies to the seed's
    component, matching every BFS-based estimator.
    """
    from pyspark.sql import functions as F

    seed_row = frame.nodes.agg(F.min("id").alias("m")).first()
    if seed_row is None or seed_row["m"] is None:
        raise ValueError("approx_diameter: empty node table")
    seed = seed_row["m"]
    d1 = hop_distances(frame, seed, directed=directed, max_hops=max_hops)
    far = (
        d1.orderBy(F.desc("dist"), F.asc("id")).limit(1).first()
    )  # bounded 1-row collect
    d2 = hop_distances(frame, far["id"], directed=directed, max_hops=max_hops)
    return d2.agg(
        F.lit(seed).alias("start_id"),
        F.lit(far["id"]).alias("peripheral_id"),
        F.max("dist").alias("diameter_lower_bound"),
    )


def pagerank_personalized_batch(
    frame,
    seeds: list,
    damping: float = 0.85,
    n_iter: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Batched single-seed personalized PageRank (random walk with
    restart): ONE set of rounds computes an independent PPR vector per
    seed — the similarity ranking behind "related nodes" served for
    many query nodes at once, where looping :func:`pagerank` with
    ``personalize=[s]`` per seed would re-shuffle the edge table k
    times.  Returns the sparse ``(seed, id, pagerank)`` table of
    strictly-positive ranks (6 dp); per seed the rows equal
    ``pagerank(frame, personalize=[seed])`` filtered to rank > 0
    (equivalence-tested).  Seeds absent from the node table are
    ignored; duplicates collapse.

    Determinism: identical arithmetic to :func:`pagerank` — shares
    from an exact DECIMAL(28,6) out-weight normalizer, contributions
    floored to 1e-18-scaled longs and integer-summed (order-
    independent inside whole-stage codegen), every round rounded to
    12 dp; per (seed, node) the round update adds at most two doubles
    (restart base + damped contribution), so results are
    bit-reproducible at any parallelism and a fixed-round unrolled
    SQL twin is exact.

    Scale design: state is the SPARSE (seed, id, pr) table — k x
    |reachable| rows, grown frontier-wise, never k x N dense; each
    round is one keyed join (edges x state on ``source``, the same
    uniform shuffle as :func:`pagerank`) and ONE (seed, target) hash
    aggregate with map-side partials that also folds in the seed's
    restart base — the shared :func:`_rank_round`.  The share table is
    cached once; round lineage is cut lazily.  Hub seeds cost what
    their reachable set costs — there is no per-seed driver loop
    anywhere.
    """
    if not seeds:
        raise ValueError("pagerank_personalized_batch: empty seed list")
    # r16: source-partitioned cached share table — same rationale as
    # pagerank (the old checkpoint re-exchanged it every round)
    e = _rank_shares(frame, weight_col).repartition("source").cache()
    seed_rows = (
        frame.nodes.filter(F.col("id").isin(list(set(seeds))))
        .select(F.col("id").alias("seed"))
        .localCheckpoint(eager=True)
    )
    floor = seed_rows.select(
        "seed",
        F.col("seed").alias("id"),
        F.lit(0).cast("bigint").alias("c"),
        F.lit(1.0 - damping).alias("b"),
    )
    pr = seed_rows.select("seed", F.col("seed").alias("id"), F.lit(1.0).alias("pr"))
    pr, _ = _fixpoint(
        pr,
        lambda pr: _rank_round(e, pr, floor, ["seed"], damping).filter(
            F.col("pr") > 0
        ),
        None,
        n_iter,
    )
    return pr.select("seed", "id", F.round("pr", 6).alias("pagerank"))


def hits(frame, n_iter: int = 3, directed: bool = True) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999), fixed-iteration with
    L1 normalization: each round ``a'(v) = sum(h(u) for u -> v)`` then
    ``a = a' / sum(a')``, and symmetrically ``h'(u) = sum(a(v) for
    u -> v)``.  Returns ``(id, hub, authority)`` rounded to 6 dp;
    isolated nodes score 0 on the side with no incident edges.

    Reference scope: networkframe's centrality surface is
    pagerank-shaped (networkframe.py:721-730 exposes the adjacency the
    scipy callers consume); HITS is the companion bibliometric
    centrality for the same directed graph, included for parity with
    what users compute from `to_sparse_adjacency`.

    Scale design: each half-round is one keyed join (edges x scores on
    one endpoint) + one partial+final hash aggregate on the other
    endpoint — the same uniform-shuffle shape as :func:`pagerank`.  The
    normalizer is a 1-row aggregate broadcast back with a cross join,
    never a driver collect.

    Determinism: per-edge contributions are summed as DECIMAL(38,12)
    of the 12-dp-rounded scores — exact and order-independent with no
    overflow for any in-degree (unlike a scaled-long sum, which a
    ~1e7-degree hub would overflow); the per-round L1 totals are
    likewise exact decimal sums.  Each round's scores round to 12 dp,
    so results are bit-reproducible across engines and parallelism.
    HITS is not on the bench hot path, so the decimal aggregate's cost
    vs scaled longs is irrelevant here.
    """
    nodes = frame.nodes.select("id")
    n = len(frame)
    if n == 0:
        return nodes.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    # r16 NEGATIVE RESULT (measured, interleaved A/B at sf0.1): two
    # per-join-key cached copies of the pair table (source + target
    # layouts, so each half-round's edge-side join would be
    # exchange-free) measured +22% (6.36 -> 7.77 s) — at this scale
    # the score table BROADCASTS, so the edge side is never shuffled
    # anyway and the extra repartition + columnar cache builds are
    # pure cost.  The two-copy layout only pays once scores exceed
    # the broadcast threshold (the 100 TB case).
    e = (
        _edge_pairs(frame, directed)
        .filter(F.col("source") != F.col("target"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,12)"

    # r16 optimization (guide §2.4, same shape as pagerank): each
    # half-round used to left-join `nodes` just to hand mass-less
    # nodes an s=0.0 row.  Folding one zero row per node into the SAME
    # aggregate exchange (union before groupBy — absorbed by map-side
    # partial aggregation) yields the identical decimal sum per id
    # while covering every node, so the per-half node join disappears
    # — 2·n_iter fewer node-sized joins at 100 TB.  The L1 total is
    # unchanged (the zero rows add exactly 0).
    zeros = nodes.select(
        "id", F.lit(0).cast(dec).alias("__c")
    ).localCheckpoint(eager=False)

    def _half(scores: DataFrame, from_col: str, to_col: str) -> DataFrame:
        """One half-round: push `scores` (id, s) across edges
        from_col -> to_col, L1-normalize, 12-dp round."""
        # r17: ROLLUP folds the L1 normalizer into the per-id
        # aggregate — the grand-total grouping set sums the same
        # DECIMAL(38,12) contributions (exact, order-independent), so
        # it equals the old second-pass sum of per-id sums bit-for-bit
        # while saving one full node-sized aggregate pass (and its
        # driver barrier) per half-round: 2·n_iter fewer jobs.
        raw_all = (
            e.join(scores.withColumnRenamed("id", from_col), on=from_col)
            .select(
                F.col(to_col).alias("id"),
                F.round(F.col("s"), 12).cast(dec).alias("__c"),
            )
            .unionByName(zeros)
            .rollup("id")
            .agg(F.sum("__c").alias("__raw"), F.grouping("id").alias("__g"))
        ).localCheckpoint(eager=False)
        raw = raw_all.filter(F.col("__g") == 0).select("id", "__raw")
        tot = raw_all.filter(F.col("__g") == 1).select(
            F.col("__raw").alias("__tot")
        )
        return raw.crossJoin(F.broadcast(tot)).select(
            "id",
            F.when(F.col("__raw") == 0, 0.0)
            .otherwise(
                F.round(
                    F.col("__raw").cast("double")
                    / F.col("__tot").cast("double"),
                    12,
                )
            )
            .alias("s"),
        )

    # F.round (HALF_UP) not Python round (half-even) — keeps the init
    # bit-identical to the SQL twin's round(1.0/n, 12)
    h = nodes.select("id", F.round(F.lit(1.0 / n), 12).alias("s"))
    a = None
    for _ in range(n_iter):
        a = _half(h, "source", "target").localCheckpoint(eager=False)
        h = _half(a, "target", "source").localCheckpoint(eager=False)
    return (
        h.withColumnRenamed("s", "hub")
        .join(a.withColumnRenamed("s", "authority"), on="id")
        .select(
            "id", F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
    )


def multi_source_hop_distances(
    frame,
    sources: list,
    directed: bool = False,
    max_hops: int | None = None,
) -> DataFrame:
    """BFS hop distances from EVERY node in ``sources`` at once:
    ``(seed, id, dist)`` — k BFS trees in one :func:`_bfs_waves` loop
    with the frontier keyed by ``(seed, id)`` (k x fewer Spark jobs
    than k sequential :func:`hop_distances` calls).
    """
    if not sources:
        raise ValueError("multi_source_hop_distances: empty source list")
    edges = _edge_pairs(frame, directed, partition_by_source=True).cache()
    seed = (
        frame.nodes.select("id")
        .filter(F.col("id").isin(list(sources)))
        .select(F.col("id").alias("seed"), "id", F.lit(0).alias("dist"))
    )
    out = _bfs_waves(edges, seed, ["seed"], directed, max_hops)
    edges.unpersist()
    return out


def harmonic_centrality(
    frame,
    sources: list,
    directed: bool = False,
    max_hops: int | None = None,
) -> DataFrame:
    """Sampled harmonic centrality (Boldi & Vigna 2014): for each node
    ``v``, ``sum(1 / d(s, v))`` over the sampled seed set (seeds at
    distance 0 contribute nothing; unreachable seeds contribute 0 by
    the harmonic convention — exactly why this centrality is preferred
    over closeness on disconnected graphs).  Returns
    ``(id, harmonic)`` at 6 dp, 0 for nodes no seed reaches.

    Exact all-sources harmonic centrality is n BFS runs — O(nm), not a
    100 TB operation; the standard estimator runs k sampled sources
    (Eppstein-Wang style) and scales by design: one
    :func:`multi_source_hop_distances` loop, then a single hash
    aggregate.

    Determinism: each 1/d term is the INTEGER quotient
    ``1e12 div d`` summed as a long — exact, order-independent, and
    identical in any engine (k seeds x 1e12 stays far below 2^63 for
    any practical sample size).
    """
    d = multi_source_hop_distances(
        frame, sources, directed=directed, max_hops=max_hops
    )
    scores = (
        d.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum(
                F.expr("div(1000000000000, dist)")
            ).alias("__s")
        )
    )
    return (
        frame.nodes.select("id")
        .join(scores, on="id", how="left")
        .select(
            "id",
            F.round(
                F.coalesce(F.col("__s"), F.lit(0)) / F.lit(1e12), 6
            ).alias("harmonic"),
        )
    )


def random_walks(
    frame,
    walk_length: int = 4,
    walks_per_node: int = 2,
    directed: bool = True,
) -> DataFrame:
    """Deterministic uniform random walks (DeepWalk / node2vec p=q=1
    corpus generation): ``walks_per_node`` walks start from every
    node; at step ``t`` a walk at ``u`` moves to the neighbor whose
    rank (0-based, neighbors sorted by id) equals ``hash(start, rep,
    t) mod degree(u)``.  Walks stop early at sinks.  Returns the walk
    corpus in long format ``(start_id, rep, step, id)``.

    The "randomness" is a splittable counter-based hash — the
    portable-determinism trick used across this repo (cf. md5 bucket
    sampling, pipeline.py): ``((start mod P) * 1315423911 + rep *
    2654435761 + t * 97) mod P`` with P = 1000003 (prime).  Pure
    bigint arithmetic, bit-identical in any engine, no RNG state, and
    walks are reproducible row-independently — exactly what a
    distributed embedding-training corpus needs (re-runs and
    stragglers regenerate identical walks).

    Scale design: the adjacency is ranked once, and the SAME window
    that ranks it also counts it — each adjacency row carries its
    source's degree, so a step is ONE join: walk x adjacency on the
    node, with ``rank == hash mod deg`` as the probe-time filter
    (rank implies degree; there is no separate degree table or
    per-step degree join).  Measured best-of-3 at sf0.1:
    3.5s vs 4.9s for the two-join form; 5M-edge stress agrees
    (SCALE.md round 7, which also records the measured NEGATIVE
    result for the carry-target-degree variant).  Hub note: the
    probe streams deg(u) adjacency rows per walk standing at u and
    filters inline (never materialized); with extreme hubs AND many
    concurrent walks the exact (node, rank)-keyed two-join form
    bounds probe work instead.  State is n x walks_per_node rows per
    step, edges never rematerialize.  Lineage is
    checkpoint-truncated per step.
    """
    from pyspark.sql import Window as w

    P = 1000003
    adj = _edge_pairs(frame, directed, partition_by_source=True).filter(
        F.col("source") != F.col("target")
    )
    win = w.partitionBy("source")
    ranked = (
        adj.select(
            "source",
            "target",
            (
                F.row_number().over(win.orderBy(F.col("target").asc())) - 1
            ).alias("rank"),
            F.count(F.lit(1)).over(win).alias("deg"),
        )
        # no repartition("source"): the window's own exchange already
        # established hashpartitioning(source) — re-shuffling the |E|
        # table on the same key was a pure extra exchange (r16, guide
        # §2.4).
        # r16: .cache(), not localCheckpoint — the checkpoint did NOT
        # preserve the window's partitioning (LogicalRDD reports
        # UnknownPartitioning, probe-verified), so every step join
        # re-exchanged the ranked adjacency; the InMemoryRelation
        # keeps hashpartitioning(source), so each step shuffles only
        # the walk-state table.  Cache is per-query scope.
        .cache()
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(walks_per_node - 1))
    ).alias("rep")
    cur = frame.nodes.select(
        F.col("id").alias("start_id"), reps
    ).select("start_id", "rep", F.col("start_id").alias("id"))
    out = cur.select("start_id", "rep", F.lit(0).alias("step"), "id")
    # the counter hash needs a numeric surrogate of the start id:
    # numeric ids use `start mod P` directly (pure SQL — what the
    # DuckDB oracle replays); other id types hash the string form with
    # xxhash64 (still deterministic/splittable, just engine-specific)
    id_type = dict(frame.nodes.dtypes)["id"]
    numeric = id_type in ("bigint", "int", "smallint", "tinyint")
    for t in range(1, walk_length + 1):
        base = (
            F.pmod(F.col("start_id"), F.lit(P))
            if numeric
            else F.pmod(F.xxhash64(F.col("start_id").cast("string")), F.lit(P))
        )
        h = F.pmod(
            base * F.lit(1315423911)
            + F.col("rep") * F.lit(2654435761)
            + F.lit(t * 97),
            F.lit(P),
        )
        c = cur
        cur = (
            c.join(
                ranked,
                (c["id"] == ranked["source"])
                & (ranked["rank"] == F.pmod(h, ranked["deg"])),
            )
            .select("start_id", "rep", F.col("target").alias("id"))
            .localCheckpoint(eager=False)
        )
        out = out.union(
            cur.select("start_id", "rep", F.lit(t).alias("step"), "id")
        )
    return out


def node2vec_walks(
    frame,
    walk_length: int = 4,
    walks_per_node: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    directed: bool = False,
) -> DataFrame:
    """Deterministic node2vec biased walks (Grover & Leskovec 2016):
    the second-order walk where a step from ``v`` (arrived from
    ``prev``) weights each candidate ``x`` by 1/p if ``x == prev``
    (return), 1 if ``x`` neighbors ``prev`` (BFS-ish stay-local), and
    1/q otherwise (DFS-ish move-outward).  ``p``/``q`` must be
    positive quarter-unit rationals (0.25, 0.5, 1, 2, 4, ... — the
    grid the paper searches): with p4=4p and q4=4q integral, the three
    weights scale to EXACT integers (4·q4, p4·q4, 4·p4), so the
    cumulative-weight inversion below is pure bigint arithmetic —
    bit-identical in any engine, no floats anywhere in the pick.

    The pick: candidates of a walk sort by neighbor rank; the chosen
    one is the unique candidate whose cumulative-weight interval
    contains ``hash(start, rep, t) mod total_weight`` — the same
    splittable counter hash as :func:`random_walks` (re-runs and
    stragglers regenerate identical walks).  Step 1 initializes
    ``prev = start``, which makes every candidate a neighbor of
    ``prev`` and the first hop uniform — the standard convention.
    Walks stop early at sinks.  Returns ``(start_id, rep, step, id)``.

    Scale design: per step, candidates materialize as Σ deg(current)
    rows (ONE keyed join on the current node), the dist-1 test is one
    left-semi-shaped join on the (prev, candidate) edge key, and the
    weighted pick is one window over the walk key — three shuffles per
    step, all on bounded keys, state never exceeds the touched
    adjacency.  This is the distributed answer to node2vec's O(Σ
    deg(u)·deg(v)) alias-table preprocessing: the same weights are
    evaluated on the fly, paid only for nodes walks actually visit.
    """
    from pyspark.sql import Window as w

    P = 1000003
    p4, q4 = round(4 * p), round(4 * q)
    if p4 < 1 or q4 < 1 or abs(4 * p - p4) > 1e-9 or abs(4 * q - q4) > 1e-9:
        raise ValueError(
            "node2vec_walks: p and q must be positive multiples of 0.25"
        )
    w_ret, w_nbr, w_out = 4 * q4, p4 * q4, 4 * p4
    # default (unordered-first) pair shape, NOT partition_by_source:
    # A/B'd in r16 — feeding the fused source-partitioned form into
    # the collect_list aggregate measured 7.10s vs 5.80s at sf0.1 (the
    # two stacked partition-local aggregates beat the separate distinct
    # exchange only when no array-building agg follows); random_walks
    # keeps the fused form, where it measured 2.97s vs 3.55s.
    adj = _edge_pairs(frame, directed).filter(
        F.col("source") != F.col("target")
    )
    # dist-1 side table: neighbor SETS as sorted arrays, node-sized.
    # Joining this on `prev` alone (broadcastable when the node table
    # fits; one single-key exchange otherwise) replaces the previous
    # (prev, target) pair join that re-shuffled the |E|-row edge table
    # every step; `array_contains` yields the identical membership
    # bit.  Hub rows carry deg-sized arrays — the usual skew note:
    # the array is only materialized once, and the per-step join key
    # is `prev`, which AQE can split.
    #
    # r16 optimization (guide §2.4): the arrays are aggregated FIRST
    # (one hash-agg exchange on `source`) and the ranked adjacency is
    # their posexplode — rank in a sorted distinct array ≡ the old
    # row_number() over (source ORDER BY target), bit-identical, but
    # the window's full |E| sort and the redundant follow-up
    # repartition("source") (the window exchange already established
    # that partitioning) disappear; posexplode is narrow, so `ranked`
    # keeps the agg's source partitioning for the per-step joins.
    # Per-source degree rides along as size(__nbrs) — the step-1
    # count() window is gone too.  Hub exposure is unchanged: the
    # deg-sized array per node existed either way.
    # r16: .cache(), not localCheckpoint, for BOTH step-static tables —
    # the checkpoint did not preserve the agg/posexplode partitioning
    # (LogicalRDD reports UnknownPartitioning, probe-verified), so
    # every step re-exchanged them; the InMemoryRelations keep
    # hash(__ps)/hash(source), so per-step joins shuffle only the
    # walk-state side.  Caches are per-query scope.
    nbr_arr = (
        adj.groupBy(F.col("source").alias("__ps"))
        .agg(F.sort_array(F.collect_list("target")).alias("__nbrs"))
        .cache()
    )
    ranked = (
        nbr_arr.select(
            F.col("__ps").alias("source"),
            F.size("__nbrs").alias("__deg"),
            F.posexplode("__nbrs").alias("rank", "target"),
        )
        .select("source", "target", "rank", "__deg")
        .cache()
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(walks_per_node - 1))
    ).alias("rep")
    cur = frame.nodes.select(F.col("id").alias("start_id"), reps).select(
        "start_id",
        "rep",
        F.col("start_id").alias("prev"),
        F.col("start_id").alias("id"),
    )
    out = cur.select("start_id", "rep", F.lit(0).alias("step"), "id")
    id_type = dict(frame.nodes.dtypes)["id"]
    numeric = id_type in ("bigint", "int", "smallint", "tinyint")
    walk_w = w.partitionBy("start_id", "rep")
    cum_w = walk_w.orderBy(F.col("rank").asc()).rowsBetween(
        w.unboundedPreceding, w.currentRow
    )
    for t in range(1, walk_length + 1):
        base = (
            F.pmod(F.col("start_id"), F.lit(P))
            if numeric
            else F.pmod(F.xxhash64(F.col("start_id").cast("string")), F.lit(P))
        )
        h = F.pmod(
            base * F.lit(1315423911)
            + F.col("rep") * F.lit(2654435761)
            + F.lit(t * 97),
            F.lit(P),
        )
        if t == 1:
            # step-1 fast path, bit-identical to the general rule:
            # prev == current, so no candidate can be a return (no
            # self-loops) and every candidate neighbors prev — all
            # weights equal w_nbr, the cumulative intervals are
            # uniform strips of width K, and the inversion collapses
            # to rank = (h mod deg*K) // K.  One (source, rank)
            # equi-join; no dist-1 join, no pick window.
            K = w_nbr
            c = cur
            cur = (
                c.join(
                    ranked,
                    (c["id"] == ranked["source"])
                    & (
                        ranked["rank"]
                        == F.floor(
                            F.pmod(h, F.col("__deg") * F.lit(K)) / F.lit(K)
                        )
                    ),
                )
                .select(
                    "start_id",
                    "rep",
                    F.col("id").alias("prev"),
                    F.col("target").alias("id"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            cand = (
                cur.join(ranked, cur["id"] == ranked["source"])
                .select("start_id", "rep", "prev", "id", "target", "rank")
                .join(nbr_arr, F.col("prev") == F.col("__ps"), how="left")
                .select(
                    "start_id",
                    "rep",
                    "prev",
                    "id",
                    "target",
                    "rank",
                    F.when(F.col("target") == F.col("prev"), F.lit(w_ret))
                    .when(
                        F.array_contains(F.col("__nbrs"), F.col("target")),
                        F.lit(w_nbr),
                    )
                    .otherwise(F.lit(w_out))
                    .cast("bigint")
                    .alias("__wt"),
                )
            )
            cw = F.sum("__wt").over(cum_w)
            tw = F.sum("__wt").over(walk_w)
            r = F.pmod(h, tw)
            cur = (
                cand.withColumn("__cw", cw)
                .withColumn("__r", r)
                .filter(
                    (F.col("__cw") - F.col("__wt") <= F.col("__r"))
                    & (F.col("__r") < F.col("__cw"))
                )
                .select(
                    "start_id",
                    "rep",
                    F.col("id").alias("prev"),
                    F.col("target").alias("id"),
                )
                .localCheckpoint(eager=False)
            )
        out = out.union(
            cur.select("start_id", "rep", F.lit(t).alias("step"), "id")
        )
    return out


def topological_levels(frame, max_rounds: int = 64) -> DataFrame:
    """Longest-path-from-source level per node of a DAG: ``(id,
    level)`` where sources (no in-edges) sit at 0 and every other node
    at ``1 + max(level of its in-neighbors)`` — the canonical
    dependency-scheduling / build-wave assignment (all nodes of one
    level can run in parallel once the previous level finished).
    Raises if the level assignment has not converged after
    ``max_rounds`` synchronous rounds — on a DAG that means depth >
    max_rounds (raise it); on a cyclic graph levels grow forever, so
    the loud failure doubles as cycle detection.

    Each synchronous round computes ``lv_r(v) = max(lv_{r-1}(v),
    max_u(lv_{r-1}(u) + 1))`` over distinct in-edges — a pure function
    of the previous round, so a fixed-round unrolled SQL twin is exact
    (post-convergence rounds are no-ops).

    Scale design: the same shape as :func:`shortest_paths` with max
    instead of min — the distinct edge table cached hash-partitioned
    on ``source``, one keyed join + one max-aggregate per round over
    node-sized state (:func:`_relax`), lineage cut per round,
    convergence = one :func:`_fingerprint` of the level table per
    round (levels only rise, so a repeated fingerprint is the
    fixpoint).  Rounds are bounded by the DAG depth, not the node
    count.
    """
    e = (
        frame.edges.select("source", "target")
        .filter(F.col("source") != F.col("target"))
        # repartition BEFORE the dedup: HashPartitioning(source)
        # satisfies the (source, target) clustering, so the distinct
        # runs partition-locally and the old second exchange is gone
        # (r16, guide §2.4 — same fused shape as _edge_pairs)
        .repartition("source")
        .dropDuplicates(["source", "target"])
        .cache()
    )
    lv = frame.nodes.select("id", F.lit(0).alias("level")).localCheckpoint(
        eager=False
    )
    lv, converged = _fixpoint(
        lv,
        lambda lv: _relax(e, lv, "level", F.col("level") + 1, F.max),
        lambda lv: _fingerprint(lv, "id", "level"),
        max_rounds,
    )
    e.unpersist()
    if not converged:
        raise ValueError(
            f"topological_levels: not converged after {max_rounds} rounds — "
            "the graph has a cycle, or its depth exceeds max_rounds"
        )
    return lv


def maximal_independent_set(
    frame,
    directed: bool = False,
    max_rounds: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Luby maximal independent set: no two selected
    nodes are adjacent, and every unselected node has a selected
    neighbor — the classic symmetry-breaking primitive behind
    distributed scheduling, graph coloring, and conflict-free
    sampling of training nodes.  Returns ``(id, in_mis)`` for every
    node.  Adjacency is inherently symmetric for independence — "no
    two selected nodes are adjacent" ignores edge direction — so the
    edge table is ALWAYS symmetrized regardless of ``directed`` (the
    parameter is kept for signature parity but does not change the
    result; a one-sided blocking test would let both endpoints of a
    directed edge win the same round and break the invariant).
    Self-loops never block a node.

    Luby round, derandomized: each node's priority is
    ``md5(seed:id)`` (unique per node, no RNG state — identical on
    every engine and retry); an undecided node joins the MIS iff no
    undecided neighbor has a smaller priority, then its neighbors
    drop out.  Each round is a pure function of the previous round's
    undecided set, so a fixed-round unrolled SQL twin is exact.
    Raises loudly if ``max_rounds`` synchronous rounds don't decide
    every node (expected rounds are O(log n) w.h.p. — Luby 1986).

    Scale design: per round two keyed joins of the symmetric edge
    table against node-sized undecided state plus two hash
    semi/anti-joins — no windows, no driver-side state beyond the
    per-round convergence count; the edge table is cached
    hash-partitioned once.
    """
    sym = (
        _edge_pairs(frame, False, partition_by_source=True)
        .filter(F.col("source") != F.col("target"))
        .cache()
    )
    pr = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col("id").cast("string"))
    )
    und = frame.nodes.select("id", pr.alias("__p")).localCheckpoint(
        eager=True
    )
    spark = und.sparkSession
    mis = local_table(spark, [], "id " + dict(und.dtypes)["id"])
    done = False
    for _ in range(max_rounds):
        cand = sym.join(
            und.select(F.col("id").alias("source"), F.col("__p").alias("__ps")),
            on="source",
        ).join(
            und.select(F.col("id").alias("target"), F.col("__p").alias("__pt")),
            on="target",
        )
        blocked = (
            cand.filter(F.col("__pt") < F.col("__ps"))
            .select(F.col("source").alias("id"))
            .distinct()
        )
        winners = und.join(blocked, on="id", how="left_anti").select("id")
        mis = mis.union(winners).localCheckpoint(eager=False)
        dropped = (
            sym.join(
                winners.withColumnRenamed("id", "source"), on="source"
            )
            .select(F.col("target").alias("id"))
            .distinct()
            .union(winners)
        )
        und = und.join(dropped, on="id", how="left_anti").localCheckpoint(
            eager=False
        )
        if und.isEmpty():
            done = True
            break
    sym.unpersist()
    if not done:
        raise ValueError(
            f"maximal_independent_set: {max_rounds} rounds did not decide "
            "every node — raise max_rounds (expected rounds are O(log n))"
        )
    return frame.nodes.select("id").join(
        mis.withColumn("in_mis", F.lit(True)), on="id", how="left"
    ).select("id", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))


def sample_negative_edges(
    frame,
    per_node: int = 2,
    directed: bool = True,
    seed: int = 7,
) -> DataFrame:
    """Deterministic negative-edge sampling for link-prediction /
    GNN-contrastive training: up to ``per_node`` NON-edges per source
    node, ``(source, target, rep)`` where ``rep`` is the smallest
    counter value that produced the pair.  Candidate targets come from
    the splittable counter hash ``(rank(source) * A + rep * B + seed)
    mod N`` mapped through a dense node index — RNG-free, so re-runs,
    stragglers, and any engine regenerate the identical negative set.
    Candidates that collide with a real edge (either direction when
    ``directed=False``), a self-loop, or an earlier rep are DROPPED,
    not resampled: on a sparse graph the expected loss per node is
    ~(deg+1)/N, and the standard 1:k negative ratio tolerates it; pass
    a larger ``per_node`` and cap downstream if exact counts matter.

    Scale design: the dense index is the two-phase
    :func:`_dense_rank_distributed` (no single-partition window); the
    candidate table is ``N * per_node`` rows flowing through one
    rank-keyed join (the index used twice) and one anti-join against
    the distinct edge pairs.  All keys uniform by construction.
    Candidate-rank arithmetic stays in bigint end-to-end (no int32
    truncation of the pmod hash); the dense index itself raises loudly
    past 2^31 nodes — the int rank range — rather than wrapping.
    """
    if per_node < 1:
        raise ValueError("sample_negative_edges: per_node >= 1")
    nodes = frame.nodes.select("id")
    idx = _dense_rank_distributed(nodes, ["id"], out_col="__rk")
    n = idx.count()
    if n < 2:
        return nodes.limit(0).select(
            F.col("id").alias("source"),
            F.col("id").alias("target"),
            F.lit(0).alias("rep"),
        )
    A, B = 1315423911, 2654435761
    cand = (
        idx.select(
            F.col("id").alias("source"),
            F.col("__rk").cast("bigint").alias("__srk"),
            F.explode(F.sequence(F.lit(0), F.lit(per_node - 1))).alias("rep"),
        )
        .withColumn(
            "__trk",
            F.pmod(
                F.col("__srk") * F.lit(A)
                + F.col("rep") * F.lit(B)
                + F.lit(seed),
                F.lit(n),
            ),
        )
        .join(
            idx.select(
                F.col("id").alias("target"),
                F.col("__rk").cast("bigint").alias("__trk"),
            ),
            on="__trk",
        )
        .filter(F.col("source") != F.col("target"))
    )
    pairs = _edge_pairs(frame, directed)
    return (
        cand.join(pairs, on=["source", "target"], how="left_anti")
        .groupBy("source", "target")
        .agg(F.min("rep").alias("rep"))
    )


def betweenness_approx(
    frame,
    sources: list,
    directed: bool = False,
    max_hops: int = 3,
) -> DataFrame:
    """Sampled betweenness centrality (Brandes 2001 accumulation from
    a seed sample — the standard estimator; exact betweenness is n
    full SSSPs, not a 100 TB operation).  For each seed the forward
    phase counts shortest paths level by level (``sigma``), the
    backward phase accumulates pair dependencies
    ``delta(v) = sum_w sigma(v)/sigma(w) * (1 + delta(w))`` down the
    BFS DAG; a node's score is its dependency summed over seeds
    (raw accumulation, no normalization — callers can rescale).
    Returns ``(id, betweenness)`` at 6 dp; seeds and unreached nodes
    score 0.  ``max_hops`` bounds BOTH phases, making the round count
    a fixed constant — the property that lets a SQL twin unroll the
    exact same computation.

    Scale design: state is (seed, node)-keyed — k x node-sized, never
    edge-sized; each level is one keyed join against the cached
    adjacency + one hash aggregate (forward: sum of path counts;
    backward: sum of dependency terms).  2 x max_hops rounds total.

    Determinism: sigma is exact integer path counting; each backward
    term rounds to 12 dp and sums as DECIMAL(38,12) (order-independent,
    overflow-free), as does the final cross-seed sum.
    """
    if not sources:
        raise ValueError("betweenness_approx: empty source list")
    # ONE materialization serves every phase.  r16: .cache(), not
    # localCheckpoint — a LogicalRDD checkpoint does NOT preserve the
    # hash partitioning (UnknownPartitioning under AQE,
    # probe-verified), so the old shape re-exchanged the edge table in
    # every sigma/delta join; the InMemoryRelation keeps the source
    # layout, so all 2·max_hops round joins read co-located partitions
    # and only the (seed, node)-sized state shuffles.
    e = (
        _edge_pairs(frame, directed, partition_by_source=True)
        .filter(F.col("source") != F.col("target"))
        .cache()
    )
    dec = "decimal(38,12)"
    # forward: BFS and path counting FUSED — expand the previous
    # level, sum sigma per candidate, and anti-join the already-seen
    # set; what survives IS level lvl with exact shortest-path counts
    # (every in-edge of a NEW node from level lvl-1 was counted, and
    # a new node cannot have in-edges from deeper levels).  One
    # join + one agg + one anti-join per hop — no separate BFS pass.
    seeds_df = frame.nodes.select("id").filter(
        F.col("id").isin(list(sources))
    )
    levels = [
        seeds_df.select(
            F.col("id").alias("seed"), "id",
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint(eager=True)
    ]
    prev_ids, prev2_ids = levels[0].select("seed", "id"), None
    visited = prev_ids
    # the frontier's out-edge expansion (level ⋈ edges) is needed
    # TWICE — forward round lvl+1 sums sigma over it, backward round
    # lvl distributes dependencies over the very same rows — so
    # checkpoint each expansion once and reuse it, saving one
    # edge-table join + its frontier shuffle per backward round
    # (storage is frontier-incident-edge-sized, the same rows the
    # forward shuffle already moves).
    expansions: list[DataFrame] = []
    for lvl in range(1, max_hops + 1):
        exp = (
            levels[-1]
            .join(e.withColumnRenamed("source", "id"), on="id")
            .select("seed", "id", "sigma", F.col("target").alias("w"))
        ).localCheckpoint(eager=False)
        expansions.append(exp)
        agg = (
            exp.select("seed", F.col("w").alias("id"), "sigma")
            .groupBy("seed", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        if directed:
            # directed edges can reach arbitrarily old levels — the
            # anti-join needs the full visited set
            seen = visited
        else:
            # undirected BFS invariant: neighbors of level lvl-1 lie
            # at lvl-2, lvl-1, or lvl — two levels suffice
            seen = (
                prev_ids if prev2_ids is None else prev_ids.union(prev2_ids)
            )
        nxt = agg.join(
            seen, on=["seed", "id"], how="left_anti"
        ).localCheckpoint(eager=False)
        levels.append(nxt)
        prev2_ids, prev_ids = prev_ids, nxt.select("seed", "id")
        if directed:
            visited = visited.union(prev_ids).localCheckpoint(eager=False)
    # backward: dependency accumulation down the BFS DAG
    delta = levels[max_hops].select(
        "seed", "id", F.lit(0.0).alias("delta")
    )
    acc = [delta]
    for lvl in range(max_hops - 1, -1, -1):
        sig_w = (
            levels[lvl + 1]
            .join(acc[-1], on=["seed", "id"])
            .select(
                "seed",
                F.col("id").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
        )
        terms = (
            expansions[lvl]  # reused forward expansion
            .join(sig_w, on=["seed", "w"])
            .select(
                "seed",
                "id",
                F.round(
                    F.col("sigma")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta_w")),
                    12,
                ).alias("term"),
            )
        )
        delta = (
            levels[lvl]
            .join(
                terms.groupBy("seed", "id").agg(
                    F.sum(F.col("term").cast(dec)).alias("__s")
                ),
                on=["seed", "id"],
                how="left",
            )
            .select(
                "seed",
                "id",
                F.round(
                    F.coalesce(F.col("__s"), F.lit(0).cast(dec)).cast(
                        "double"
                    ),
                    12,
                ).alias("delta"),
            )
            .localCheckpoint(eager=False)
        )
        acc.append(delta)
    alldep = acc[0]
    for a in acc[1:]:
        alldep = alldep.union(a)
    scores = (
        alldep.filter(F.col("id") != F.col("seed"))
        .groupBy("id")
        .agg(F.sum(F.round(F.col("delta"), 12).cast(dec)).alias("__b"))
    )
    return (
        frame.nodes.select("id")
        .join(scores, on="id", how="left")
        .select(
            "id",
            F.round(
                F.coalesce(F.col("__b"), F.lit(0).cast(dec)).cast("double"),
                6,
            ).alias("betweenness"),
        )
    )


def community_quality(
    frame, labels: DataFrame, label_col: str = "community"
) -> DataFrame:
    """Partition-quality report for a community assignment (e.g.
    :func:`label_propagation` output): one row per community with
    ``(community, n_nodes, volume, internal_edges, cut_edges,
    conductance, modularity_part)`` over the undirected simple
    projection.

    - ``volume``: sum of member degrees (2x internal + cut)
    - ``conductance``: cut / min(volume, total_volume - volume) — the
      standard cut-quality score (lower = better-separated)
    - ``modularity_part``: the community's Newman modularity term
      ``internal/m - (volume/2m)^2``; summing the column gives the
      partition's modularity Q — checked against the closed form in
      tests

    Scale design: one degree aggregate, two broadcast-or-shuffle label
    decorations of the edge list, then per-community hash aggregates —
    no per-pair state beyond the edge table itself.  Integer sums
    throughout; only conductance/modularity divisions are floating
    (6 dp).

    ``labels`` must cover every node (missing nodes are treated as
    absent — their edges count toward cuts of covered communities).
    """
    und = (
        _edge_pairs(frame, directed=False)
        .filter(F.col("source") < F.col("target"))
    )
    la = labels.select(
        F.col("id").alias("source"), F.col(label_col).alias("__la")
    )
    lb = labels.select(
        F.col("id").alias("target"), F.col(label_col).alias("__lb")
    )
    tagged = und.join(la, on="source", how="left").join(
        lb, on="target", how="left"
    ).localCheckpoint(eager=False)
    m_row = tagged.agg(F.count(F.lit(1)).alias("m")).localCheckpoint(
        eager=True
    )
    internal = (
        tagged.filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias(label_col))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    # volume via endpoint explode: each undirected edge contributes 1
    # to each endpoint's community volume
    vol = (
        tagged.select(F.col("__la").alias(label_col))
        .unionAll(tagged.select(F.col("__lb").alias(label_col)))
        .filter(F.col(label_col).isNotNull())
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("volume"))
    )
    sizes = labels.groupBy(F.col(label_col)).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    out = (
        sizes.join(vol, on=label_col, how="left")
        .join(internal, on=label_col, how="left")
        .crossJoin(F.broadcast(m_row))
        .select(
            label_col,
            "n_nodes",
            F.coalesce("volume", F.lit(0)).alias("volume"),
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            (
                F.coalesce("volume", F.lit(0))
                - F.lit(2) * F.coalesce("internal_edges", F.lit(0))
            ).alias("cut_edges"),
            F.col("m"),
        )
    )
    denom = F.least(F.col("volume"), F.lit(2) * F.col("m") - F.col("volume"))
    return out.select(
        label_col,
        "n_nodes",
        "volume",
        "internal_edges",
        "cut_edges",
        F.when(denom <= 0, F.lit(0.0))
        .otherwise(F.round(F.col("cut_edges") / denom, 6))
        .alias("conductance"),
        F.round(
            F.col("internal_edges") / F.col("m")
            # explicit product, not pow(): identical IEEE multiply in
            # any engine (libm pow implementations can differ in ulp)
            - (F.col("volume") / (F.lit(2) * F.col("m")))
            * (F.col("volume") / (F.lit(2) * F.col("m"))),
            6,
        ).alias("modularity_part"),
    )


# r16 NEGATIVE RESULT (interleaved A/B at sf0.1): a fused-kvc accept
# test — checkpoint one (node, neighbor-community) weight aggregate per
# round and derive BOTH the internal-pair weight (sum of matched __k,
# bit-identical to the double decoration in _q_scaled) and the next
# round's move candidates from it — measured +7% on modularity_refine,
# +23% on louvain_communities, +16% on leiden.  At this scale the label
# table BROADCASTS, so the two decorations are map-side-only scans of
# the pair table, while the fused form pays a real aggregate exchange +
# checkpoint write per accept.  The fusion only pays once labels exceed
# the broadcast threshold (the 100 TB case); local bench keeps the
# broadcast shape.
def _q_scaled(wedges: DataFrame, deg: DataFrame, m2: int, labs: dict) -> dict:
    """Exact Q·4m² = 2m·(ordered internal weight) − Σ vol_c² for each
    ``(id, community)`` labeling in ``labs`` (tag -> labels), over the
    weighted ordered-pair table ``wedges`` ``(source, target, w)`` with
    per-node degrees ``deg`` ``(id, __deg)``.

    All legs run in ONE collect (r16 fused one labeling's two legs into
    one job; r17 extends the union across labelings so a phase-initial Q
    rides round 1's accept collect, and fuses every labeling's internal
    sum onto ONE decorated pass over the pair table — the edge-scale
    term — instead of one full scan per labeling).  A labeling's
    internal weight is the null-skipping sum of label-matched ``w``,
    identical to the old filter+sum as a long before the decimal cast.
    """
    from decimal import Decimal

    tags = list(labs)
    dec_df = wedges
    for tag in tags:
        lab = labs[tag]
        dec_df = dec_df.join(
            lab.select(
                F.col("id").alias("source"),
                F.col("community").alias("__la_" + tag),
            ),
            on="source",
        ).join(
            lab.select(
                F.col("id").alias("target"),
                F.col("community").alias("__lb_" + tag),
            ),
            on="target",
        )
    internal_row = dec_df.agg(
        *[
            F.sum(
                F.when(
                    F.col("__la_" + tag) == F.col("__lb_" + tag),
                    F.col("w"),
                )
            )
            .cast("decimal(38,0)")
            .alias("i_" + tag)
            for tag in tags
        ]
    )
    kv = []
    for tag in tags:
        kv += [F.lit("i:" + tag), F.col("i_" + tag)]
    legs = internal_row.select(F.explode(F.create_map(*kv)).alias("k", "v"))
    for tag in tags:
        legs = legs.unionByName(
            labs[tag]
            .join(deg, on="id", how="left")
            .groupBy("community")
            .agg(F.sum(F.coalesce("__deg", F.lit(0))).alias("__vol"))
            .agg(
                F.sum(
                    F.col("__vol").cast("decimal(38,0)") * F.col("__vol")
                ).alias("v")
            )
            .select(F.lit("v:" + tag).alias("k"), "v")
        )
    got = {r["k"]: r["v"] for r in legs.collect()}
    return {
        tag: Decimal(m2) * Decimal(int(got.get("i:" + tag) or 0))
        - (got.get("v:" + tag) or Decimal(0))
        for tag in labs
    }


def _move_round(
    wedges: DataFrame, deg: DataFrame, cur: DataFrame, m2: int, allowed
) -> DataFrame:
    """One synchronous local-move round over the weighted ordered-pair
    table ``wedges`` ``(source, target, w)``: every node of ``cur``
    ``(id, community)`` moves to the neighboring community ``__nc`` with
    the best exact integer gain ``2m·(k_vb − k_va) − deg_v·(vol_b −
    vol_a + deg_v) > 0``, among the candidates the ``allowed`` predicate
    (over ``__nc`` and ``community``) admits; ties break to the smallest
    community id.  Self rows (source == target) count toward degree and
    volume but are never move candidates.  Returns the next labels,
    NOT checkpointed — the caller owns checkpoint and accept.
    """
    from pyspark.sql import Window

    vol = (
        cur.join(deg, on="id", how="left")
        .groupBy("community")
        .agg(F.sum(F.coalesce("__deg", F.lit(0))).alias("__vol"))
    )
    # k_vc: edge weight from each node into each neighboring community
    kvc = (
        wedges.filter(F.col("source") != F.col("target"))
        .join(
            cur.select(
                F.col("id").alias("source"), F.col("community").alias("__nc")
            ),
            on="source",
        )
        .groupBy(F.col("target").alias("id"), "__nc")
        .agg(F.sum("w").alias("__k"))
    )
    # r17 (measured by job count, bit-identical moves): the old shape
    # joined kvc TWICE — once on (id, community) for the own-community
    # weight __ka, once on id for the candidates — costing kvc two
    # different exchanges.  One window over id derives __ka on the SAME
    # kvc rows (at most one row per (id, __nc), so max-of-the-match IS
    # the value), the window's exchange doubles as the moves groupBy's
    # partitioning, and at scale kvc crosses the network once instead
    # of twice.  18 -> 15 jobs on the bench graph; exceptAll-verified
    # equal.
    wid = Window.partitionBy("id")
    enriched = (
        kvc.join(cur, on="id")
        .join(deg, on="id", how="left")
        .select(
            "id",
            "community",
            "__nc",
            "__k",
            F.coalesce("__deg", F.lit(0)).alias("__deg"),
        )
        .withColumn(
            "__ka",
            F.coalesce(
                F.max(
                    F.when(F.col("__nc") == F.col("community"), F.col("__k"))
                ).over(wid),
                F.lit(0).cast("bigint"),
            ),
        )
    )
    cand = (
        enriched.filter(allowed)
        .join(vol.withColumnRenamed("__vol", "__vola"), on="community")
        .join(
            vol.select(
                F.col("community").alias("__nc"),
                F.col("__vol").alias("__volb"),
            ),
            on="__nc",
        )
        .withColumn(
            "__gain",
            F.lit(m2).cast("decimal(38,0)")
            * (F.col("__k") - F.col("__ka"))
            - F.col("__deg").cast("decimal(38,0)")
            * (F.col("__volb") - F.col("__vola") + F.col("__deg")),
        )
        .filter(F.col("__gain") > 0)
    )
    moves = cand.groupBy("id").agg(
        F.expr("min_by(__nc, struct(-__gain, __nc))").alias("__new")
    )
    return cur.join(moves, on="id", how="left").select(
        "id", F.coalesce("__new", "community").alias("community")
    )


def modularity_refine(
    frame,
    labels: DataFrame,
    label_col: str = "community",
    n_rounds: int = 1,
) -> DataFrame:
    """Louvain-style local-move refinement of a community assignment
    (Blondel et al. 2008, phase-1 move step, synchronized): each round
    every node considers moving to the neighboring community with the
    best Newman-modularity gain and moves iff the gain is strictly
    positive; the whole round is then accepted only if the partition's
    exact modularity did not decrease — so the returned labels satisfy
    ``Q(out) >= Q(in)`` BY CONSTRUCTION, not by luck (synchronous
    moves can conflict — two adjacent nodes swapping simultaneously —
    and an unchecked round could lower Q; a rejected round also ends
    the loop since replaying it would produce the same moves).  The
    natural upstream is :func:`label_propagation`, which maximizes
    nothing — this is the standard next step when its partition needs
    an actual quality objective.  Returns ``(id, community)``.

    Determinism / oracle-exactness: the per-node gain test is the
    EXACT integer comparison ``2m·(k_vb - k_va) - deg_v·(vol_b -
    vol_a + deg_v) > 0`` (the closed-form ΔQ multiplied by the
    positive constant 2m²) over the undirected simple projection —
    integer edge counts, degrees, and community volumes only, no
    floating point; ties break to the smallest community id, and the
    round-level accept compares the exact scaled modularity
    ``Q·4m² = 2m·(ordered internal pairs) - Σ vol_c²`` as
    DECIMAL(38,0) (vol² sums overflow bigint near 10^10 edges).  A
    fixed-``n_rounds`` unrolled SQL twin therefore reproduces the
    result bit-for-bit.

    Scale design: per round, one label decoration of the cached
    symmetric edge table (keyed join), one (node, neighbor-community)
    hash aggregate for the ``k_vc`` counts, one community-sized volume
    aggregate joined back broadcast-or-shuffle by AQE, and a
    deterministic ``min_by`` argmax — the identical uniform-shuffle
    shape as a :func:`label_propagation` round plus two
    community-sized side tables.  The accept test collects two scalar
    rows; nothing else reaches the driver.
    """
    if n_rounds < 1:
        raise ValueError("modularity_refine: n_rounds >= 1")
    sym = (
        _edge_pairs(frame, False, partition_by_source=True)
        .filter(F.col("source") != F.col("target"))
        .cache()
    )
    wedges = sym.select("source", "target", F.lit(1).cast("bigint").alias("w"))
    deg = wedges.groupBy(F.col("source").alias("id")).agg(
        F.sum("w").alias("__deg")
    )
    m2_row = wedges.agg(F.sum("w").alias("m2")).first()
    m2 = int(m2_row["m2"] or 0)  # = 2m ordered pairs
    cur = (
        frame.nodes.select("id")
        .join(labels.select("id", F.col(label_col).alias("community")), on="id", how="left")
        .select("id", F.coalesce("community", F.col("id")).alias("community"))
        .localCheckpoint(eager=True)
    )
    if m2 == 0:
        sym.unpersist()
        return cur

    q_before = None
    for _ in range(n_rounds):
        nxt = _move_round(
            wedges, deg, cur, m2, F.col("__nc") != F.col("community")
        ).localCheckpoint(eager=True)
        # round 1: the input labels' Q legs ride the same collect — the
        # moves above never read Q, so deferring it is exact
        labs = {"b": nxt} if q_before is not None else {"a": cur, "b": nxt}
        qs = _q_scaled(wedges, deg, m2, labs)
        q_before, q_after = qs.get("a", q_before), qs["b"]
        if q_after < q_before:
            # conflicting synchronous moves lowered Q — reject the
            # round and stop (replaying would repeat the same moves)
            break
        if q_after == q_before:
            cur = nxt
            break
        cur, q_before = nxt, q_after
    sym.unpersist()
    return cur


def _cut_lineage(df: DataFrame) -> DataFrame:
    """localCheckpoint + REBUILD without preserved plan statistics.

    ``localCheckpoint`` keeps the optimized plan's statistics on the
    resulting LogicalRDD, and Catalyst's join size estimate is the
    PRODUCT of the children's sizeInBytes — so in an iterative
    algorithm whose round plan references the previous state m times,
    the preserved estimate's digit count multiplies by m every round
    (double-exponential value growth).  By round ~12 of a
    6-references-per-round loop the driver spends MINUTES in
    BigInteger multiplies inside SizeInBytesOnlyStatsPlanVisitor
    (measured: a 4-level Louvain run went 424 s, ~5 min of it stats
    math).  Rebuilding the DataFrame from the checkpointed RDD via the
    public ``createDataFrame(JavaRDD[Row], schema)`` drops the origin
    stats: the leaf reverts to ``defaultSizeInBytes`` and every
    round's stats stay ~19 digits.  Cost: one JVM-side row re-encode
    pass over the (node-sized) state — no Python boundary.
    """
    cp = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    if not hasattr(cp, "_jdf") or not hasattr(spark, "_jsparkSession"):
        # Spark Connect: no JVM handles.  Fall back to the plain
        # checkpoint — iteration still converges, only the stats-growth
        # mitigation is lost (acceptable: Connect plans are re-analyzed
        # server-side and the blowup is a classic-session artifact).
        return cp
    jdf = cp._jdf
    jnew = spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema())
    return DataFrame(jnew, spark)


def _louvain_phase(
    nodes: DataFrame,
    wedges: DataFrame,
    m2: int,
    n_rounds: int,
    q0=None,
) -> tuple[DataFrame, object]:
    """One Louvain phase (Blondel et al. 2008 phase 1) on an integer-
    WEIGHTED ordered-pair graph, starting from singletons: up to
    ``n_rounds`` synchronous local-move rounds with the exact integer
    gain test ``2m·(k_vb − k_va) − deg_v·(vol_b − vol_a + deg_v) > 0``
    and the round-level exact-Q accept (same contract as
    :func:`modularity_refine`, generalized to weights).

    ``wedges`` is ``(source, target, w)`` with BOTH directions present
    for source ≠ target and optional self rows (source == target)
    carrying a supernode's internal ordered-pair weight: self weight
    counts toward degree/volume/internal pairs but is never a move
    candidate (it moves with the node, so it is constant w.r.t. the
    argmax and cancels in every gain comparison).

    ``q0``: the caller-known scaled modularity of the singleton start
    (aggregation preserves Q exactly — internal weight and volumes
    carry over as the same integers — so the previous level's accepted
    Q IS the next level's singleton Q).  When ``None``, the singleton
    Q is computed together with round 1's accept test in ONE collect
    (r17: the separate up-front collect was a whole extra driver
    barrier per phase).  Returns ``(labels, q_final)`` so callers can
    chain the Q.
    """
    deg = wedges.groupBy(F.col("source").alias("id")).agg(
        F.sum("w").alias("__deg")
    )
    cur = _cut_lineage(nodes.select("id", F.col("id").alias("community")))
    q_before = q0
    for rnd in range(n_rounds):
        # ALTERNATE-DIRECTION rounds: even rounds move only toward
        # strictly SMALLER community ids, odd rounds toward strictly
        # LARGER.  A free-for-all synchronous round deadlocks at scale
        # (mutual-best pairs SWAP labels, cyclic label chases cancel, Q
        # drops, the accept rejects the whole round — measured: the
        # 5M-edge supergraph phase no-opped entirely), while
        # one-directional-only merging FREEZES early mistakes (a node
        # can never leave a smaller-id community it joined by a noise
        # edge — measured: Q plateaued at 0.39 on a 0.89-planted graph).
        # Alternating keeps every round swap- and cycle-free (all moves
        # point one way in id order) yet lets any node escape in the
        # next round.  (Total-order staging is the standard
        # parallel-Louvain conflict fix; alternating it restores
        # bidirectional mobility.)
        allowed = (
            (F.col("__nc") < F.col("community"))
            if rnd % 2 == 0
            else (F.col("__nc") > F.col("community"))
        )
        nxt = _cut_lineage(_move_round(wedges, deg, cur, m2, allowed))
        # round 1 with unknown singleton Q: both labelings' legs in one
        # union collect — the moves above never read Q, so deferring
        # the singleton Q into the accept job is exact
        labs = {"b": nxt} if q_before is not None else {"a": cur, "b": nxt}
        qs = _q_scaled(wedges, deg, m2, labs)
        q_before, q_after = qs.get("a", q_before), qs["b"]
        # accept-or-revert per round, NO early break: a rejected round
        # is not a fixed point here — the next round's direction flips,
        # so different moves become available (unlike modularity_refine
        # where replaying an identical rejected round is futile)
        if q_after >= q_before:
            cur, q_before = nxt, q_after
    return cur, q_before


def _modularity_pairs(frame, weight_col: str | None) -> DataFrame:
    """The level-0 weighted ordered-pair table ``(source, target, w)`` of
    :func:`louvain_communities` and :func:`leiden_communities`: both
    directions of every non-loop edge, ``w`` the integer weight.

    r16 NEGATIVE RESULT (interleaved A/B at sf0.1): a source-partitioned
    CACHED pair table (partition_by_source=True + .cache() instead of
    this unordered-first build + the caller's checkpoint) measured +15%
    on louvain_communities and +34% on leiden — phase labels broadcast
    at this scale, so the per-round joins never shuffle the pair side,
    while the fused build pushes 2x the raw rows through its one
    exchange and the columnar cache build is extra cost.  The
    partitioned layout only pays once labels exceed the broadcast
    threshold (the 100 TB case).
    """
    if weight_col is None:
        return (
            _edge_pairs(frame, False)
            .filter(F.col("source") != F.col("target"))
            .select("source", "target", F.lit(1).cast("bigint").alias("w"))
        )
    # weighted mode: parallel-edge-collapsed DECIMAL(28,6) weights
    # quantized to 1e-6 integer units — every downstream quantity
    # (degrees, volumes, gains, scaled Q) stays an exact integer,
    # exactly as in the unweighted path, just in finer units.  Edges
    # whose collapsed weight is not positive are dropped
    # (negative-weight modularity is undefined).
    return (
        _weighted_pairs(frame, False, weight_col)
        .filter(F.col("source") != F.col("target"))
        .select(
            "source",
            "target",
            (F.col("w") * 1_000_000).cast("bigint").alias("w"),
        )
        .filter(F.col("w") > 0)
    )


def _level_ladder(
    frame, n_levels: int, n_rounds: int, weight_col: str | None, refine=None
) -> DataFrame:
    """The multilevel pipeline of :func:`louvain_communities` and
    :func:`leiden_communities`: per level a :func:`_louvain_phase`, then
    ``refine(labels, wedges)`` if given, the node -> community mapping
    update, and — unless this was the last level or the level moved no
    node — aggregation of the pair table into the supergraph
    (communities become supernodes, inter-community weight becomes edge
    weight, internal weight becomes self-row weight).  Returns ``(id,
    community)`` for the original nodes.
    """
    wedges = _cut_lineage(_modularity_pairs(frame, weight_col))
    nodes = frame.nodes.select("id")
    mapping = nodes.select("id", F.col("id").alias("node"))
    m2_row = wedges.agg(F.sum("w").alias("m2")).first()
    m2 = int(m2_row["m2"] or 0)
    if m2 == 0:
        return mapping.select("id", F.col("node").alias("community"))

    q_level = None
    for level in range(int(n_levels)):
        # r17: thread the accepted Q through the levels — aggregation
        # preserves Q exactly (same integer internal weight and
        # volumes), so the next phase's singleton Q needs no collect
        labels, q_level = _louvain_phase(
            nodes, wedges, m2, n_rounds, q0=q_level
        )
        if refine is not None:
            # refinement changes the partition, so the aggregated
            # graph's singleton Q is NOT the phase's accepted Q — the
            # next phase merges its singleton-Q legs into round 1's
            # accept collect instead
            labels, q_level = _cut_lineage(refine(labels, wedges)), None
        mapping = _cut_lineage(
            mapping.join(labels.withColumnRenamed("id", "node"), on="node")
            .select("id", F.col("community").alias("node"))
        )
        # last level first: the moved count is read only when another
        # level would follow
        if level == int(n_levels) - 1:
            break
        if labels.filter(F.col("id") != F.col("community")).count() == 0:
            break
        wedges = (
            wedges.join(
                labels.select(
                    F.col("id").alias("source"), F.col("community").alias("__ca")
                ),
                on="source",
            )
            .join(
                labels.select(
                    F.col("id").alias("target"), F.col("community").alias("__cb")
                ),
                on="target",
            )
            .groupBy(
                F.col("__ca").alias("source"), F.col("__cb").alias("target")
            )
            .agg(F.sum("w").alias("w"))
        )
        wedges = _cut_lineage(wedges)
        # lazy on purpose (r17): the phase checkpoints its singleton
        # state immediately, so an eager checkpoint here was a whole
        # extra driver barrier for a one-scan distinct
        nodes = labels.select(F.col("community").alias("id")).distinct()
    return mapping.select("id", F.col("node").alias("community"))


def louvain_communities(
    frame,
    n_levels: int = 2,
    n_rounds: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Full multi-level Louvain community detection (Blondel et al.
    2008): alternate a local-move phase (:func:`_louvain_phase`) with
    graph AGGREGATION — communities become supernodes, inter-community
    ordered-pair counts become integer edge weights, internal pairs
    become self-loop weights — for up to ``n_levels`` levels, then
    project the coarsest labels back to the original nodes.  This is
    the modularity-OPTIMIZING step :func:`modularity_refine` (one
    phase on a given partition) and ``label_propagation`` (no
    objective at all) both stop short of.  Returns ``(id,
    community)``; community ids are original node ids (each level's
    labels are previous-level supernode ids, rooted in node ids).

    Determinism / oracle-exactness: every quantity at every level is
    an exact integer — weights are ordered-pair counts, gains integer
    comparisons, the accept an exact scaled-modularity DECIMAL — with
    min-id tie-breaks, so a fixed (n_levels, n_rounds) unrolled SQL
    twin reproduces the result bit-for-bit.  ``Q(out) >= Q(singleton)``
    by construction: phases only accept non-decreasing rounds, and
    aggregation leaves Q unchanged (standard Louvain invariant).

    Scale design: each phase round is the :func:`modularity_refine`
    shape (one keyed join + two hash aggregates + community-sized
    side tables over the weighted pair table); aggregation is ONE
    label decoration + hash aggregate, and the graph SHRINKS per
    level (supernode count = community count), so level cost is
    strictly decreasing; the level-0 pair table is the only
    edge-scale state.  Converges early (skips remaining levels) when
    a phase makes zero moves.
    """
    if n_levels < 1 or n_rounds < 1:
        raise ValueError("louvain_communities: n_levels and n_rounds >= 1")
    return _level_ladder(frame, n_levels, n_rounds, weight_col)


def _refine_connected(labels: DataFrame, wedges: DataFrame) -> DataFrame:
    """Leiden refinement step (connectivity form): split every
    community into the CONNECTED COMPONENTS of its induced subgraph;
    the refined label is the min member id (so labels stay rooted in
    node/supernode ids, like every phase label).

    Splitting a disconnected community never decreases modularity:
    the parts share no edges, so internal weight is unchanged while
    ``sum(vol^2)`` strictly drops (``(a+b)^2 > a^2 + b^2`` for
    positive volumes) — the exact defect Traag et al. 2019 ("From
    Louvain to Leiden") prove Louvain suffers.  Connected communities
    pass through untouched, so ``Q(refined) >= Q(input)`` and the
    output partition is connected by construction.

    Scale: the intra-community edge filter is two label decorations
    (the same join shape as every phase round); the component pass is
    the engine's hierarchical union-find (partition-local contraction
    + log-depth stitch rounds), run on the FILTERED — community-
    bounded — subgraph, so its cost is bounded by the phase cost.
    """
    from types import SimpleNamespace

    intra = (
        # one direction suffices: wedges carries both (a,b) and (b,a),
        # and union-find components are direction-insensitive — the
        # source<target half feeds the contract half the rows for the
        # identical component labels (r17)
        wedges.filter(F.col("source") < F.col("target"))
        .join(
            labels.select(
                F.col("id").alias("source"), F.col("community").alias("__la")
            ),
            on="source",
        )
        .join(
            labels.select(
                F.col("id").alias("target"), F.col("community").alias("__lb")
            ),
            on="target",
        )
        .filter(F.col("__la") == F.col("__lb"))
        .select("source", "target")
    )
    shim = SimpleNamespace(
        edges=intra,
        nodes=labels.select("id"),
        spark=labels.sparkSession,
    )
    comp = _weak_component_min_labels(shim)
    return comp.select("id", F.col("comp").alias("community"))


def leiden_communities(
    frame,
    n_levels: int = 2,
    n_rounds: int = 2,
    weight_col: str | None = None,
) -> DataFrame:
    """Leiden community detection (Traag, Waltman & van Eck 2019),
    connectivity-guarantee form: the Louvain phase/aggregate pipeline
    (:func:`louvain_communities`) with a REFINEMENT step after every
    local-move phase that splits each community into the connected
    components of its induced subgraph before aggregation.  This
    fixes Louvain's documented defect — phases can strand a
    community's members with no internal path (a "bridge" node moves
    away from the nodes that joined it) and plain Louvain aggregates
    the broken community into a single supernode, freezing the defect
    into every later level.  Here aggregation always operates on a
    connected partition, and the RETURNED partition is the final
    refined one, so **every output community induces a connected
    subgraph** — the Leiden guarantee.  (The paper's stronger
    randomized gamma-well-connectedness refinement is intentionally
    not implemented: it needs RNG, which breaks this engine's
    bit-exact oracle contract; component splitting is its
    deterministic core and preserves the monotone-Q proof.)

    Determinism / oracle-exactness: identical to Louvain — exact
    integer weights/gains, DECIMAL scaled-Q accepts, min-id labels —
    plus the refinement's min-id component labels, so a fixed
    (n_levels, n_rounds) SQL twin (recursive CTE for the component
    step) reproduces the result bit-for-bit.  ``Q(out) >=
    Q(singleton)``: phases accept only non-decreasing rounds,
    refinement never decreases Q (see :func:`_refine_connected`),
    aggregation preserves Q.

    Scale design: Louvain's shapes plus one union-find pass per level
    on the intra-community subgraph (strictly smaller than the pair
    table).  Graph shrinks per level exactly as in Louvain.
    """
    if n_levels < 1 or n_rounds < 1:
        raise ValueError("leiden_communities: n_levels and n_rounds >= 1")
    return _level_ladder(
        frame, n_levels, n_rounds, weight_col, refine=_refine_connected
    )


def neighbor_sample(
    frame,
    seeds: list,
    fanouts: list | None = None,
    directed: bool = True,
    seed: int = 42,
) -> DataFrame:
    """GraphSAGE-style k-hop neighbor sampling (Hamilton et al. 2017):
    starting from ``seeds``, each hop keeps at most ``fanouts[h]``
    neighbors per frontier node — the minibatch-subgraph primitive GNN
    training loaders run billions of times.  Returns the sampled block
    edges ``(hop, source, target)`` (hop is 1-based); the next hop's
    frontier is the distinct sampled targets.

    Determinism without RNG: a neighbor is kept when its
    ``md5(source:target:seed)`` ranks within the fanout — the same
    portable coin as ``hash_sample``, so loaders, retries, and
    stragglers regenerate the identical sample, and a different
    ``seed`` gives an independent draw.

    Scale design: per hop, one semi-join restricts the cached
    source-partitioned adjacency to the frontier and ONE per-source
    rank window enforces the fanout — state is (frontier x fanout)-
    sized, never edge-sized; hub nodes cost one sort of their
    neighbor list, AQE-splittable on the exchange.
    """
    from pyspark.sql import Window

    if fanouts is None:
        fanouts = [5, 3]
    if not seeds:
        raise ValueError("neighbor_sample: empty seed list")
    if any(f < 1 for f in fanouts):
        raise ValueError(f"fanouts must be >= 1, got {fanouts}")
    adj = (
        _edge_pairs(frame, directed, partition_by_source=True)
        .filter(F.col("source") != F.col("target"))
        .localCheckpoint(eager=True)
    )
    frontier = frame.nodes.select("id").filter(F.col("id").isin(list(seeds)))
    blocks = []
    coin = F.md5(
        F.concat(
            F.col("source").cast("string"),
            F.lit(":"),
            F.col("target").cast("string"),
            F.lit(f":{seed}"),
        )
    )
    w = Window.partitionBy("source").orderBy(coin.asc(), F.col("target").asc())
    for h, fanout in enumerate(fanouts, start=1):
        cand = adj.join(
            frontier.withColumnRenamed("id", "source"),
            on="source",
            how="left_semi",
        )
        picked = (
            cand.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= fanout)
            .select(F.lit(h).alias("hop"), "source", "target")
            .localCheckpoint(eager=False)
        )
        blocks.append(picked)
        frontier = picked.select(F.col("target").alias("id")).distinct()
    out = blocks[0]
    for b in blocks[1:]:
        out = out.union(b)
    return out


def degree_distribution(
    frame, mode: str = "out", simple: bool = False
) -> DataFrame:
    """Degree histogram ``(degree, n_nodes)`` — the first structural
    plot of any graph (power-law check, hub audit).  ``mode``:
    ``"out"`` / ``"in"`` (directed degrees over raw edges, parallel
    edges counted) or ``"und"`` (undirected simple-projection degree).
    ``simple=True`` collapses parallel edges for the directed modes
    too.  Nodes with no incident edges appear as ``degree = 0``.

    Scale design: two chained hash aggregates (per-node degree, then
    per-degree count) — the second input is node-sized, the output
    bounded by the distinct degree count.  The zero row comes from an
    anti-join of the node table against degree holders.
    """
    if mode not in ("out", "in", "und"):
        raise ValueError("mode must be 'out', 'in', or 'und'")
    if mode == "und":
        e = _edge_pairs(frame, directed=False).filter(
            F.col("source") != F.col("target")
        )
        key = "source"
    else:
        e = frame.edges.select("source", "target")
        if simple:
            e = e.distinct()
        key = "source" if mode == "out" else "target"
    deg = e.groupBy(F.col(key).alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    zeros = (
        frame.nodes.select("id")
        .join(deg.select("id"), on="id", how="left_anti")
        .select(F.lit(0).cast("long").alias("degree"))
    )
    return (
        deg.select("degree")
        .union(zeros)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def bipartite_project(
    frame,
    side: str = "target",
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Bipartite projection: connect two ``side`` nodes when they
    share at least one counterpart — ``(a, b, n_shared)`` with
    ``a < b`` and the co-occurrence count as the projected weight
    (``side="target"``: targets linked via shared sources, e.g.
    suppliers via shared customers; ``"source"`` the converse).  The
    standard move from a bipartite interaction graph to a unipartite
    similarity graph (co-purchasing, co-authorship).

    Scale design: one wedge self-join keyed on the shared node + one
    pair hash aggregate — the same shape as
    :func:`link_prediction`.  The wedge count is sum(deg^2) over
    shared nodes, so ``max_hub_degree`` caps the quadratic hubs
    (drop-a-hub is the standard projection practice: a shared hub
    connects everything to everything and carries no signal).  Both
    the join and the agg shuffle on uniform keys; AQE splits residual
    skew.
    """
    if side not in ("source", "target"):
        raise ValueError("side must be 'source' or 'target'")
    shared, proj = (
        ("source", "target") if side == "target" else ("target", "source")
    )
    # r16 (guide §2.4): ONE exchange keyed on the shared node feeds
    # everything up to the pair aggregate.  repartition(shared) first;
    # the dedup (grouping keys ⊇ partitioning key), the hub-degree
    # count (grouping = partitioning key), the semi-join (both sides
    # clustered on `shared`), and the wedge self-join (both sides the
    # same cached table, already clustered on the join key) then all
    # run partition-locally with NO further exchange.  The old shape
    # paid distinct + degree-agg + semi-join + two self-join
    # exchanges; a lazy localCheckpoint before the self-join erased
    # the partitioning Catalyst had (LogicalRDD reports
    # UnknownPartitioning under AQE), so .cache() — which preserves
    # the cached plan's outputPartitioning — replaces it.  Same
    # distinct row set, same counts.
    e = (
        frame.edges.select(shared, proj)
        .repartition(shared)
        .dropDuplicates([shared, proj])
        .cache()
    )
    if max_hub_degree is not None:
        deg = (
            e.groupBy(shared)
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") <= max_hub_degree)
            .select(shared)
        )
        e = e.join(deg, on=shared, how="left_semi")
    a = e.select(F.col(shared).alias("__k"), F.col(proj).alias("a"))
    b = e.select(F.col(shared).alias("__k"), F.col(proj).alias("b"))
    return (
        a.join(b, on="__k")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def attribute_mixing(
    frame, attr_col: str, directed: bool = True
) -> DataFrame:
    """Categorical mixing matrix (Newman 2003): for each ordered pair
    of node-attribute values, the count and fraction of edges running
    between them — ``(attr_a, attr_b, n_edges, fraction)`` at 6 dp.
    The contact-matrix view of homophily (who links to whom).

    Scale design: two node-attribute joins decorate the edge list
    (broadcastable node side when the attribute table fits; hash join
    otherwise) + one hash aggregate on the (value, value) pair;
    matrix size is bounded by distinct-value^2, not edges.
    """
    e = frame.edges.select("source", "target")
    if not directed:
        e = frame.symmetrized_edges()
    la = frame.nodes.select(
        F.col("id").alias("source"), F.col(attr_col).alias("attr_a")
    )
    lb = frame.nodes.select(
        F.col("id").alias("target"), F.col(attr_col).alias("attr_b")
    )
    counts = (
        e.join(la, on="source")
        .join(lb, on="target")
        .groupBy("attr_a", "attr_b")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    tot = counts.agg(F.sum("n_edges").alias("__m"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "attr_a",
        "attr_b",
        "n_edges",
        F.round(F.col("n_edges") / F.col("__m"), 6).alias("fraction"),
    )


def attribute_assortativity(
    frame, attr_col: str, directed: bool = True
) -> DataFrame:
    """Categorical assortativity coefficient (Newman 2003, eq. 2):
    ``r = (sum_i e_ii - sum_i a_i b_i) / (1 - sum_i a_i b_i)`` over
    the mixing matrix — 1 for perfect homophily, 0 for random mixing,
    negative for disassortative graphs.  One row
    ``(n_edges, assortativity)`` at 6 dp; NULL when the denominator
    is 0 (all edges in one category).

    Computed from exact integer edge counts (``r = (m*T - S) /
    (m^2 - S)`` with T = same-value edges, S = sum of row-marginal x
    col-marginal products, accumulated as DECIMAL(38,0)); only the
    final ratio is floating.
    """
    e = frame.edges.select("source", "target")
    if not directed:
        e = frame.symmetrized_edges()
    la = frame.nodes.select(
        F.col("id").alias("source"), F.col(attr_col).alias("attr_a")
    )
    lb = frame.nodes.select(
        F.col("id").alias("target"), F.col(attr_col).alias("attr_b")
    )
    tagged = (
        e.join(la, on="source")
        .join(lb, on="target")
        .groupBy("attr_a", "attr_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    rows = tagged.groupBy("attr_a").agg(F.sum("c").alias("ra"))
    cols = tagged.groupBy("attr_b").agg(F.sum("c").alias("cb"))
    s = (
        rows.join(cols, rows["attr_a"] == cols["attr_b"])
        .agg(
            F.sum(
                F.col("ra").cast(dec) * F.col("cb").cast(dec)
            ).alias("S")
        )
    )
    base = tagged.agg(
        F.sum("c").cast(dec).alias("m"),
        F.sum(
            F.when(F.col("attr_a") == F.col("attr_b"), F.col("c")).otherwise(
                0
            )
        ).cast(dec).alias("T"),
    )
    m_, T_, S_ = F.col("m"), F.col("T"), F.col("S")
    num = (m_ * T_ - S_).cast("double")
    den = (m_ * m_ - S_).cast("double")
    return base.crossJoin(F.broadcast(s)).select(
        F.col("m").cast("long").alias("n_edges"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num / den, 6))
        .alias("assortativity"),
    )


def k_truss(frame, k: int = 3, max_rounds: int | None = None) -> DataFrame:
    """The k-truss of the undirected simple projection: iteratively
    remove edges whose triangle support (number of triangles the edge
    participates in) is below ``k - 2`` until fixpoint; returns the
    surviving edges ``(source, target, support)`` with ``source <
    target`` and the support recomputed on the surviving subgraph.

    Scale-extension operator (no reference counterpart; SURVEY §2.11;
    Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis").  Like the k-core, the k-truss is the unique maximal
    subgraph with edge support >= k-2, so the fixpoint is
    peeling-schedule independent — which is what makes the result
    oracle-checkable by an unrolled fixed-round SQL twin.
    ``max_rounds`` bounds the peel (None = run to convergence); a
    bounded peel is itself deterministic and is what the registered
    driver query pins so the DuckDB oracle can unroll the same number
    of rounds.

    Scale design: per-round support is :func:`_edge_support` over the
    degree-ordered :func:`_triangles` enumeration (O(m^1.5) wedges —
    NOT the naive common-neighbor join, which pays O(Σ deg²) on
    power-law hubs).  The edge set only shrinks, so :func:`_fixpoint`
    runs the peel with ``count`` as its exact convergence signature.
    """
    if k < 2:
        raise ValueError("k_truss: k must be >= 2")
    und = _simple_edges(frame).localCheckpoint(eager=False)

    def _support(edges: DataFrame) -> DataFrame:
        return _edge_support(_triangles(edges, _simple_degrees(edges)))

    def _peel(und: DataFrame) -> DataFrame:
        return (
            und.join(_support(und), on=["u", "v"], how="left")
            .filter(F.coalesce(F.col("c"), F.lit(0)) >= k - 2)
            .select("u", "v")
        )

    und, _ = _fixpoint(und, _peel, DataFrame.count, max_rounds)
    sup = _support(und)
    return (
        und.join(sup, on=["u", "v"], how="left")
        .select(
            F.col("u").alias("source"),
            F.col("v").alias("target"),
            F.coalesce(F.col("c"), F.lit(0)).alias("support"),
        )
    )


def core_numbers(
    frame, max_rounds: int | None = None
) -> DataFrame:
    """Full k-core decomposition of the undirected simple projection:
    every node's core number (the largest k such that the node
    belongs to the k-core), via the distributed h-index iteration
    (Montresor, De Pellegrini & Miorandi 2013): start from degrees
    and repeatedly set each node's estimate to the h-index of its
    neighbors' estimates — the largest ``h`` with at least ``h``
    neighbors at estimate ≥ ``h``.  Estimates decrease monotonically
    and converge to the exact core numbers.  Returns ``(id,
    core_number)`` for every node (isolated nodes report 0).
    ``max_rounds=None`` runs to fixpoint; a pinned round count is the
    bounded deterministic variant the SQL twin unrolls.

    Generalizes :func:`k_core` (which answers membership for ONE k)
    to the whole hierarchy in one run.

    Scale design: per round, ONE keyed join (estimates onto the
    adjacency, partitioned on the neighbor id) and one windowed
    h-index per node — the window is keyed by node (never global),
    state is node-sized, and the adjacency is built once and lazily
    checkpointed.  :func:`_fixpoint` runs the rounds with one
    :func:`_fingerprint` aggregate (bounded scalar) per round as the
    convergence signature.
    """
    und = _simple_edges(frame)
    nb = (
        und.select(F.col("u").alias("id"), F.col("v").alias("nb"))
        .unionAll(und.select(F.col("v").alias("id"), F.col("u").alias("nb")))
        # r16 NEGATIVE RESULT (interleaved A/B at sf0.1): repartition
        # ("nb") + .cache() measured +97% (1.20 -> 2.37 s) — the
        # estimate table broadcasts at this scale, so the nb side is
        # never shuffled per round and the added exchange + columnar
        # cache build are pure cost.  The partitioned layout only
        # pays once estimates exceed the broadcast threshold.
        .localCheckpoint(eager=False)
    )
    est = nb.groupBy("id").agg(F.count(F.lit(1)).alias("est")).localCheckpoint(
        eager=False
    )

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("nb_est").desc(), F.col("nb").asc()
    )

    def _h_index(est: DataFrame) -> DataFrame:
        ranked = (
            nb.join(
                est.select(F.col("id").alias("nb"), F.col("est").alias("nb_est")),
                on="nb",
            )
            .select(
                "id",
                "nb",
                "nb_est",
                F.row_number().over(w).alias("rk"),
            )
        )
        return ranked.groupBy("id").agg(
            F.max(F.least(F.col("rk"), F.col("nb_est"))).alias("est")
        )

    est, _ = _fixpoint(
        est, _h_index, lambda df: _fingerprint(df, "id", "est"), max_rounds
    )
    return (
        frame.nodes.select("id")
        .join(est, on="id", how="left")
        .select("id", F.coalesce("est", F.lit(0)).alias("core_number"))
    )


def edge_jaccard(frame, min_jaccard: float = 0.0) -> DataFrame:
    """Neighborhood similarity of EXISTING edges: for each undirected
    edge ``(u, v)``, the Jaccard overlap of the endpoint
    neighborhoods ``|N(u) ∩ N(v)| / |N(u) ∪ N(v)| = c / (deg_u +
    deg_v - c)`` where ``c`` is the common-neighbor count (the edge's
    triangle support; the union retains the endpoints as members of
    each other's neighborhoods).  Returns ``(source,
    target, n_common, jaccard)`` with ``source < target`` at 6 dp,
    filtered to ``jaccard >= min_jaccard`` — the standard similarity
    sparsifier (keep only embedded edges; drop bridges/noise before
    clustering), complementing :func:`link_prediction` which scores
    NON-adjacent pairs.

    Scale design: the common count is :func:`_edge_support` over the
    degree-ordered :func:`_triangles` enumeration (O(m^1.5) wedges —
    never the naive common-neighbor join), degrees join in as two keyed lookups, and
    ``jaccard = c / (deg_u + deg_v - c)`` is a codegen'd expression.
    """
    und = _simple_edges(frame)
    deg = _simple_degrees(und)
    sup = _edge_support(_triangles(und, deg))
    base = (
        und.join(sup, on=["u", "v"], how="left")
        .join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), on="u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), on="v")
        .select(
            F.col("u").alias("source"),
            F.col("v").alias("target"),
            F.coalesce(F.col("c"), F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce(F.col("c"), F.lit(0))
                / (F.col("du") + F.col("dv") - F.coalesce(F.col("c"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )
    return base.filter(F.col("jaccard") >= min_jaccard)
