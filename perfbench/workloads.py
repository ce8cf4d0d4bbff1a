"""The benchmark's workloads: ``graph`` and ``corpus_ingest``.

A workload builds its inputs in ``load`` (run several times during
set-up) and yields the calls of one pass from ``calls``.  Every call
names the engine layer it enters, runs the engine and materializes the
result into small Python values inside ``fn``, and carries a ``check``
that compares those values with an expectation computed here, outside
the engine (pandas, numpy, networkx), or with the checked output of the
first pass for calls whose inputs repeat from pass to pass.

The generator protocol lets a later call use an earlier call's result:
the runner sends each call's output back into the generator.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import networkx as nx
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from networkframe_spark import NetworkFrame, algorithms, exports, sources
from networkframe_spark.functions import dedup, pipeline, search, similarity
from networkframe_spark.streaming import ops as stream_ops

from datagen import CONTENT, N_NATIONS

REL = 1e-9  # relative tolerance for float sums
SCORE_TOL = 2e-6  # engine scores are rounded to 6 dp
SEARCHES_PER_BATCH = 2  # bm25 and brute-force queries after each batch


@dataclass
class Call:
    layer: str
    op: str
    fn: Callable[[], Any]
    check: Callable[[Any], bool]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL, abs_tol=1e-6)


class Workload:
    def __init__(self, spark, inputs, seed: int, span):
        self.spark = spark
        self.inputs = inputs
        self.seed = seed
        self.span = span  # tracer.span
        self.memo: dict = {}  # checked first-pass outputs, keyed by call

    def load(self) -> None:
        raise NotImplementedError

    def calls(self, rng: np.random.Generator) -> Iterator[Call]:
        raise NotImplementedError

    def reset(self) -> None:
        """Release what the previous pass cached, so every pass starts
        alike."""

    def _first_or_same(self, key, first_check: Callable[[Any], bool]):
        def check(out) -> bool:
            if key not in self.memo:
                if not first_check(out):
                    return False
                self.memo[key] = out
                return True
            return self.memo[key] == out

        return check


# ---------------------------------------------------------------------------
# graph: short relational queries over a persisted graph, then driver-loop
# algorithms on its heavy-edge subgraph
# ---------------------------------------------------------------------------
ITERATE_OPS = (
    "pagerank",
    "weak_components",
    "k_core",
    "label_propagation",
    "core_numbers",
    "louvain",
)


class Graph(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.nf = self.heavy = None
        nodes = self.inputs.nodes
        self.node_ids = nodes.id.to_numpy()
        self.cust_by_nation = {
            n: nodes.id[(nodes.kind == "customer") & (nodes.nationkey == n)].tolist()
            for n in range(N_NATIONS)
        }
        self.supp_by_nation = {
            n: nodes.id[(nodes.kind == "supplier") & (nodes.nationkey == n)].tolist()
            for n in range(N_NATIONS)
        }
        self.nation_of = dict(zip(nodes.id, nodes.nationkey))
        # the heavy-edge subgraph the algorithms run on
        rng = np.random.default_rng([self.seed, 11])
        self.threshold = float(np.round(rng.uniform(89800, 90200), 2))
        e = self.inputs.edges
        self.h_edges = e[e.weight > self.threshold]
        self.h_ids = set(self.h_edges.source) | set(self.h_edges.target)
        g = nx.Graph()
        g.add_nodes_from(self.h_ids)
        g.add_edges_from(zip(self.h_edges.source, self.h_edges.target))
        g.remove_edges_from(nx.selfloop_edges(g))
        self.g = g

    def load(self) -> None:
        if self.nf is not None:
            self.nf.unpersist()
        with self.span("sources", "tpch_graph"):
            nf = sources.tpch_graph(self.spark, self.inputs.graph_dir)
        with self.span("frame", "persist"):
            self._persist(nf)
        with self.span("frame", "heavy_subgraph"):
            heavy = nf.query_edges(
                "weight > @w", local_dict={"w": self.threshold}
            ).remove_unused_nodes()
            # checkpointed rather than cached, so reset can clear the
            # cache entries the algorithms leave behind without touching it
            heavy = NetworkFrame(
                heavy.nodes.localCheckpoint(eager=True),
                heavy.edges.localCheckpoint(eager=True),
                directed=True,
            )
            n = (len(heavy), heavy.n_edges)
        if n != (len(self.h_ids), len(self.h_edges)):
            raise RuntimeError(f"heavy subgraph load: got {n} nodes/edges")
        self.heavy = heavy

    def _persist(self, nf) -> None:
        nf.persist()
        n = (len(nf), nf.n_edges)
        if n != (len(self.inputs.nodes), len(self.inputs.edges)):
            raise RuntimeError(f"graph load: got {n} nodes/edges")
        self.nf = nf

    def reset(self) -> None:
        """Drop the caches the algorithms leave behind (the engine leaves
        that to its caller), then cache the base graph again."""
        self.spark.catalog.clearCache()
        self._persist(self.nf)

    def calls(self, rng):
        yield from self._query_calls(rng)
        yield from self._iterate_calls()

    # expectations -----------------------------------------------------
    def _closure(self, keep_ids) -> pd.DataFrame:
        e = self.inputs.edges
        return e[e.source.isin(keep_ids) & e.target.isin(keep_ids)]

    def _expect_sub(self, keep_ids):
        return (len(keep_ids), len(self._closure(keep_ids)))

    def _block_table(self, edges: pd.DataFrame, value: str | None):
        src = edges.source.map(self.nation_of)
        dst = edges.target.map(self.nation_of)
        if value is None:
            g = edges.groupby([src, dst]).size()
        else:
            g = edges.groupby([src, dst])[value].sum()
        return {(int(s), int(t)): float(v) for (s, t), v in g.items()}

    @staticmethod
    def _tables_match(got: dict, want: dict) -> bool:
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)

    def _query_calls(self, rng):
        nf = self.nf
        nodes, edges = self.inputs.nodes, self.inputs.edges

        b = float(np.round(rng.uniform(2000, 8000), 2))
        keep = nodes.id[nodes.acctbal > b]
        yield Call(
            "frame",
            "query_nodes",
            lambda: (lambda s: (len(s), s.n_edges))(
                nf.query_nodes("acctbal > @b", local_dict={"b": b})
            ),
            lambda out: out == self._expect_sub(keep),
        )

        w = float(np.round(rng.uniform(20000, 90000), 2))
        yield Call(
            "frame",
            "query_edges",
            lambda: (lambda s: (len(s), s.n_edges))(
                nf.query_edges("weight > @w", local_dict={"w": w})
            ),
            lambda out: out == (len(nodes), int((edges.weight > w).sum())),
        )

        na = rng.choice(N_NATIONS, 3, replace=False)
        nb = rng.choice(N_NATIONS, 3, replace=False)
        rows = [i for n in na for i in self.cust_by_nation[n]]
        cols = [i for n in nb for i in self.supp_by_nation[n]]
        yield Call(
            "frame",
            "loc",
            lambda: (lambda s: (len(s), s.n_edges))(nf.loc[rows, cols]),
            lambda out: out
            == (
                len(set(rows) | set(cols)),
                int((edges.source.isin(rows) & edges.target.isin(cols)).sum()),
            ),
        )

        drop = [int(i) for i in rng.choice(self.node_ids, 50, replace=False)]
        yield Call(
            "frame",
            "remove_nodes",
            lambda: (lambda s: (len(s), s.n_edges))(nf.remove_nodes(drop)),
            lambda out: out == self._expect_sub(nodes.id[~nodes.id.isin(drop)]),
        )

        w2 = float(np.round(rng.uniform(20000, 90000), 2))

        def apply_features():
            e = nf.query_edges("weight > @w", local_dict={"w": w2}).apply_node_features(
                "acctbal"
            ).edges
            r = e.agg(
                F.count(F.lit(1)), F.sum("source_acctbal"), F.sum("target_acctbal")
            ).collect()[0]
            return (r[0], r[1], r[2])

        def check_features(out) -> bool:
            sel = edges[edges.weight > w2]
            bal = dict(zip(nodes.id, nodes.acctbal))
            return (
                out[0] == len(sel)
                and _close(out[1], float(sel.source.map(bal).sum()))
                and _close(out[2], float(sel.target.map(bal).sum()))
            )

        yield Call("frame", "apply_node_features", apply_features, check_features)

        ns = sorted(int(n) for n in rng.choice(N_NATIONS, 8, replace=False))
        in_ns = nodes.id[nodes.nationkey.isin(ns)]

        def size_edges():
            sub = nf.query_nodes("nationkey in @ns", local_dict={"ns": ns})
            rows = sub.groupby_nodes("nationkey").size_edges().collect()
            return {(r[0], r[1]): float(r[2]) for r in rows}

        yield Call(
            "groupby",
            "size_edges",
            size_edges,
            lambda out: self._tables_match(
                out, self._block_table(self._closure(in_ns), None)
            ),
        )

        w3 = float(np.round(rng.uniform(20000, 90000), 2))
        condensed_want = self._block_table(edges[edges.weight > w3], "weight")

        def condense():
            c = nf.query_edges("weight > @w", local_dict={"w": w3}).condense(
                "nationkey", func="sum", columns=["weight"]
            )
            table = {(r[0], r[1]): r[2] for r in c.edges.collect()}
            return c, table

        condensed = yield Call(
            "frame",
            "condense",
            condense,
            lambda out: self._tables_match(out[1], condensed_want),
        )

        b2 = float(np.round(rng.uniform(2000, 8000), 2))

        def aggregated():
            sub = nf.query_nodes("acctbal > @b", local_dict={"b": b2})
            agg = sub.aggregated_edges(weight_col="weight", aggfunc="sum")
            r = agg.agg(F.count(F.lit(1)), F.sum("weight")).collect()[0]
            return (r[0], r[1])

        def check_aggregated(out) -> bool:
            sel = self._closure(nodes.id[nodes.acctbal > b2])
            return out[0] == len(sel.groupby(["source", "target"])) and _close(
                out[1], float(sel.weight.sum())
            )

        yield Call("frame", "aggregated_edges", aggregated, check_aggregated)

        ns2 = sorted(int(n) for n in rng.choice(N_NATIONS, 8, replace=False))

        def khop():
            sub = nf.query_nodes("nationkey in @ns", local_dict={"ns": ns2})
            pairs = sub.k_hop_pairs(1).count()
            agg = sub.k_hop_aggregation(1, aggregations=["mean"])
            rows = agg.select("id", "acctbal_neighbor_mean").collect()
            return pairs, {r[0]: r[1] for r in rows}

        def check_khop(out) -> bool:
            sel = self._closure(nodes.id[nodes.nationkey.isin(ns2)])
            und = pd.concat(
                [
                    sel[["source", "target"]],
                    sel[["target", "source"]].set_axis(["source", "target"], axis=1),
                ]
            ).drop_duplicates()
            und = und[und.source != und.target]
            bal = dict(zip(nodes.id, nodes.acctbal))
            want = und.target.map(bal).groupby(und.source).mean()
            got = out[1]
            # nodes without neighbors may appear with a null mean
            return (
                out[0] == len(und)
                and got.keys() >= set(want.index)
                and all(_close(got[k], v) for k, v in want.items())
                and all(got[k] is None for k in got.keys() - set(want.index))
            )

        yield Call("frame", "k_hop_aggregation", khop, check_khop)

        def sparse():
            mat, ids = exports.to_sparse_adjacency(condensed[0], weight_col="weight")
            return len(ids), len(mat.vals), float(mat.vals.sum())

        yield Call(
            "exports",
            "to_sparse_adjacency",
            sparse,
            lambda out: out[0] == N_NATIONS
            and out[1] == len(condensed_want)
            and _close(out[2], sum(condensed_want.values())),
        )

    # expectations (the first pass is checked against these) ----------
    def _pagerank_ok(self, got: dict) -> bool:
        ids = sorted(self.h_ids)
        pos = {v: i for i, v in enumerate(ids)}
        n, d = len(ids), 0.85
        src = self.h_edges.source.map(pos).to_numpy()
        dst = self.h_edges.target.map(pos).to_numpy()
        outdeg = np.bincount(src, minlength=n).astype(float)
        pr = np.full(n, 1.0 / n)
        for _ in range(5):
            nxt = np.zeros(n)
            np.add.at(nxt, dst, pr[src] / outdeg[src])
            pr = np.round((1 - d) / n + d * nxt, 12)
        return got.keys() == set(ids) and all(
            abs(got[v] - pr[pos[v]]) <= SCORE_TOL for v in ids
        )

    def _components_ok(self, got: dict) -> bool:
        e = self.h_edges
        return (
            got.keys() == self.h_ids
            and all(got[s] == got[t] for s, t in zip(e.source, e.target))
            and len(set(got.values())) == nx.number_connected_components(self.g)
        )

    def _kcore_ok(self, got: dict) -> bool:
        want = set(nx.k_core(self.g, 2).nodes)
        return got.keys() == want and all(v >= 2 for v in got.values())

    def _labels_ok(self, got: dict) -> bool:
        return got.keys() == self.h_ids and None not in got.values()

    def _core_numbers_ok(self, got: dict) -> bool:
        core = nx.core_number(self.g)
        return got.keys() == self.h_ids and all(
            core[v] <= got[v] <= self.g.degree(v) for v in self.h_ids
        )

    def _louvain_ok(self, got: dict) -> bool:
        if got.keys() != self.h_ids or None in got.values():
            return False
        groups: dict = {}
        for v, c in got.items():
            groups.setdefault(c, set()).add(v)
        singletons = [{v} for v in self.h_ids]
        return nx.community.modularity(self.g, groups.values()) >= nx.community.modularity(
            self.g, singletons
        )

    def _iterate_calls(self):
        h = self.heavy

        def collect(df, value_col):
            return {r[0]: r[1] for r in df.select("id", value_col).collect()}

        specs = (
            ("pagerank", lambda: collect(algorithms.pagerank(h, n_iter=5), "pagerank"), self._pagerank_ok),
            (
                "weak_components",
                lambda: collect(
                    algorithms.connected_component_labels(h, directed=False), "component"
                ),
                self._components_ok,
            ),
            ("k_core", lambda: collect(algorithms.k_core(h, 2), "core_degree"), self._kcore_ok),
            (
                "label_propagation",
                lambda: collect(algorithms.label_propagation(h, n_iter=2), "community"),
                self._labels_ok,
            ),
            (
                "core_numbers",
                lambda: collect(algorithms.core_numbers(h, max_rounds=3), "core_number"),
                self._core_numbers_ok,
            ),
            (
                "louvain",
                lambda: collect(
                    algorithms.louvain_communities(h, n_levels=1, n_rounds=1), "community"
                ),
                self._louvain_ok,
            ),
        )
        for op, fn, first_check in specs:
            yield Call("algorithms", op, fn, self._first_or_same(op, first_check))


# ---------------------------------------------------------------------------
# corpus_ingest: micro-batches folded into near-dup state, with searches
# ---------------------------------------------------------------------------
def _shingles(toks: list, n: int = 3) -> set:
    """Distinct word n-grams; a document shorter than n is one shingle
    (as ``dedup.shingles_from_tokens`` defines them)."""
    if len(toks) < n:
        return {" ".join(toks)} - {""}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _near_duplicates(tokens_of: dict, threshold: float) -> set:
    """Every pair ``(a, b)``, a < b, whose shingle Jaccard (rounded to
    6 dp, as the engine rounds it) is at least ``threshold``: exact,
    through an inverted index over shingles."""
    sh = {i: _shingles(t) for i, t in tokens_of.items()}
    postings: dict = {}
    for i, s in sh.items():
        for x in s:
            postings.setdefault(x, []).append(i)
    shared: dict = {}
    for ids in postings.values():
        for j, a in enumerate(ids):
            for b in ids[j + 1 :]:
                key = (a, b) if a < b else (b, a)
                shared[key] = shared.get(key, 0) + 1
    return {
        (a, b)
        for (a, b), n in shared.items()
        if round(n / (len(sh[a]) + len(sh[b]) - n), 6) >= threshold
    }


class CorpusIngest(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        docs = self.inputs.docs
        self.text_of = dict(zip(docs.doc_id, docs.text))
        self.tokens_of = {i: t.lower().split() for i, t in self.text_of.items()}
        self.reference_pairs = _near_duplicates(self.tokens_of, 0.8)

    def _read_batch(self, b: int):
        dpath, epath, _, _ = self.inputs.batch_files[b]
        d = sources.read_table_at(self.spark, dpath).cache()
        e = (
            sources.read_table_at(self.spark, epath)
            .withColumn("embedding", F.col("embedding").cast("array<double>"))
            .cache()
        )
        return d, e, d.count(), e.count()

    def reset(self) -> None:
        """Drop the batches and the shingle tables the near-dup
        verification leaves cached (the engine leaves that to its
        caller)."""
        self.spark.catalog.clearCache()

    def load(self) -> None:
        """Stage every micro-batch once (read, cache, count, release) —
        the input validation a stream consumer does before it starts."""
        for b, (_, _, (lo, hi), ids) in enumerate(self.inputs.batch_files):
            with self.span("sources", "read_batch"):
                _, _, nd, ne = self._read_batch(b)
            self.reset()
            if (nd, ne) != (len(ids), hi - lo):
                raise RuntimeError(f"batch {b}: got {nd} docs, {ne} vectors")

    # expectations -----------------------------------------------------
    def _quality_ok(self, batch_ids, kept: list) -> bool:
        for i in kept:
            toks = self.tokens_of[i]
            grams = list(zip(toks, toks[1:]))
            rep = 1 - len(set(grams)) / len(grams) if grams else 0.0
            if len(toks) < 5 or rep > 0.3:
                return False
        return set(kept) <= set(batch_ids)

    def _exact_ok(self, batch_ids, got: dict) -> bool:
        canon: dict = {}
        for i in sorted(batch_ids):
            canon.setdefault(" ".join(self.tokens_of[i]), i)
        return got == {i: canon[" ".join(self.tokens_of[i])] for i in batch_ids}

    def _simhash_ok(self, batch_ids, got: dict) -> bool:
        by_text: dict = {}
        for i in batch_ids:
            by_text.setdefault(self.text_of[i], set()).add(got.get(i))
        return got.keys() == set(batch_ids) and all(len(v) == 1 for v in by_text.values())

    def _bm25_want(self, seen: list, terms: list, k: int = 10):
        k1, bb = 1.2, 0.75
        toks = [self.tokens_of[i] for i in seen]
        n = len(toks)
        avgdl = sum(len(t) for t in toks) / n
        dfreq = {t: sum(1 for d in toks if t in d) for t in terms}
        scores = {}
        for i, d in zip(seen, toks):
            s = 0.0
            for t in terms:
                tf = d.count(t)
                if tf:
                    idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                    s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - bb + bb * len(d) / avgdl)), 6)
            if s:
                scores[i] = round(s, 6)
        return scores, sorted(scores.values(), reverse=True)[:k]

    @staticmethod
    def _ranked_ok(got: list, scores: dict, top: list) -> bool:
        """``got`` is [(id, score)] in rank order; ties may order either
        way within the 6-dp rounding the engine applies."""
        if len(got) != len(top):
            return False
        for (i, s), want in zip(got, top):
            if abs(s - want) > SCORE_TOL or abs(scores.get(i, math.inf) - s) > SCORE_TOL:
                return False
        return True

    def calls(self, rng):
        spark = self.spark
        docs_state = bands = pairs = None
        emb_seen = None
        seen: list = []
        dim = self.inputs.emb.shape[1]
        for b, (_, _, (lo, hi), ids) in enumerate(self.inputs.batch_files):
            got = yield Call(
                "sources", "read_batch", lambda b=b: self._read_batch(b),
                lambda out, ids=ids, lo=lo, hi=hi: out[2:] == (len(ids), hi - lo),
            )
            if got is None:
                return
            batch, emb_b = got[0], got[1]
            emb_seen = emb_b if emb_seen is None else emb_seen.unionByName(emb_b)
            seen.extend(ids)

            yield Call(
                "functions.pipeline", "filter_quality",
                lambda: sorted(r[0] for r in pipeline.filter_quality(batch).select("doc_id").collect()),
                self._first_or_same(("quality", b), lambda out, ids=ids: self._quality_ok(ids, out)),
            )
            yield Call(
                "functions.dedup", "exact_duplicates",
                lambda: {r[0]: r[1] for r in dedup.exact_duplicates(batch).select("doc_id", "canonical_id").collect()},
                lambda out, ids=ids: self._exact_ok(ids, out),
            )
            yield Call(
                "functions.dedup", "simhash_table",
                lambda: {r[0]: r[1] for r in dedup.simhash_table(batch).collect()},
                self._first_or_same(("simhash", b), lambda out, ids=ids: self._simhash_ok(ids, out)),
            )

            last = b == len(self.inputs.batch_files) - 1

            def fold(batch=batch, state=(docs_state, bands, pairs)):
                new = stream_ops.neardup_increment(batch, *state, materialize=True)
                return new, {(r[0], r[1]) for r in new[2].select("id_a", "id_b").collect()}

            # the pairs after the last batch are those of the whole corpus
            pair_check = self._first_or_same(
                ("fold", b),
                (lambda out: out == self.reference_pairs) if last else (lambda out: True),
            )
            folded = yield Call(
                "streaming", "neardup_increment", fold,
                lambda out, chk=pair_check: chk(out[1]),
            )
            if folded is None:
                return
            docs_state, bands, pairs = folded[0]

            # searches over the corpus so far
            for _ in range(SEARCHES_PER_BATCH):
                terms = [str(t) for t in rng.choice(CONTENT, 3, replace=False)]
                scores, top = self._bm25_want(seen, terms)
                yield Call(
                    "functions.search", "bm25_top_docs",
                    lambda d=docs_state, t=terms: [
                        (r[0], r[1]) for r in search.bm25_top_docs(d, t, k=10).orderBy("rank").collect()
                    ],
                    lambda out, s=scores, t=top: self._ranked_ok(out, s, t),
                )

                picks = rng.choice(np.arange(lo, hi), 3, replace=False)
                qv = self.inputs.emb[picks] + rng.normal(0.0, 0.3, (3, dim))
                queries = spark.createDataFrame(
                    [(-1 - j, [float(x) for x in v]) for j, v in enumerate(qv)],
                    "vec_id long, embedding array<double>",
                )
                yield Call(
                    "functions.similarity", "brute_force_top_k",
                    lambda c=emb_seen, q=queries: sorted(
                        (r[0], r[3], r[1], r[2])
                        for r in similarity.brute_force_top_k(c, q, k=10, exclude_self=False).collect()
                    ),
                    lambda out, qv=qv, hi=hi: self._topk_ok(out, qv, hi),
                )

    def _topk_ok(self, out: list, qv: np.ndarray, hi: int) -> bool:
        corpus = self.inputs.emb[:hi]  # batches arrive in vec_id order
        cn = np.linalg.norm(corpus, axis=1)
        for j, q in enumerate(qv):
            cos = np.round(corpus @ q / (cn * np.linalg.norm(q)), 6)
            scores = dict(enumerate(cos))
            top = sorted(cos, reverse=True)[:10]
            got = [(vid, s) for qid, _, vid, s in out if qid == -1 - j]
            if not self._ranked_ok(got, scores, top):
                return False
        return True
