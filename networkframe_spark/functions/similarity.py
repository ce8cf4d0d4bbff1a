"""Similarity search over embedding columns (array<float>).

Every exact pair score here is :func:`pair_score` (6-dp cosine
descending or 6-dp squared L2 ascending, from a dot product and two
per-row :func:`self_term` values), and every searcher ends in the one
ranked cut, :func:`~networkframe_spark.functions.stats._top_k` (rank
per query, ties to the lower id, keep the first k).

- ``brute_force_top_k``: exact cosine top-k — the correctness baseline.
  Query side broadcast, dot products via ``F.zip_with``/``F.aggregate``
  (JVM-side, no Python).
- ``lsh_top_k``: random-hyperplane LSH — the scale path.  Signatures
  from deterministic Rademacher (+/-1) hyperplanes; only same-bucket
  pairs get exact scoring.  At 100 TB the bucket join replaces the
  corpus-size crossJoin with a shuffle keyed on the signature.

One banding kernel serves every hyperplane-LSH path — :func:`lsh_top_k`,
:func:`semantic_decontaminate` (``method="lsh"``), the persisted LSH
index (:func:`build_lsh_index`, :func:`lsh_index_add`,
:func:`lsh_index_search`) and ``dedup.embedding_duplicates``
(``mode="lsh"``):

- :func:`_lsh_planes` — every table's hyperplanes under the one seed
  rule, and the ``n_planes`` range check; :func:`_lsh_dim` resolves
  the dimension they span.
- :func:`_lsh_signatures` — the per-table ``(table, bucket)`` signature
  array of a vector, each :func:`signature_col` built once.
- :func:`_lsh_band` — explodes a frame into ``(…, table, bucket)``
  rows, fanning probe masks (:func:`_hamming_ball_masks`, which checks
  ``n_probe_bits``) out behind the generate boundary.  The search of a
  persisted index collects the same signature array for its queries,
  so a query's home bucket is a stored bucket by construction.

One probe kernel serves the four persisted ANN searches —
:func:`ivf_index_search`, :func:`ivf_sq_search`, :func:`ivfpq_search`
and :func:`lsh_index_search`:

- :func:`_probe_batch` — the one bounded query collect (Arrow, guarded
  by ``_MAX_QUERY_BATCH``), carrying the per-query terms Spark computes
  before it (norms, self-terms, LSH signatures).
- :func:`_probe_tables` — the one probe-table builder: the guarded
  probe-pair table, the query table and the partition-pruned store;
  :func:`_cell_probes` routes the IVF family's queries to cells first.
- :func:`_probe_top_k` — the one scored tail: probe joins on the
  partition keys, ``exclude_self``, the score (folded per pair for LSH
  collisions and IVF-PQ sub-quantizers) and the ranked cut.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import store
from ..session import local_table, shuffle_partitions
from .stats import _top_k


def round_half_up(x, decimals: int = 6):
    """Numpy twin of ``F.round`` / DuckDB ``round`` (HALF_UP — ties away
    from zero).  ``np.round`` is half-even (banker's), which diverges on
    exact decimal midpoints; numpy scoring paths that are oracle-compared
    against the SQL twin must round identically or a sim landing on a
    6-dp midpoint flips the value hash (or the argmax cluster).
    """
    import numpy as np

    m = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * m + 0.5) / m


#: Measured JIT cliff (r14, 50k clustered vectors, banded-LSH verify,
#: A/B'd at dims 16/32/64): the unrolled chain is 1.7x FASTER than the
#: interpreted fold at dim=16 but 5x SLOWER at dim>=32 — the generated
#: eval method crosses HotSpot's huge-method limit and runs in the
#: BYTECODE interpreter, which loses to Catalyst's compact fold loop.
#: Above the gate the fold stays; at production dims (256-4096) the
#: vectorized-Arrow paths (semantic_dedup_arrow, ann_rerank batches)
#: are the per-pair scoring answer, not expression unrolling.
_UNROLL_MAX_DIM = 16


def dot_expr(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array columns.  When ``dim`` is known AND
    at most ``_UNROLL_MAX_DIM``, the sum UNROLLS into an
    ``element_at`` chain that codegen compiles (higher-order
    ``aggregate``/``zip_with`` evaluate interpreted); both forms
    left-associate from 0.0, so they are bit-identical.  Larger dims
    keep the fold — see ``_UNROLL_MAX_DIM`` for the measured cliff."""
    if dim and dim <= _UNROLL_MAX_DIM:
        s: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            s = s + F.element_at(a, i) * F.element_at(b, i)
        return s
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column, dim: int | None = None) -> Column:
    """L2 norm; same known-``dim`` gated codegen unroll as
    :func:`dot_expr` (bit-identical fold order)."""
    if dim and dim <= _UNROLL_MAX_DIM:
        s: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            e = F.element_at(a, i)
            s = s + e * e
        return F.sqrt(s)
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def self_term(c: Column, metric: str, dim: int | None = None) -> Column:
    """The per-row term :func:`pair_score` pairs with a dot product:
    the norm for cosine, the self-dot for L2 (computed directly, NOT
    norm^2, so the tree matches the SQL twin's list_dot_product(v, v)
    term exactly).  Computed once per row instead of once per pair."""
    return norm_expr(c, dim) if metric == "cosine" else dot_expr(c, c, dim)


def pair_score(
    dot: Column, a_self, b_self, metric: str = "cosine"
) -> tuple[str, Column, Column]:
    """The 6-dp pair score every exact search ranks on, from a dot
    product and the two rows' :func:`self_term` (columns or column
    names).  Returns ``(name, score, order)``: ``"cosine"``,
    ``round(dot / (a_self * b_self), 6)``, descending; or ``"d2"``,
    ``round(a_self - 2*dot + b_self, 6)``, ascending.  Rounding to 6 dp
    makes near-equal scores tie exactly, so every engine breaks them
    on the id the same way."""
    a = F.col(a_self) if isinstance(a_self, str) else a_self
    b = F.col(b_self) if isinstance(b_self, str) else b_self
    if metric == "cosine":
        return "cosine", F.round(dot / (a * b), 6), F.desc("cosine")
    return "d2", F.round(a - 2.0 * dot + b, 6), F.asc("d2")


def _validate_dim(df: DataFrame, emb_col: str, dim: int | None, fn: str) -> None:
    """Guard the public ``dim`` contract: ``dim`` feeds the known-dim
    codegen unroll (:func:`dot_expr` / :func:`norm_expr`), where an
    UNDERSTATED value silently scores a prefix of every vector and an
    overstated one yields nulls (non-ANSI) or errors (ANSI mode) —
    wrong either way, silently.  Called once per public entry point
    whenever the caller supplies ``dim`` explicitly: one sampled row,
    a tiny job next to the search itself."""
    if dim is None:
        return
    first = df.select(F.size(F.col(emb_col)).alias("d")).first()
    if first is not None and first["d"] != dim:
        raise ValueError(
            f"{fn}: dim={dim} does not match the {emb_col!r} array "
            f"length {first['d']} sampled from the data — the known-dim "
            "unroll would silently score a prefix (or produce nulls). "
            "Pass the true dimension or omit dim to let it be inferred."
        )


def l2_lit_expr(v: Column, cen: list[float]) -> Column:
    """Squared L2 distance to a LITERAL centroid — unrolled into a
    codegen-able chain when the dim is at most ``_UNROLL_MAX_DIM``,
    the interpreted fold otherwise (same JIT cliff as
    :func:`dot_expr`); both forms are bit-identical (same 0.0-seeded
    left association, same per-element arithmetic)."""
    if len(cen) <= _UNROLL_MAX_DIM:
        d: Column = F.lit(0.0)
        for i, x in enumerate(cen):
            diff = F.element_at(v, i + 1) - F.lit(float(x))
            d = d + diff * diff
        return d
    carr = F.array(*[F.lit(float(x)) for x in cen])
    return F.aggregate(
        F.zip_with(v, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v2: acc + v2,
    )


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    metric: str = "cosine",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k: for each query row, the k most similar corpus
    rows.  ``metric="cosine"`` (default) returns ``(query_id, vec_id,
    cosine, rank)`` ranked by descending 6-dp cosine;
    ``metric="l2"`` returns ``(query_id, vec_id, d2, rank)`` ranked
    by ascending 6-dp squared L2 — the exact truth an L2 index
    (IVF / PQ / IVF-PQ) must be evaluated against (cosine truth would
    charge the index for metric disagreement, not quantization loss).
    Ties break to the lower corpus id under both metrics.

    The query side is broadcast (queries << corpus is the normal
    shape); scoring is one codegen'd projection over the corpus —
    no shuffle until the per-query top-k aggregate.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError("brute_force_top_k: metric must be 'cosine' or 'l2'")
    _validate_dim(corpus, emb_col, dim, "brute_force_top_k")
    query_id_col = query_id_col or id_col
    # spread the corpus so scoring parallelizes even from a single
    # parquet partition
    n_part = shuffle_partitions(corpus.sparkSession)
    # pass dim for the codegen unroll at corpus scale (r14); default
    # None keeps the interpreted-fold expression tree (and therefore
    # the registered queries' plan fingerprints) unchanged
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        self_term(F.col(emb_col), metric, dim).alias("q_self"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("c_emb"),
        self_term(F.col(emb_col), metric, dim).alias("c_self"),
    ).repartition(n_part)
    score_col, score, order = pair_score(
        dot_expr(F.col("q_emb"), F.col("c_emb"), dim), "q_self", "c_self", metric
    )
    scored = c.join(F.broadcast(q)).withColumn(score_col, score)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", score_col, "rank"
    )


def _hamming_ball_masks(n_planes: int, n_probe_bits: int) -> list[int]:
    """XOR masks for every bucket within Hamming distance
    ``n_probe_bits`` of a signature (mask 0 = the home bucket),
    enumerated via ``itertools.combinations`` so the driver cost is
    the ball size ``C(n_planes, 0..n_probe_bits)``, not
    ``2^n_planes`` — a caller with ``n_planes=24`` and one probe bit
    gets 25 masks instead of a 16M-iteration scan.  Sorted ascending,
    the exact order the old full-range filter produced."""
    import itertools

    if not 0 <= n_probe_bits <= n_planes:
        raise ValueError(
            f"LSH n_probe_bits must be in [0, n_planes={n_planes}], "
            f"got {n_probe_bits}"
        )
    masks = [
        sum(1 << j for j in combo)
        for r in range(n_probe_bits + 1)
        for combo in itertools.combinations(range(n_planes), r)
    ]
    return sorted(masks)


#: Hard cap on the driver-collected query batch for the persisted-index
#: probe paths.  The ADC lookup table and the probe-pair broadcast are
#: n_queries-sized BY DESIGN (queries << corpus is the ANN contract);
#: a corpus-sized "query" set must be chunked by the caller — this
#: guard makes that failure loud instead of a silent driver OOM.
_MAX_QUERY_BATCH = 1_000_000

#: Hard cap on the residual-mode ADC table (n_queries × n_probe × m ×
#: k_codes rows — the n_probe factor is the residual tax; no-residual
#: tables skip it).  Measured boundary: 105M rows tripped
#: spark.driver.maxResultSize mid-job (1038 MiB > the 1 GiB default)
#: while 26M rows (~260 MiB) broadcast fine — 40M keeps a 2.6×
#: safety margin below the measured failure and fails loudly up
#: front with the fix spelled out.
_MAX_RESIDUAL_LUT_ROWS = 40_000_000

#: Hard cap on the driver-built probe-pair table — the PRODUCT that
#: the plain query-count guard misses: ``lsh_index_search`` builds
#: n_queries × n_tables × |Hamming ball| tuples and the IVF probes
#: build n_queries × n_probe, so a legal 1M-query call with 4 tables
#: and a 137-mask ball would construct ~548M driver tuples and OOM
#: before ``_MAX_QUERY_BATCH`` ever fires.  Same 40M budget as the
#: ADC-table guard (both ship through one session.local_table +
#: broadcast); past it, chunk via ``ann_search_batched``.
_MAX_PROBE_ROWS = 40_000_000


def _guard_probe_rows(n_rows: int, where: str, detail: str) -> None:
    """Loudly reject a driver-side probe-pair table bigger than
    :data:`_MAX_PROBE_ROWS` (see that constant for why the composite
    product needs its own guard)."""
    if n_rows > _MAX_PROBE_ROWS:
        raise ValueError(
            f"{where}: probe-pair table would be {n_rows} rows "
            f"({detail} > {_MAX_PROBE_ROWS}) and it is built on the "
            "driver — reduce the probe width or chunk the query "
            "batch (ann_search_batched)"
        )


# ---------------------------------------------------------------------------
# the probe kernel of the persisted ANN searches (see the module docstring)
# ---------------------------------------------------------------------------
def _probe_batch(queries, query_id_col: str, emb_col: str, where: str, **cols):
    """A persisted-index search's query batch, as ONE bounded Arrow
    collect: ``query_id``, ``q_emb`` (``array<double>``) and each
    ``cols`` column, computed by Spark before the collect so a
    per-query term is the same expression as its stored twin.

    Raises loudly past :data:`_MAX_QUERY_BATCH` rows — the collect is
    bounded by ``limit(cap + 1)`` so the guard itself never
    materializes an unbounded batch."""
    # SQL strings: one py4j round trip per column, not one per call
    batch = (
        queries.select(
            F.expr(f"`{query_id_col}` AS query_id"),
            F.expr(f"CAST(`{emb_col}` AS ARRAY<DOUBLE>) AS q_emb"),
            *[c.alias(name) for name, c in cols.items()],
        )
        .limit(_MAX_QUERY_BATCH + 1)
        .toArrow()
    )
    if batch.num_rows > _MAX_QUERY_BATCH:
        raise ValueError(
            f"{where}: query batch exceeds {_MAX_QUERY_BATCH} rows; the "
            "probe-pair and ADC-table broadcasts are query-sized by "
            "design — chunk the query set and probe per chunk "
            "(ann_search_batched)"
        )
    return batch


def _batch_matrix(batch, col: str, width: int):
    """The fixed-width array column ``col`` of a :func:`_probe_batch`
    batch as an ``(n_queries, width)`` numpy matrix."""
    return batch[col].combine_chunks().flatten().to_numpy().reshape(
        batch.num_rows, width
    )


def _probe_tables(spark, batch, where: str, detail: str, keys: dict, stored: str,
                  masks=(0,)):
    """The probe-pair table, the query table and the pruned store of
    one search, from its :func:`_probe_batch` batch.

    ``keys`` maps each partition column of the store to an
    ``(n_queries, width)`` array of every query's probes, of the
    column's type (int32 for ``int``, int64 for ``long``); ``masks``
    (:func:`_hamming_ball_masks`) fan every probe out by XOR-ing its
    last key.  The table is size-guarded by :func:`_guard_probe_rows`
    before it is built.  Returns ``(probes, q, pruned)``:
    ``(query_id, *keys)``, every batch column, and the parquet store
    ``stored`` filtered by one SQL predicate on the probed partition
    values — literals, so the scan prunes at file listing; an empty
    batch probes nothing."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    n = batch.num_rows
    *outer, last = keys.values()
    width = last.shape[1]
    _guard_probe_rows(n * width * len(masks), where, detail)
    m = np.asarray(masks, dtype=last.dtype)
    flat = [np.repeat(a, len(m)) for a in outer] + [(last[..., None] ^ m).ravel()]
    probes = pa.table(
        [batch["query_id"].take(np.repeat(np.arange(n), width * len(m))), *flat],
        names=["query_id", *keys],
    )
    probes, q = (
        local_table(spark, (), from_arrow_schema(t.schema), columns=t.columns)
        for t in (probes, batch)
    )
    # the distinct probed partitions, grouped on all keys but the last
    groups: dict[tuple, list] = {}
    for *vals, v in np.unique(np.stack(flat, axis=1), axis=0).tolist():
        groups.setdefault(tuple(vals), []).append(v)
    pred = " OR ".join(
        "(" + "".join(f"`{c}` = {v} AND " for c, v in zip(keys, vals))
        + f"`{list(keys)[-1]}` IN ({', '.join(map(str, group))}))"
        for vals, group in groups.items()
    )
    return probes, q, spark.read.parquet(stored).filter(pred or "false")


def _cell_probes(spark, batch, centroids, n_probe: int, where: str, stored: str):
    """:func:`_probe_tables` for the IVF family: ONE ``Q @ C.T``
    float64 GEMM routes every query to its ``n_probe`` nearest
    centroids at once (argmin of ``|q-c|^2`` == row-stable argsort of
    ``|c|^2 - 2 q.c``; ties break to the lowest list id)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    Q = _batch_matrix(batch, "q_emb", C.shape[1])
    d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (Q @ C.T)
    order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
    return _probe_tables(
        spark, batch, where,
        f"{batch.num_rows} queries × {order.shape[1]} probes",
        {"list_id": order.astype(np.int32)}, stored,
    )


def _probe_top_k(stored, joins, k: int, pair, exclude_self: bool = False,
                 fold=None) -> DataFrame:
    """The scored tail of every persisted-index search: the pruned
    ``stored`` rows joined to each broadcast ``(table, keys)`` of
    ``joins`` in turn — the probe pairs on the partition keys, then the
    query (or ADC lookup) table —, self-matches dropped under
    ``exclude_self``, then scored with ``pair`` (``(name, score,
    order)``, :func:`pair_score`'s triple) and cut to the top ``k`` per
    query, ties to the lower ``vec_id``.  ``fold`` (an aggregate
    function) folds the scores of each ``(query_id, vec_id)``: LSH's
    max over the pair's collisions, IVF-PQ's sum over its
    sub-quantizers.  Returns ``(query_id, vec_id, <name>, rank)``."""
    name, score, order = pair
    scored = stored
    for table, keys in joins:
        scored = scored.join(F.broadcast(table), on=keys)
    if exclude_self:
        scored = scored.filter("query_id != vec_id")
    if fold is None:
        scored = scored.withColumn(name, score)
    else:
        scored = scored.groupBy("query_id", "vec_id").agg(fold(score).alias(name))
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", name, "rank"
    )


def _hyperplane_signs(n_planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic Rademacher hyperplanes: sign from md5(seed,j,d).
    Reproducible everywhere (no RNG state, no numpy dependency)."""
    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).digest()[0]
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    return planes


def signature_col(emb: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id: one bit per hyperplane = sign(dot(plane, v)).

    Zero planes is the deterministic degenerate mode: every vector
    lands in bucket 0, the candidate set is the full corpus, and
    :func:`lsh_top_k` becomes bit-identical to brute force — the same
    exhaustive-probe trick IVF uses to stay SQL-oracle-checkable."""
    if not planes:
        return F.lit(0).cast("long")
    bits = []
    # kept as the compact interpreted fold ON PURPOSE (r14): a full
    # signature bank is tables x planes of these per row, and the
    # unrolled variant was A/B'd — the (planes x dim)-node-per-bit
    # trees ran ~5x SLOWER at sf0.1 (the bank exceeds codegen's
    # comfortable method size and the giant tree loses to the tight
    # interpreted loop) and OOM'd a 4g driver when multi-probe masks
    # duplicated them.  The per-PAIR verify dot is where the unroll
    # pays (dot_expr(dim=...)); signatures are per-ROW and small.
    # CALLER CONTRACT either way: compute the signature ONCE per
    # (row, table) and XOR probe masks behind a generate boundary.
    for j, row in enumerate(planes):
        signs = F.array(*[F.lit(float(s)) for s in row])
        d = dot_expr(signs, emb)
        bits.append(F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


# ---------------------------------------------------------------------------
# the LSH banding kernel (see the module docstring)
# ---------------------------------------------------------------------------
def _lsh_dim(df: DataFrame, emb_col: str, dim: int | None, fn: str) -> int:
    """The banding's vector dimension: a caller's ``dim``, checked
    against one sampled row (:func:`_validate_dim`), or else the first
    row's array length (0 on an empty frame)."""
    if dim is not None:
        _validate_dim(df, emb_col, dim, fn)
        return dim
    first = df.select(F.size(F.col(emb_col)).alias("d")).first()
    return first["d"] if first else 0


def _lsh_planes(n_planes: int, n_tables: int, dim: int) -> list[list[list[int]]]:
    """The hyperplanes of each of ``n_tables`` LSH tables, table ``t``
    seeded ``42 + 1000 * t`` — the one seed rule of every banding, the
    persisted index's stored manifest included.  A signature is a
    signed 64-bit long with one bit per plane, so ``n_planes`` must be
    in [0, 63]; 0 is the exhaustive degenerate mode."""
    if not 0 <= n_planes <= 63:
        raise ValueError(
            f"LSH n_planes must be in [0, 63] (one bit per plane of a "
            f"signed 64-bit signature), got {n_planes}"
        )
    return [
        _hyperplane_signs(n_planes, dim, seed=42 + 1000 * t) for t in range(n_tables)
    ]


def _lsh_signatures(emb: Column, tables) -> Column:
    """``array<struct<table, bucket>>``: the home signature of ``emb``
    in every table, each built once (:func:`signature_col`)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                signature_col(emb, planes).alias("bucket"),
            )
            for t, planes in enumerate(tables)
        ]
    )


def _lsh_band(
    df: DataFrame, carry: list, emb_col: str, tables, masks=(0,)
) -> DataFrame:
    """``carry`` (columns or names of ``df``) plus ``(table, bucket)``:
    one row per (row, table), and per probe mask when ``masks`` (XOR
    masks from :func:`_hamming_ball_masks`) holds more than the home
    mask 0.  Signatures are built once per (row, table) and the masks
    XOR the materialized bucket behind the generate boundary
    (:func:`signature_col`'s caller contract)."""
    # carry projected BELOW the explode: a carried per-row term (a
    # norm) is evaluated once per row, not once per (row, table)
    projected = df.select(
        *carry, _lsh_signatures(F.col(emb_col), tables).alias("__tb")
    )
    banded = projected.select(
        *[c for c in projected.columns if c != "__tb"],
        F.explode("__tb").alias("tb"),
    ).select("*", "tb.table", "tb.bucket").drop("tb")
    if tuple(masks) == (0,):
        return banded
    probe = F.explode(F.array(*[F.lit(m) for m in masks])).alias("__m")
    return (
        banded.select("*", probe)
        .withColumn("bucket", F.col("bucket").bitwiseXOR(F.col("__m")))
        .drop("__m")
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means centroids for an IVF index.

    Init: the ``n_lists`` corpus vectors with the smallest
    ``xxhash64(id)`` (a deterministic pseudo-random sample — no RNG
    state).  Each Lloyd round is two DataFrame jobs: assign = argmin
    distance over the broadcast centroid array (k is small); update =
    per-(list, dimension) mean via posexplode + hash aggregate.  The
    k x dim centroid table is driver-sized by construction.
    """
    seed_rows = (
        corpus.select(F.col(emb_col).alias("e"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(n_lists)
        .collect()
    )
    centroids = [list(map(float, r["e"])) for r in seed_rows]
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, centroids, emb_col=emb_col)
        upd = (
            assigned.select("list_id", F.posexplode(F.col(emb_col)).alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in upd:
            new[r["list_id"]][r["pos"]] = float(r["m"])
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str = "embedding",
) -> DataFrame:
    """Add ``list_id`` = index of the nearest centroid (squared L2):
    one vectorized numpy ``argmin(|x|^2 - 2 x.C^T + |C|^2)`` per Arrow
    batch — the k x dim centroid matrix rides in the task closure, no
    shuffle, and the matmul replaces a k-deep codegen expression tree
    (which gets slow and codegen-heavy past k ~ 64).  Deterministic;
    ties break to the lowest centroid index."""
    import numpy as np

    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    out_schema = T.StructType(
        list(df.schema) + [T.StructField("list_id", T.IntegerType())]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            # argmin of |x-c|^2 == argmin of -2x.c + |c|^2
            d2 = c2[None, :] - 2.0 * (X @ C.T)
            out = pdf.copy()
            out["list_id"] = np.argmin(d2, axis=1).astype("int32")
            yield out

    return df.mapInPandas(fn, out_schema)


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index:
    k-means-partition the corpus into ``n_lists`` cells, then score each
    query only against its ``n_probe`` nearest cells.

    At scale the corpus is written partitioned by ``list_id`` (partition
    pruning turns each query into an ~(n_probe/n_lists) fraction scan);
    here the cell join is a shuffle on ``list_id``.  Recall rises with
    ``n_probe`` (= exact at n_probe == n_lists).
    Returns ``(query_id, vec_id, cosine, rank)``.
    """
    query_id_col = query_id_col or id_col
    if centroids is None:
        centroids = ivf_fit_centroids(
            corpus, n_lists=n_lists, n_iter=n_iter, id_col=id_col, emb_col=emb_col
        )
    n_part = shuffle_partitions(corpus.sparkSession)
    dim = len(centroids[0]) if centroids else None
    c = ivf_assign(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("c_emb"),
            norm_expr(F.col(emb_col), dim).alias("c_norm"),
        ).repartition(n_part),
        centroids,
        emb_col="c_emb",
    )
    # query side: explode the n_probe nearest cells
    dist_structs = []
    for i, cen in enumerate(centroids):
        d2 = l2_lit_expr(F.col("q_emb"), cen)
        dist_structs.append(F.struct(d2.alias("d"), F.lit(i).alias("i")))
    probes = F.slice(F.array_sort(F.array(*dist_structs)), 1, n_probe)
    # two NARROW broadcasts (same rewrite as ivf_index_search): the
    # (query_id, list_id) probe pairs explode WITHOUT the embedding,
    # and the query vectors broadcast once — not once per probed cell
    qbase = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        norm_expr(F.col(emb_col), dim).alias("q_norm"),
    )
    pairs = qbase.select(
        "query_id",
        F.explode(F.transform(probes, lambda s: s["i"])).alias("list_id"),
    )
    _, score, order = pair_score(
        dot_expr(F.col("q_emb"), F.col("c_emb"), dim), "q_norm", "c_norm"
    )
    scored = (
        c.join(F.broadcast(pairs), on="list_id")
        .join(F.broadcast(qbase), on="query_id")
        .withColumn("cosine", score)
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    dim: int | None = None,
    exclude_self: bool = True,
    n_probe_bits: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH with
    ``n_tables`` independent hash tables of ``n_planes`` bits each.

    Candidates = rows sharing a bucket with the query in any table;
    exact cosine is computed only for candidates.  Recall rises with
    ``n_tables``; cost is one bucket-keyed shuffle per corpus row per
    table instead of a full crossJoin.
    Returns ``(query_id, vec_id, cosine, rank)`` (rank <= k; fewer rows
    than k when buckets are sparse — the approximate contract).

    ``n_probe_bits`` enables MULTI-PROBE LSH (Lv et al. 2007, "Multi-
    probe LSH: efficient indexing for high-dimensional similarity
    search"): each query additionally probes every bucket within
    Hamming distance ``n_probe_bits`` of its own signature, in every
    table.  A near neighbor that lands one sign-bit away (the most
    likely miss — each plane flips independently with probability
    θ/π) is recovered without touching the corpus side: the corpus is
    still banded ONCE per table, so index size and the corpus shuffle
    are unchanged — only the (tiny) query side fans out, by
    ``1 + C(n_planes,1) + ... + C(n_planes,n_probe_bits)`` probes.
    That is the 100 TB trade: query-side probes are nearly free,
    extra tables re-shuffle the corpus.  ``n_probe_bits = n_planes``
    probes every bucket and makes the search exhaustive (equal to
    brute force) — the degenerate mode the contract tests pin.
    """
    query_id_col = query_id_col or id_col
    # Hamming-ball XOR masks, distance 0..n_probe_bits (mask 0 = the
    # home bucket); combinations-enumerated — ball-sized driver cost
    masks = _hamming_ball_masks(n_planes, n_probe_bits)
    dim = _lsh_dim(corpus, emb_col, dim, "lsh_top_k")
    tables = _lsh_planes(n_planes, n_tables, dim)
    n_part = shuffle_partitions(corpus.sparkSession)
    cb = _lsh_band(
        corpus.repartition(n_part),
        [
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("c_emb"),
            norm_expr(F.col(emb_col), dim).alias("c_norm"),
        ],
        emb_col,
        tables,
    )
    qb = _lsh_band(
        queries.repartition(n_part),
        [
            F.col(query_id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            norm_expr(F.col(emb_col), dim).alias("q_norm"),
        ],
        emb_col,
        tables,
        masks,
    )
    cand = cb.join(qb, on=["table", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    # Score BEFORE deduplicating: cosine is a pure function of the
    # pair, so every duplicate collision (same pair in 2 tables /
    # 2 probes) computes the identical value and dropDuplicates may
    # keep any row — bit-identical to dedup-first.  The payoff is the
    # shuffle width: dedup-first moves both embeddings (2 x dim
    # doubles) per candidate through the exchange; score-first moves
    # (query_id, vec_id, cosine).  Measured at 500k x 64-dim with
    # 1-bit probes (tools/bench_multiprobe_synth.py, since removed; its
    # recorded numbers stand): 279s -> the
    # narrow-shuffle plan, because the band join's output never
    # re-shuffles wide rows.  Norms ride from the banded rows
    # (interpreted HOF folds cost per evaluation — one dot per
    # candidate beats three folds per pair); dot/(qn*cn) is
    # bit-identical to norms computed per pair.
    # dedup via max-aggregate rather than dropDuplicates: the values
    # are identical per pair so max() IS the value (bit-exact), the
    # aggregate partially combines map-side BEFORE the exchange
    # (dropDuplicates' Deduplicate shuffles every collision row), and
    # it sidesteps a Spark 4.1 internal error
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when exceptAll rewrites a
    # window-over-Deduplicate-over-aliased-projection plan
    # resolved dim -> codegen unroll (r14): the interpreted fold was
    # the per-candidate bottleneck at 2M-corpus banded verify
    _, score, order = pair_score(
        dot_expr(F.col("q_emb"), F.col("c_emb"), dim), "q_norm", "c_norm"
    )
    scored = (
        cand.select("query_id", "vec_id", score.alias("cosine"))
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Element-wise mean embedding per label: ``(label, n_vectors,
    centroid array<double>)`` — the building block for IVF coarse
    quantizers, class prototypes, and embedding-drift monitoring.

    Scale design: one ``posexplode`` to long ``(label, pos, val)``
    form, one partial+final hash aggregate on the uniform composite
    key ``(label, pos)`` (dims x labels groups — tiny), then a
    per-label reassembly agg.  No vector ever needs to fit anywhere
    special; the wide array only re-materializes at k x dim output
    size.  Means are rounded to 6 dp so sums are engine-portable
    (same convention as every cosine score here).
    """
    longf = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    by_dim = longf.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    return by_dim.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("centroid"),
    )


def embedding_gram(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e12,
    method: str = "explode",
) -> DataFrame:
    """Centered Gram (covariance-numerator) matrix of the embedding
    column in long format: ``(i, j, g)`` with ``g = Σ_rows (x_i - m_i)
    * (x_j - m_j)`` — the input to PCA / drift monitoring /
    whitening; dims² output rows (tiny), corpus-size input.

    Exactness across engines and run-to-run: per-row products are
    floored to ``1/scale``-resolution integers and summed as LONGS —
    order-independent like the PageRank trick.  Means are themselves
    exact scaled-long sums divided once, so every engine computes
    bit-identical centered values.  Overflow bound: |x| ~ O(1)
    embeddings at 1e12 scale leave 6 decimal digits of headroom in
    int64 per 1M-row partition sum; lower ``scale`` for larger
    corpora (headroom = 9.2e18 / (scale * max|product| * n_rows)).

    ``method="explode"``: per-row (i, j) pair explode — dims² rows
    per input row, ONE hash agg; has a byte-identical SQL twin (the
    driver oracle).  ``method="partial"``: Arrow-batched
    ``mapInPandas`` computes a per-batch integer partial Gram in
    numpy and emits dims² rows per BATCH — the 100 TB path (shuffle
    volume is dims² per batch instead of dims² per row).  Both floor
    identical float64 products, so results are BIT-IDENTICAL — the
    agreement is pytest-asserted, letting the oracle-checked explode
    path vouch for the partial path.
    """
    dd = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    longf = dd.select(
        F.col(id_col), F.posexplode("v").alias("i", "x")
    )
    n = dd.count()
    sums = longf.groupBy("i").agg(
        F.sum(F.floor(F.col("x") * F.lit(scale)).cast("long")).alias("s")
    )
    means = sums.select("i", (F.col("s") / F.lit(scale) / F.lit(float(n))).alias("m"))
    if method == "explode":
        a = longf.join(means, on="i").select(
            id_col, "i", (F.col("x") - F.col("m")).alias("cx")
        )
        b = a.select(
            F.col(id_col), F.col("i").alias("j"), F.col("cx").alias("cy")
        )
        return (
            a.join(b, on=id_col)
            .groupBy("i", "j")
            .agg(
                F.sum(
                    F.floor(F.col("cx") * F.col("cy") * F.lit(scale)).cast("long")
                ).alias("gs")
            )
            .select("i", "j", F.round(F.col("gs") / F.lit(scale), 6).alias("g"))
        )
    if method != "partial":
        raise ValueError("method must be 'explode' or 'partial'")
    import numpy as np
    import pandas as pd

    m_map = {r["i"]: r["m"] for r in means.collect()}
    dim = len(m_map)
    mean_vec = np.array([m_map[i] for i in range(dim)], dtype=np.float64)

    def partial(batches):
        for pdf in batches:
            x = np.array(pdf["v"].tolist(), dtype=np.float64) - mean_vec
            # floor each product exactly as the explode path does,
            # THEN sum as int64 — bit-identical, order-free
            acc = np.zeros((dim, dim), dtype=np.int64)
            for row in x:
                acc += np.floor(np.outer(row, row) * scale).astype(np.int64)
            ii, jj = np.meshgrid(range(dim), range(dim), indexing="ij")
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "gs": acc.ravel()}
            )

    parts = dd.select("v").mapInPandas(partial, "i int, j int, gs long")
    return (
        parts.groupBy("i", "j")
        .agg(F.sum("gs").alias("gs"))
        .select("i", "j", F.round(F.col("gs") / F.lit(scale), 6).alias("g"))
    )


def principal_component_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Projection of every (centered) embedding onto the first
    principal component: ``(vec_id, pc1)``, pc1 rounded 6 dp, sign
    pinned so the largest-|loading| coordinate is positive.

    The distributed work is :func:`embedding_gram` (exact integer
    Gram) + one broadcast-vector projection pass; the eigensolve is
    dims x dims on the driver — the correct split for dim <= a few
    thousand at any corpus size.  Deterministic because the Gram is
    exact (integer sums) and the projection is a fixed-order
    ``aggregate`` fold over the array.
    """
    import numpy as np

    g_rows = embedding_gram(df, vec_col=vec_col, id_col=id_col).collect()
    dim = max(r["i"] for r in g_rows) + 1
    G = np.zeros((dim, dim))
    for r in g_rows:
        G[r["i"], r["j"]] = r["g"]
    vals, vecs = np.linalg.eigh(G)
    v = vecs[:, int(np.argmax(vals))]
    v = v if v[int(np.argmax(np.abs(v)))] >= 0 else -v
    dd = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("x"))
    # means: same exact formulation as embedding_gram
    longf = dd.select(F.posexplode("x").alias("i", "xv"))
    n = dd.count()
    m = {
        r["i"]: r["s"] / 1e12 / float(n)
        for r in longf.groupBy("i")
        .agg(F.sum(F.floor(F.col("xv") * F.lit(1e12)).cast("long")).alias("s"))
        .collect()
    }
    mean_arr = F.array(*[F.lit(m[i]) for i in range(dim)])
    v_arr = F.array(*[F.lit(float(c)) for c in v])
    centered = F.zip_with(F.col("x"), mean_arr, lambda a, b: a - b)
    proj = F.aggregate(
        F.zip_with(centered, v_arr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return dd.select(id_col, F.round(proj, 6).alias("pc1"))


# ---------------------------------------------------------------------------
# persisted IVF index: build offline, probe with partition pruning
# ---------------------------------------------------------------------------
def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    mode: str = "error",
) -> list[list[float]]:
    """Build and persist an IVF index: the corpus is written to
    ``<path>/cells`` as parquet PARTITIONED BY ``list_id`` (one
    directory per cell, precomputed norms included) and the k-means
    centroids to ``<path>/centroids``.  Returns the centroids.

    This is how ANN actually deploys at 100 TB: the index is built
    once offline, and every online probe of ``n_probe`` cells becomes
    a partition-pruned scan — Spark reads ``n_probe`` directories and
    never touches the rest of the corpus.  (The in-memory
    :func:`ivf_top_k` re-partitions per call; this amortizes the
    k-means + assignment across every future query batch.)
    """
    import os as _os

    centroids = ivf_fit_centroids(
        corpus, n_lists=n_lists, n_iter=n_iter, id_col=id_col, emb_col=emb_col
    )
    cells = ivf_assign(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("c_emb"),
            norm_expr(F.col(emb_col)).alias("c_norm"),
        ),
        centroids,
        emb_col="c_emb",
    )
    cells.write.mode(mode).partitionBy("list_id").parquet(
        _os.path.join(path, "cells")
    )
    store.write_manifest(corpus.sparkSession, path, "centroids", centroids, mode)
    return centroids


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    method: str = "brute",
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_probe_bits: int = 0,
) -> DataFrame:
    """Cross-corpus SEMANTIC contamination: training rows whose
    embedding cosine with any eval row reaches ``threshold``.  The
    third leg of the decontamination triad — ``exact_substring_
    decontaminate`` catches verbatim leakage, ``fuzzy_decontaminate``
    lexical near-copies, and this one catches PARAPHRASES that share
    no surface n-grams at all (the failure mode both lexical checks
    are blind to).  Returns ``(train_id, eval_id, cosine)`` — one row
    per contaminated (train, eval) pair at 6-dp cosine; drop matched
    train ids with a left-anti join.

    ``method="brute"`` broadcasts the (typically tiny) eval side and
    scores every train row against it map-side — exact, so
    SQL-oracle-checkable, and the right default whenever the eval
    benchmark fits in a broadcast (it almost always does).
    ``method="lsh"`` routes through the hyperplane band join
    (:func:`lsh_top_k` machinery) for the eval-side-too-big case;
    recall rises with ``n_tables``, and — far more cheaply — with
    ``n_probe_bits`` (multi-probe, Lv et al. 2007): the EVAL side
    additionally probes every bucket within that Hamming distance of
    its signature, so recall climbs without re-banding the train
    corpus (the train side's shuffle is the scale cost; eval fan-out
    is noise).  SCALE.md's RECALL table has the measured curve;
    ``n_probe_bits = n_planes`` probes every bucket and is provably
    identical to brute.  The scale path is recall-gated by
    ``semantic_decon_recall``'s driver oracle and the LSH unit
    tests.

    Scale design (brute): the train corpus is never shuffled — one
    codegen'd projection against the broadcast eval batch, then a
    map-side threshold filter; output is contamination-sized.
    """
    te = train.select(
        F.col(id_col).alias("train_id"),
        F.col(emb_col).alias("t_emb"),
        norm_expr(F.col(emb_col)).alias("t_norm"),
    )
    ee = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.col(emb_col).alias("e_emb"),
        norm_expr(F.col(emb_col)).alias("e_norm"),
    )
    def _cos_expr():
        _, score, _ = pair_score(
            dot_expr(F.col("t_emb"), F.col("e_emb")), "t_norm", "e_norm"
        )
        return score.alias("cosine")

    if method == "brute":
        n_part = shuffle_partitions(train.sparkSession)
        scored = (
            te.repartition(n_part)
            .join(F.broadcast(ee))
            .select("train_id", "eval_id", _cos_expr())
        )
    elif method == "lsh":
        probe_masks = _hamming_ball_masks(n_planes, n_probe_bits)
        dim = _lsh_dim(train, emb_col, None, "semantic_decontaminate")
        tables = _lsh_planes(n_planes, n_tables, dim)

        # score-before-dedup, same reasoning as lsh_top_k: the cosine
        # is identical for every duplicate collision of a pair, so
        # deduplicating the narrow (train_id, eval_id, cosine) rows is
        # bit-identical to deduplicating the wide embedding-carrying
        # rows — and the dedup exchange moves 3 columns, not 2 x dim
        # threshold BEFORE dedup too: the filter commutes with
        # dedup-on-the-pair-key (cosine is deterministic per pair),
        # shrinks the dedup exchange to contamination-sized rows, and
        # avoids a Spark 4.1 optimizer internal error
        # (ATTRIBUTE_NOT_FOUND) when exceptAll rewrites a
        # filter-over-Deduplicate-over-aliased-projection plan
        scored = (
            _lsh_band(te, ["*"], "t_emb", tables)
            .join(
                _lsh_band(ee, ["*"], "e_emb", tables, probe_masks),
                on=["table", "bucket"],
            )
            .select("train_id", "eval_id", _cos_expr())
            .filter(F.col("cosine") >= threshold)
            .groupBy("train_id", "eval_id")
            .agg(F.max("cosine").alias("cosine"))
        )
        return scored.select("train_id", "eval_id", "cosine")
    else:
        raise ValueError("method must be 'brute' or 'lsh'")
    return (
        scored
        .filter(F.col("cosine") >= threshold)
        .select("train_id", "eval_id", "cosine")
    )


def ivf_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dedupe: bool = True,
) -> None:
    """Incremental IVF index maintenance: assign ``new_vectors`` to
    the index's STORED centroids and append them to the partitioned
    cell store — the standard way a deployed ANN index absorbs a new
    corpus batch without an offline rebuild (centroids stay fixed;
    rebuild via :func:`build_ivf_index` when
    :func:`embedding_drift` says the distribution moved).

    Searching after an add is IDENTICAL to searching an index built
    over the union with the same centroids, because cell membership
    depends only on the stored centroid manifest (test-pinned).

    Scale: one broadcast-centroid Arrow argmax pass over the new
    batch + an append of only the new files into the partition
    directories — nothing existing is rewritten.

    Durability under at-least-once retries: with ``dedupe=True``
    (default) the batch is anti-joined against the ids ALREADY in the
    cells it would land in, so a replayed/retried add is a no-op —
    the same convergence contract as ``stream_upsert_parquet``.  The
    anti-join scan is partition-pruned to only the touched ``list_id``
    directories and reads only the ``vec_id`` column, so its cost
    scales with the cells the batch touches, not the index.  Pass
    ``dedupe=False`` only when the caller guarantees ids are fresh
    (saves the pruned scan).
    """
    import os as _os

    centroids, tags = store.read_manifest(spark, path, "centroids", tags=True)
    store.check_family(spark, path, "ivf", "ivf_index_add", tags)
    cells = ivf_assign(
        new_vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).alias("c_emb"),
            norm_expr(F.col(emb_col)).alias("c_norm"),
        ),
        centroids,
        emb_col="c_emb",
    )
    # Partition-pruned retry guard: list the cells this batch touches
    # (bounded by n_cells — a small collect) and scan ONLY those
    # partition dirs' vec_id column.
    store.append_once(
        spark, cells, _os.path.join(path, "cells"), ("list_id",), "vec_id",
        dedupe,
    )


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`build_ivf_index`):
    each query scores only its ``n_probe`` nearest cells.

    The cell filter is an ``IN (<list_ids>)`` predicate on the
    PARTITION column, so it prunes at the file-listing level —
    ``.explain`` shows a ``PartitionFilters`` entry and the scan reads
    ``n_probe``/``n_lists`` of the data.  Query cell choice happens
    driver-side against the (tiny) centroid table; the probe itself is
    one broadcast join of the query batch against the pruned cells.
    """
    import os as _os

    centroids = store.read_manifest(spark, path, "centroids")
    # q_norm is the stored c_norm's own expression
    batch = _probe_batch(
        queries, query_id_col, emb_col, "ivf_index_search",
        q_norm=norm_expr(F.col(emb_col)),
    )
    # two NARROW broadcasts instead of one wide one: the probe pairs
    # (query_id, list_id) and the query vectors (query_id, q_emb,
    # q_norm) broadcast separately, so each embedding ships ONCE
    # instead of n_probe times — at 1M queries × 8 probes × 64-dim
    # doubles that is the difference between a 4 GB and a 0.5 GB
    # exchange.
    probes, q, cells = _cell_probes(
        spark, batch, centroids, n_probe, "ivf_index_search",
        _os.path.join(path, "cells"),
    )
    pair = pair_score(
        # manifest dim -> codegen unroll (r14)
        dot_expr(F.col("q_emb"), F.col("c_emb"), len(centroids[0])),
        "q_norm",
        "c_norm",
    )
    return _probe_top_k(
        cells, [(probes, "list_id"), (q, "query_id")], k, pair, exclude_self
    )


def _sq_assign_quantize(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    emb_col: str,
) -> DataFrame:
    """Fused cell-assignment + int8 quantization in ONE Arrow pass:
    returns ``(vec_id, qembedding array<tinyint>, scale double,
    list_id int)``.  Bit-identical to ``ivf_assign`` →
    ``quantize_embeddings`` (same float64 division, HALF_UP rounding
    via :func:`round_half_up` — the numpy twin of ``F.round`` the
    PQ encode path already oracle-pins), but crosses the Python
    boundary once instead of shipping full double arrays back to the
    JVM for the quantize expressions — measured 4× faster builds at
    500k (SCALE.md round-13)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("qembedding", T.ArrayType(T.ByteType())),
            T.StructField("scale", T.DoubleType()),
            T.StructField("list_id", T.IntegerType()),
        ]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            d2 = c2[None, :] - 2.0 * (X @ C.T)
            scale = np.abs(X).max(axis=1) / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            codes = round_half_up(X / safe[:, None], 0).astype(np.int8)
            codes[scale == 0.0] = 0
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "qembedding": list(codes),
                    "scale": scale,
                    "list_id": np.argmin(d2, axis=1).astype("int32"),
                }
            )

    return df.select(id_col, emb_col).mapInPandas(fn, out_schema)


def build_ivf_sq_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    mode: str = "error",
) -> list[list[float]]:
    """Build and persist an int8 scalar-quantized IVF index: the
    middle tier of the quantization family — :func:`build_ivf_index`
    stores raw float64 cells (exact, 1× size) and
    :func:`build_ivfpq_index` stores m-byte PQ codes (smallest, the
    lowest-recall tier); this stores :func:`quantize_embeddings`
    int8 codes + one double scale per vector, **8× smaller pruned
    scans at the measured 0.99/0.95 recall@10** (SCALE.md
    "Compression-vs-recall").  At 100 TB the cell scan IS the probe
    cost, so the 8× byte cut is an 8× scan cut at near-exact quality.

    Layout mirrors :func:`build_ivf_index`: ``<path>/cells`` is
    parquet PARTITIONED BY ``list_id`` with ``(vec_id, qembedding
    array<tinyint>, scale double)``; ``<path>/centroids`` holds the
    k-means manifest (tagged ``quantize="sq8"``).  Cell assignment
    happens on the FULL-PRECISION vectors (quantization only affects
    what is stored, never routing), so recall loss is purely the int8
    rounding that :func:`ivf_sq_search` scores through.
    """
    import os as _os

    centroids = ivf_fit_centroids(
        corpus, n_lists=n_lists, n_iter=n_iter, id_col=id_col, emb_col=emb_col
    )
    cells = _sq_assign_quantize(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(emb_col)),
        centroids,
        id_col="vec_id",
        emb_col=emb_col,
    )
    cells.write.mode(mode).partitionBy("list_id").parquet(
        _os.path.join(path, "cells")
    )
    store.write_manifest(
        corpus.sparkSession, path, "centroids", centroids, mode,
        quantize="sq8",
    )
    return centroids


def ivf_sq_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dedupe: bool = True,
) -> None:
    """Incremental maintenance for the int8 IVF index — the SQ twin
    of :func:`ivf_index_add`: assign ``new_vectors`` to the STORED
    centroids (full precision), quantize with the stored contract's
    exact arithmetic, and append only new files into the touched
    ``list_id`` directories.  ``dedupe=True`` anti-joins against ids
    already present in the touched cells (partition-pruned, vec_id
    column only), so a replayed/retried add appends zero rows —
    post-add search is identical to a rebuild over the union.
    """
    import os as _os

    centroids, tags = store.read_manifest(spark, path, "centroids", tags=True)
    store.check_family(spark, path, "ivf_sq", "ivf_sq_index_add", tags)
    cells = _sq_assign_quantize(
        new_vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col)),
        centroids,
        id_col="vec_id",
        emb_col=emb_col,
    )
    store.append_once(
        spark, cells, _os.path.join(path, "cells"), ("list_id",), "vec_id",
        dedupe,
    )


def ivf_sq_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "vec_id",
    emb_col: str = "embedding",
    metric: str = "l2",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a persisted int8 IVF index (:func:`build_ivf_sq_index`):
    each query scores only its ``n_probe`` nearest cells, reading int8
    codes (8× fewer bytes than the raw-cell index) and dequantizing
    map-side inside the pruned scan's projection.

    Scoring is ASYMMETRIC (full-precision query vs dequantized
    corpus) with :func:`brute_force_top_k`'s exact expression tree
    over ``code × scale`` arrays — so the exhaustive probe
    (``n_probe >= n_lists``) is bit-identical to brute-force search
    over the dequantized corpus (the ``sq_topk`` oracle arithmetic;
    that is this operator's SQL contract).  ``metric="l2"`` (default —
    what the quantizer's rounding is calibrated against) returns
    ``(query_id, vec_id, d2, rank)`` ascending; ``"cosine"`` returns
    6-dp cosine descending.  The cell filter is a partition-column
    ``IN`` predicate, pruned at file listing (plan-guarded).
    """
    import os as _os

    if metric not in ("cosine", "l2"):
        raise ValueError("ivf_sq_search: metric must be 'cosine' or 'l2'")
    centroids = store.read_manifest(spark, path, "centroids")
    # q_self computed as a Spark expression (not driver-side numpy) so
    # the float summation order matches the SQL twin's sequential
    # list_dot_product exactly — numpy's pairwise summation can differ
    # in the 6th decimal on long vectors
    batch = _probe_batch(
        queries, query_id_col, emb_col, "ivf_sq_search",
        q_self=self_term(F.col(emb_col).cast("array<double>"), metric),
    )
    probes, q, cells = _cell_probes(
        spark, batch, centroids, n_probe, "ivf_sq_search",
        _os.path.join(path, "cells"),
    )
    deq = F.transform(
        F.col("qembedding"), lambda v: v.cast("double") * F.col("scale")
    )
    # dequantize + corpus-side self-product BELOW the probe join: a
    # cell row probed by p queries pays the 64-multiply transform and
    # its self-dot ONCE, not p times — per-pair work drops to the
    # single query·deq dot, same as the raw-cell index (measured: the
    # pair-side transform was a 1.4-1.7x probe-wall tax at 500k)
    cells = cells.withColumn("deq", deq).withColumn(
        "c_self", self_term(F.col("deq"), metric)
    )
    pair = pair_score(
        dot_expr(F.col("q_emb"), F.col("deq")), "q_self", "c_self", metric
    )
    return _probe_top_k(
        cells, [(probes, "list_id"), (q, "query_id")], k, pair, exclude_self
    )


def embedding_clusters(
    df: DataFrame,
    n_clusters: int = 8,
    init: str = "kmeans",
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """First-class cluster assignments over an embedding column:
    ``(id_col, cluster, cosine)`` where ``cluster`` is the seed id /
    centroid index and ``cosine`` the similarity to it (6 dp) — the
    primitive SemDeDup, IVF, topic bucketing, and cluster-balanced
    data mixing all share.

    ``init="kmeans"`` (production): deterministic Lloyd centroids via
    :func:`ivf_fit_centroids`, Arrow argmax assignment.
    ``init="first_ids"``: seeds = the ``n_clusters`` smallest-id
    vectors — fully SQL-expressible, the oracle-checkable mode (same
    trick as :func:`~networkframe_spark.functions.dedup.semantic_dedup`).

    Scale: the seed matrix broadcasts in the task closure; assignment
    is one map-side Arrow matmul — no shuffle at all.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if init not in ("first_ids", "kmeans"):
        raise ValueError("init must be 'first_ids' or 'kmeans'")
    if init == "first_ids":
        seed_rows = sorted(
            (
                (r[id_col], list(map(float, r[emb_col])))
                for r in df.orderBy(F.col(id_col).asc())
                .limit(n_clusters)
                .collect()
            ),
            key=lambda t: t[0],
        )
    else:
        cents = ivf_fit_centroids(
            df, n_lists=n_clusters, n_iter=n_iter, id_col=id_col, emb_col=emb_col
        )
        seed_rows = [(i, list(map(float, c))) for i, c in enumerate(cents)]
    sid = np.asarray([t[0] for t in seed_rows])
    S = np.asarray([t[1] for t in seed_rows], dtype=np.float64)
    snorm = np.linalg.norm(S, axis=1)
    snorm[snorm == 0] = 1.0
    Sn = S / snorm[:, None]

    in_schema = df.select(id_col).schema
    cluster_type = (
        in_schema[id_col].dataType if init == "first_ids" else T.LongType()
    )
    out_schema = T.StructType(
        [
            in_schema[id_col],
            T.StructField("cluster", cluster_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(X, axis=1)
            norms[norms == 0] = 1.0
            sims = round_half_up((X / norms[:, None]) @ Sn.T, 6)
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": sid[best],
                    "cosine": sims[np.arange(len(best)), best],
                }
            )

    return df.select(id_col, emb_col).mapInPandas(fn, out_schema)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale =
    max(|x_i|) / 127``, ``q_i = round(x_i / scale)`` — returns
    ``(id_col, qembedding array<tinyint>, scale double)``.  4-8x
    smaller than float32/64 arrays, which at 100 TB is the difference
    between an ANN corpus that fits executor storage and one that
    doesn't; recall loss is negligible for cosine at int8 (the
    standard faiss/ScaNN storage trade).  All-zero vectors get
    ``scale = 0`` and all-zero codes.

    Dequantize with :func:`dequantize_expr`; scoring against codes is
    ``scale * (q . y)``.  Pure per-row column expressions — map-side
    only, no UDF; rounding is F.round (HALF_UP), matching the SQL
    oracle exactly.

    ``keep`` carries extra columns (e.g. a precomputed ``list_id``)
    through unchanged — :func:`build_ivf_sq_index` uses it so the
    index cells quantize with EXACTLY this expression tree (no drift
    between the standalone op and the persisted store).
    """
    e = F.col(emb_col).cast("array<double>")
    scale = (
        F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    ).alias("scale")
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(e, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(e, lambda x: F.round(x / F.col("scale")).cast("tinyint"))
    )
    kept = [F.col(c) for c in keep]
    return (
        df.select(F.col(id_col), e.alias(emb_col), scale, *kept)
        .select(F.col(id_col), q.alias("qembedding"), F.col("scale"), *kept)
    )


def dequantize_expr(q: Column, scale: Column) -> Column:
    """Reconstruct approximate doubles from int8 codes + scale."""
    return F.transform(q, lambda v: v.cast("double") * scale)


def knn_graph(
    emb: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    method: str = "brute",
    **kwargs,
):
    """k-nearest-neighbor graph over an embedding table, as a
    :class:`NetworkFrame`: nodes = vector ids, directed edges
    ``(source=query, target=neighbor, weight=cosine, rank)``.  The
    bridge from the embedding pipeline into every graph operator —
    components/label propagation on the result give semantic
    clusters, PageRank gives centrality-weighted exemplars, k-hop
    aggregation smooths features over semantic neighborhoods.

    ``method="brute"`` is exact (the oracle path);  ``"lsh"`` /
    ``"ivf"`` swap in the banded / cell-pruned approximate scorers for
    corpus scale — same output schema, same downstream graph.
    """
    from ..frame import NetworkFrame

    if method == "brute":
        topk = brute_force_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col)
    elif method == "lsh":
        topk = lsh_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col, **kwargs)
    elif method == "ivf":
        topk = ivf_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col, **kwargs)
    else:
        raise ValueError("method must be 'brute', 'lsh', or 'ivf'")
    nodes = emb.select(F.col(id_col).alias("id"))
    edges = topk.select(
        F.col("query_id").alias("source"),
        F.col("vec_id").alias("target"),
        F.col("cosine").alias("weight"),
        "rank",
    )
    return NetworkFrame(nodes, edges, directed=True, validate=False)


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    emb_col: str = "embedding",
) -> DataFrame:
    """One-row drift report between two embedding corpora (snapshots,
    train-vs-serving, pre/post-reprocess): row counts, the L2 distance
    between per-dimension centroids, their cosine, and the ratio of
    mean vector norms — the cheap monitors that catch encoder version
    skew or upstream content shift before an ANN index silently
    degrades.

    Scale design: one ``posexplode`` + per-``(side, dim)`` hash
    aggregate per corpus (dims-sized output), then the dims-row join
    reduces to a single row — no vector ever crosses the driver; both
    corpora stream through one pass each.  All outputs rounded 6 dp
    for engine portability.
    """

    def per_dim(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(
                F.posexplode(F.col(emb_col).cast("array<double>")).alias(
                    "pos", "val"
                )
            )
            .groupBy("pos")
            .agg(F.avg("val").alias(f"m_{tag}"))
        )

    counts_a = a.agg(
        F.count(F.lit(1)).alias("n_a"),
        F.avg(norm_expr(F.col(emb_col).cast("array<double>"))).alias("norm_a"),
    )
    counts_b = b.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.avg(norm_expr(F.col(emb_col).cast("array<double>"))).alias("norm_b"),
    )
    dims = per_dim(a, "a").join(per_dim(b, "b"), on="pos")
    stats = dims.agg(
        F.sqrt(
            F.sum((F.col("m_a") - F.col("m_b")) * (F.col("m_a") - F.col("m_b")))
        ).alias("centroid_l2"),
        (
            F.sum(F.col("m_a") * F.col("m_b"))
            / (
                F.sqrt(F.sum(F.col("m_a") * F.col("m_a")))
                * F.sqrt(F.sum(F.col("m_b") * F.col("m_b")))
            )
        ).alias("centroid_cosine"),
    )
    return (
        stats.crossJoin(F.broadcast(counts_a))
        .crossJoin(F.broadcast(counts_b))
        .select(
            "n_a",
            "n_b",
            F.round("centroid_l2", 6).alias("centroid_l2"),
            F.round("centroid_cosine", 6).alias("centroid_cosine"),
            F.round(F.col("norm_a") / F.col("norm_b"), 6).alias("norm_ratio"),
        )
    )


def truncate_embeddings(
    df: DataFrame,
    dim: int,
    renormalize: bool = True,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``dim`` dimensions
    of each embedding and (by default) re-normalize to unit L2 —
    the standard cheap-retrieval trick for MRL-trained embedding
    models (Kusupati et al. 2022), and the front half of any
    shortlist-then-rerank pipeline.  Returns ``(id_col, embedding)``
    with elements rounded to 6 dp; all-zero prefixes stay zero.

    Scale design: pure per-row ``slice``/``transform`` column
    expressions inside whole-stage codegen — zero shuffle, zero
    Python; the scan reads only the two referenced columns.
    """
    if dim < 1:
        raise ValueError("truncate_embeddings: dim must be >= 1")
    t = F.slice(F.col(emb_col).cast("array<double>"), 1, dim)
    if not renormalize:
        return df.select(
            F.col(id_col),
            F.transform(t, lambda x: F.round(x, 6)).alias(emb_col),
        )
    nrm = F.sqrt(dot_expr(t, t))
    return df.select(
        F.col(id_col),
        F.when(nrm == 0, t)
        .otherwise(F.transform(t, lambda x: F.round(x / nrm, 6)))
        .alias(emb_col),
    )


def pq_codebook(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    init: str = "kmeans",
    n_iter: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebook: ``codebook[j][c]`` is centroid
    ``c`` of subspace ``j`` (dim/m consecutive dimensions each) —
    Jégou et al. 2011, "Product quantization for nearest neighbor
    search".

    ``init="kmeans"`` (production): per-subspace deterministic Lloyd
    via :func:`ivf_fit_centroids` on the sliced column — m small
    offline fits.  ``init="first_ids"``: centroids = the ``k``
    smallest-id vectors' subvectors, fully SQL-expressible (the
    oracle-checkable mode, same trick as :func:`embedding_clusters`).
    The k × dim codebook is driver-sized by construction.
    """
    if init not in ("first_ids", "kmeans"):
        raise ValueError("init must be 'first_ids' or 'kmeans'")
    first = df.select(emb_col).first()
    if first is None:
        raise ValueError("pq_codebook: empty corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"pq_codebook: m={m} must divide dim={dim}")
    sub = dim // m
    if init == "first_ids":
        seed_rows = [
            list(map(float, r[emb_col]))
            for r in df.orderBy(F.col(id_col).asc()).limit(k).collect()
        ]
        return [
            [e[j * sub : (j + 1) * sub] for e in seed_rows] for j in range(m)
        ]
    return [
        ivf_fit_centroids(
            df.select(
                F.col(id_col),
                F.slice(F.col(emb_col).cast("array<double>"), j * sub + 1, sub).alias(
                    emb_col
                ),
            ),
            n_lists=k,
            n_iter=n_iter,
            id_col=id_col,
            emb_col=emb_col,
        )
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Encode each embedding as ``m`` one-byte-ish codes — per
    subspace, the index of the nearest codebook centroid (squared L2,
    rounded to 6 dp before the argmin; ties to the lowest code, so
    the result is engine-portable).  Returns ``(id_col, codes
    array<int>)`` — a 64-dim float vector compresses to m ints, the
    memory step that makes billion-scale ANN fit in RAM.

    Scale design: one Arrow-batched ``mapInPandas`` — the m × k × sub
    codebook rides in the task closure (broadcast by serialization),
    assignment is m tiny matmuls per batch, no shuffle at all; the
    6-dp HALF_UP rounding matches the SQL twin exactly
    (:func:`round_half_up`).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    m = len(codebook)
    Cs = [np.asarray(cj, dtype=np.float64) for cj in codebook]
    sub = Cs[0].shape[1]
    c2s = [(C * C).sum(axis=1) for C in Cs]

    in_schema = df.select(id_col).schema
    out_schema = T.StructType(
        [in_schema[id_col], T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = (
                    (Xj * Xj).sum(axis=1)[:, None]
                    - 2.0 * (Xj @ Cs[j].T)
                    + c2s[j][None, :]
                )
                codes[:, j] = np.argmin(round_half_up(d2, 6), axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return df.select(id_col, emb_col).mapInPandas(fn, out_schema)


def _pq_lut(
    queries: DataFrame,
    codebook: list[list[list[float]]],
    query_id_col: str,
    emb_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, *extra_cols, j, code,
    __d)``: the 6-dp-rounded squared L2 between each query subvector
    and every codebook centroid, as DECIMAL(18,6) so downstream sums
    are exact and order-independent.  ``extra_cols`` ride through
    untouched — the residual IVFADC path keys the table by
    ``(query_id, list_id)`` because each probed cell sees a different
    query residual.  n_queries × m × k rows (× n_probe for residual) —
    queries-sized, always broadcastable.  Shared by :func:`pq_search`
    (full-corpus ADC) and :func:`ivfpq_search` (cell-pruned ADC)."""
    spark = queries.sparkSession
    m = len(codebook)
    kcent = len(codebook[0])
    sub = len(codebook[0][0])
    cb_rows = [
        (j, c, [float(x) for x in codebook[j][c]])
        for j in range(m)
        for c in range(kcent)
    ]
    cb = local_table(spark, cb_rows, "j int, code int, cv array<double>")
    qsub = queries.select(
        F.col(query_id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    F.col(emb_col).cast("array<double>"), j * sub + 1, sub
                ),
            )
        ).alias("j", "qv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return qsub.join(F.broadcast(cb), on="j").select(
        F.col(query_id_col),
        *[F.col(c) for c in extra_cols],
        "j",
        "code",
        F.round(d2, 6).cast("decimal(18,6)").alias("__d"),
    )


def pq_search(
    codes_df: DataFrame,
    codebook: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance PQ search (ADC, Jégou et al. 2011): score
    every encoded corpus vector against each query through a
    per-query lookup table — ``approx_d2(q, x) = Σ_j ‖q_j −
    codebook[j][code_j(x)]‖²`` — and return the top ``k`` per query
    as ``(query_id, vec_id, rank, approx_d2)``.  Distances accumulate
    as DECIMAL(18,6) from 6-dp-rounded per-subspace entries, so sums
    are exact, order-independent, and engine-portable; ties break to
    the lower corpus id.

    Scale design: the lookup table is ``n_queries × m × k`` rows —
    queries-sized, built by a broadcast join of the query subvectors
    against the literal codebook table and broadcast again onto the
    exploded corpus codes, so the corpus-side cost is one explode +
    one keyed hash aggregate + one per-query top-k window; the corpus
    embeddings themselves are never touched (that is the point of
    PQ: search runs entirely on the m-byte codes).
    """
    lut = _pq_lut(queries, codebook, query_id_col, emb_col)
    exploded = codes_df.select(
        F.col(id_col), F.posexplode("codes").alias("j", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), on=["j", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").cast("double").alias("approx_d2"))
    )
    order = [F.col("approx_d2").asc(), F.col(id_col).asc()]
    return _top_k(scored, k, [query_id_col], order).select(
        query_id_col, id_col, "rank", "approx_d2"
    )


def rotate_embeddings(
    df: DataFrame,
    rotation: list[list[float]],
    emb_col: str = "embedding",
) -> DataFrame:
    """Apply a dims×dims rotation map-side: ``x → x @ R`` per row via
    one Arrow-batched matmul (the R matrix rides in the task closure —
    no shuffle, no driver round-trip).  Used by the OPQ index path
    (:func:`opq_rotation`); L2 distances are invariant under an
    orthogonal R, so rotated-space search results rank identically to
    unrotated exact search — only the PQ quantization error changes.
    """
    import numpy as np

    from pyspark.sql import types as T

    Rm = np.asarray(rotation, dtype=np.float64)
    fields = [
        T.StructField(f.name, T.ArrayType(T.DoubleType()), f.nullable)
        if f.name == emb_col
        else f
        for f in df.schema.fields
    ]
    out_schema = T.StructType(fields)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            out = pdf.copy()
            out[emb_col] = list(X @ Rm)
            yield out

    return df.mapInPandas(fn, out_schema)


def opq_rotation(
    corpus: DataFrame,
    m: int,
    k_codes: int = 256,
    n_iter: int = 5,
    kmeans_iter: int = 4,
    sample_rows: int = 50_000,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[list[float]]:
    """Learn an OPQ rotation (Ge et al. 2013, "Optimized Product
    Quantization", the non-parametric alternation): a dims×dims
    ORTHOGONAL matrix R minimizing PQ reconstruction error of
    ``X @ R``, found by alternating (a) train/encode a PQ codebook on
    the rotated sample with (b) the Procrustes solve ``R = U Vᵀ`` of
    ``svd(Xᵀ X̂)``.  Plain PQ slices dimensions into subspaces in
    whatever order they arrive; when variance is unevenly spread
    (embeddings after PCA-ish training almost always are), some
    subspaces carry most of the signal and k_codes can't resolve
    them — the rotation re-balances variance across subspaces before
    slicing.

    Scale shape: training happens DRIVER-SIDE on a bounded
    deterministic sample (the ``sample_rows`` smallest-``xxhash64(id)``
    rows — same no-RNG trick as :func:`ivf_fit_centroids`), because
    the alternation is inherently iterative small-matrix algebra
    (n×64 GEMMs + one 64×64 SVD per round); the EXPENSIVE part —
    rotating and encoding the full corpus — stays in Spark
    (:func:`rotate_embeddings` map-side matmul, then the normal build
    path).  Pass the result as ``build_ivfpq_index(rotation=...)``.
    """
    import numpy as np

    rows = (
        corpus.select(
            F.col(emb_col).alias("e"), F.xxhash64(F.col(id_col)).alias("h")
        )
        .orderBy("h")
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([list(map(float, r["e"])) for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"opq_rotation: dim {d} not divisible by m={m}")
    if n <= k_codes:
        raise ValueError(
            f"opq_rotation: sample ({n} rows) must exceed k_codes ({k_codes})"
        )
    sub = d // m
    R = np.eye(d)
    for _ in range(n_iter):
        Xr = X @ R
        Xhat = np.empty_like(Xr)
        for j in range(m):
            S = Xr[:, j * sub : (j + 1) * sub]
            C = S[:k_codes].copy()  # deterministic init: hash order
            for _ in range(kmeans_iter):
                d2 = (
                    (S * S).sum(1)[:, None]
                    - 2.0 * (S @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                a = np.argmin(d2, axis=1)
                # binned means in one pass (np.add.at) instead of a
                # Python loop over k_codes masked means — same values,
                # ~10x less driver time at k_codes=256
                sums = np.zeros_like(C)
                np.add.at(sums, a, S)
                counts = np.bincount(a, minlength=k_codes)
                nz = counts > 0
                C[nz] = sums[nz] / counts[nz, None]
            d2 = (
                (S * S).sum(1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(1)[None, :]
            )
            Xhat[:, j * sub : (j + 1) * sub] = C[np.argmin(d2, axis=1)]
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    return [[float(v) for v in row] for row in R]


def _residuals(df: DataFrame, centroids, id_col: str, emb_col: str, out_col: str):
    """``(id_col, list_id, out_col)``: each row's ``emb_col`` minus the
    centroid of its ``list_id`` cell, as ``array<double>`` — the
    residual IVF-PQ encodes (build, add) and scores (search)."""
    from pyspark.sql import types as T

    cent = local_table(
        df.sparkSession,
        (),
        T.StructType(
            [
                T.StructField("list_id", T.IntegerType()),
                T.StructField("__c", T.ArrayType(T.DoubleType())),
            ]
        ),
        columns=[range(len(centroids)), centroids],
    )
    # one SQL expression: one py4j round trip instead of one per call
    return df.join(F.broadcast(cent), on="list_id").select(
        id_col,
        "list_id",
        F.expr(
            f"zip_with(CAST(`{emb_col}` AS ARRAY<DOUBLE>), __c, (x, y) -> x - y)"
            f" AS `{out_col}`"
        ),
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    m: int = 4,
    k_codes: int = 16,
    n_iter: int = 3,
    codebook_init: str = "kmeans",
    coarse_init: str = "kmeans",
    residual: bool = True,
    rotation: list[list[float]] | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    mode: str = "error",
) -> dict:
    """Build and persist an IVF-PQ index (Jégou et al. 2011, the
    IVFADC layout): a coarse quantizer routes each vector to one of
    ``n_lists`` cells, and each cell stores only the vector's ``m``
    PQ codes — ``<path>/codes`` is parquet ``(vec_id, codes)``
    PARTITIONED BY ``list_id``, with the centroid and codebook
    manifests as tiny json under ``<path>/centroids`` /
    ``<path>/codebook``.  This is the layout billion-scale ANN
    actually deploys: the full-precision corpus is never read online —
    probes scan ``n_probe`` code directories (bytes per vector, not
    floats) and score through a per-query lookup table.

    ``residual=False`` quantizes the RAW vector.  The
    tradeoff is quantization accuracy for (a) an exact contract — an
    exhaustive probe (``n_probe == n_lists``) is bit-identical to
    :func:`pq_search` over the same codebook, which is what the
    oracle checks (the oracle registration pins ``residual=False``
    explicitly for this reason) — and (b) codes that stay valid if
    cells are re-split or batches appended ivf_index_add-style,
    because the code of a vector never depends on its cell.
    ``residual=True`` (the DEFAULT — SCALE.md round-12's production
    rule is "never raw codes": raw 0.106 vs residual 0.293 recall@10
    on clustered data, and the meta manifest routes search
    automatically, so defaults should give the better recall) is
    classic IVFADC (Jégou et al. 2011 §III):
    codes quantize ``x − centroid[cell]``, so the codebook spends its
    k_codes on the within-cell residual.  The gain tracks how much
    variance the coarse cells absorb — measured recall@10 at 500k
    (SCALE.md round-12): on UNIFORM vectors (cells absorb nothing)
    residual ≈ raw (0.21 vs 0.20 at n_probe=4); on the CLUSTERED
    corpus with n_lists ≈ the cluster count it is **2.8×** (0.106 →
    0.2925) at identical index size.  The price: cell-dependent codes
    (no re-splitting without re-encoding — appends via
    :func:`ivfpq_index_add` stay valid) and a per-(query, probed-cell)
    ADC table at search time (n_probe× the no-residual table, guarded
    by ``_MAX_RESIDUAL_LUT_ROWS``).

    Scale design: one Arrow argmax assignment pass and one
    mapInPandas encode pass (both shuffle-free), one unique-key
    equi-join to attach ``list_id`` to the codes (the build's only
    shuffle — offline, amortized over every future query batch), a
    partitioned write.  Both manifests are driver-sized by
    construction (``n_lists × dim`` + ``m × k_codes × dim/m``
    floats).  Returns ``{"centroids": ..., "codebook": ...}``.
    """
    import os as _os

    if coarse_init not in ("first_ids", "kmeans"):
        raise ValueError("coarse_init must be 'first_ids' or 'kmeans'")
    if rotation is not None:
        # OPQ: the whole index lives in rotated space — coarse cells,
        # codebook, and codes are all trained/encoded on x @ R (L2 is
        # rotation-invariant, so rankings against rotated queries are
        # rankings against the originals); R persists in the meta
        # manifest and ivfpq_search / ivfpq_index_add apply it
        # automatically.
        corpus = rotate_embeddings(corpus, rotation, emb_col=emb_col)
    if coarse_init == "first_ids":
        # coarse cells seeded by the n_lists smallest-id vectors —
        # fully SQL-expressible, the oracle-checkable routing mode
        # (same trick as pq_codebook / embedding_clusters); kmeans
        # stays the production default
        centroids = [
            list(map(float, r[emb_col]))
            for r in corpus.orderBy(F.col(id_col).asc())
            .limit(n_lists)
            .collect()
        ]
    else:
        centroids = ivf_fit_centroids(
            corpus,
            n_lists=n_lists,
            n_iter=n_iter,
            id_col=id_col,
            emb_col=emb_col,
        )
    spark = corpus.sparkSession
    assigned_full = ivf_assign(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("__emb")
        ),
        centroids,
        emb_col="__emb",
    )
    if residual:
        # classic IVFADC: codes quantize x − centroid[cell], so the
        # codebook resolves the (much smaller) within-cell residual
        # instead of the whole space — the recall fix for the raw-code
        # ceiling (SCALE.md round-12).  The price: a vector's code now
        # DEPENDS on its cell, so cells cannot be re-split and batches
        # cannot be re-routed without re-encoding (the no-residual
        # mode keeps that freedom and the pq_search oracle identity).
        enc_src = _residuals(assigned_full, centroids, "vec_id", "__emb", "__res")
        # enc_src feeds the codebook training, the encode, AND the
        # list_id join — pin it once (lazy checkpoint materializes at
        # the first training action) so the full-corpus assignment
        # pass does not recompute three times per build
        enc_src = enc_src.localCheckpoint(eager=False)
        codebook = pq_codebook(
            enc_src, m=m, k=k_codes, init=codebook_init, n_iter=n_iter,
            id_col="vec_id", emb_col="__res",
        )
        codes = pq_encode(enc_src, codebook, id_col="vec_id", emb_col="__res")
        codes = codes.join(enc_src.select("vec_id", "list_id"), on="vec_id")
    else:
        codebook = pq_codebook(
            corpus, m=m, k=k_codes, init=codebook_init, n_iter=n_iter,
            id_col=id_col, emb_col=emb_col,
        )
        codes = pq_encode(corpus, codebook, id_col=id_col, emb_col=emb_col)
        if id_col != "vec_id":
            codes = codes.withColumnRenamed(id_col, "vec_id")
        codes = codes.join(assigned_full.select("vec_id", "list_id"), on="vec_id")
    (
        codes.write.mode(mode)
        .partitionBy("list_id")
        .parquet(_os.path.join(path, "codes"))
    )
    meta = {"residual": bool(residual), "m": m, "k_codes": k_codes}
    if rotation is not None:
        meta["rotation"] = [[float(v) for v in row] for row in rotation]
    for name, obj in (
        ("centroids", centroids),
        ("codebook", codebook),
        ("meta", meta),
    ):
        store.write_manifest(spark, path, name, obj, mode)
    return {"centroids": centroids, "codebook": codebook, "meta": meta}


def _read_ivfpq_meta(spark, path: str) -> dict:
    """Read an IVF-PQ index's meta manifest.  ONLY a genuinely absent
    ``<path>/meta`` directory (the pre-round-12 layout, which never
    wrote one) falls back to the no-residual default — any other
    failure (transient FS error, corrupted JSON, a build that died
    between the codes and meta writes) re-raises, because silently
    treating a residual index as raw-code would corrupt adds and
    return garbage rankings with no error.  Existence is probed
    through the Hadoop FileSystem API so s3://, hdfs://, file://
    resolve the way the reader will.
    """
    import os as _os

    if not store.exists(spark, _os.path.join(path, "meta")):
        return {"residual": False}  # pre-round-12 layout: no manifest
    return store.read_manifest(spark, path, "meta")


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`build_ivfpq_index`):
    each query ADC-scores only the PQ codes in its ``n_probe``
    nearest cells.  Returns ``(query_id, vec_id, rank, approx_d2)``
    — the same schema and DECIMAL-exact scoring as :func:`pq_search`,
    and with ``n_probe == n_lists`` the result is provably identical
    to it (no residual encoding, so a vector's ADC score never
    depends on which cell it lives in; probing every cell recovers
    the full corpus).

    Scale design: cell choice happens driver-side against the tiny
    centroid manifest (exactly like :func:`ivf_index_search`); the
    codes scan carries ``list_id IN (...)`` on the PARTITION column,
    so pruning happens at file listing — ``.explain`` shows
    ``PartitionFilters`` and the scan reads ``n_probe``/``n_lists``
    of the code files.  The (query, list) probe pairs and the
    ``n_queries × m × k`` lookup table both broadcast; the
    corpus-side cost is one explode over the m codes, two broadcast
    joins, one keyed hash aggregate, and a per-query top-k window —
    the full-precision vectors are never touched online.
    """
    import os as _os

    centroids = store.read_manifest(spark, path, "centroids")
    codebook = store.read_manifest(spark, path, "codebook")
    meta = _read_ivfpq_meta(spark, path)
    residual = bool(meta.get("residual", False))
    if meta.get("rotation") is not None:
        # OPQ index: the stored cells/codes live in rotated space, so
        # queries rotate through the same map-side matmul before
        # routing/ADC (L2-invariant — see build_ivfpq_index)
        queries = rotate_embeddings(
            queries, meta["rotation"], emb_col=emb_col
        )
    batch = _probe_batch(queries, query_id_col, emb_col, "ivfpq_search")
    if residual:
        lut_rows = batch.num_rows * n_probe * len(codebook) * len(codebook[0])
        if lut_rows > _MAX_RESIDUAL_LUT_ROWS:
            raise ValueError(
                f"ivfpq_search: residual ADC table would be {lut_rows} "
                f"rows (queries × n_probe × m × k_codes > "
                f"{_MAX_RESIDUAL_LUT_ROWS}) and it must broadcast — "
                "reduce n_probe or chunk the query batch (exhaustive "
                "residual probing pays the n_probe factor the "
                "no-residual mode doesn't)"
            )
    probes, q, codes = _cell_probes(
        spark, batch, centroids, n_probe, "ivfpq_search",
        _os.path.join(path, "codes"),
    )
    exploded = codes.select(
        "vec_id", "list_id", F.posexplode("codes").alias("j", "code")
    )
    if residual:
        # IVFADC: each probed cell sees the query's residual against
        # THAT cell's centroid, so the ADC table is keyed by
        # (query_id, list_id) — n_queries × n_probe × m × k rows,
        # still probe-pair-sized and broadcastable
        res = _residuals(
            probes.join(F.broadcast(q), on="query_id"),
            centroids, "query_id", "q_emb", "q_res",
        )
        lut = _pq_lut(res, codebook, "query_id", "q_res", extra_cols=("list_id",))
        joins = [(lut, ["list_id", "j", "code"])]
    else:
        # the lookup table comes from the collected batch, so the
        # query input (and any OPQ rotation) runs once
        lut = _pq_lut(q, codebook, "query_id", "q_emb")
        joins = [(probes, "list_id"), (lut, ["query_id", "j", "code"])]
    return _probe_top_k(
        exploded, joins, k, ("approx_d2", F.col("__d"), F.asc("approx_d2")),
        fold=lambda d: F.sum(d).cast("double"),
    ).select("query_id", "vec_id", "rank", "approx_d2")


def ivfpq_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dedupe: bool = True,
) -> None:
    """Incremental IVF-PQ index maintenance: route ``new_vectors``
    through the index's STORED centroid manifest, encode them with the
    STORED codebook, and append the codes into the partitioned code
    store — the codes-layer twin of :func:`ivf_index_add` (same
    at-least-once ``dedupe`` retry guard, same partition-pruned
    anti-join, nothing existing rewritten).

    Works in BOTH modes: no-residual codes never depend on the cell,
    and residual codes stay valid too because the add never moves a
    centroid — post-add search ≡ same-manifest full-rebuild search.
    What neither mode survives is re-fitting/re-splitting cells; that
    is a :func:`build_ivfpq_index` rebuild (gate it on
    ``embedding_drift``, exactly like the IVF layer).

    Scale: one broadcast-centroid Arrow argmax pass + one
    ``mapInPandas`` encode pass over the new batch (both
    shuffle-free), then an append of only the new files.
    """
    import os as _os

    store.check_family(spark, path, "ivfpq", "ivfpq_index_add")
    centroids = store.read_manifest(spark, path, "centroids")
    codebook = store.read_manifest(spark, path, "codebook")
    meta = _read_ivfpq_meta(spark, path)
    if meta.get("rotation") is not None:
        # OPQ index: new vectors rotate into the stored index's space
        # before routing/encoding, same as build and search
        new_vectors = rotate_embeddings(
            new_vectors, meta["rotation"], emb_col=emb_col
        )
    assigned = ivf_assign(
        new_vectors.select(
            F.col(id_col).alias("vec_id"), F.col(emb_col).alias("__emb")
        ),
        centroids,
        emb_col="__emb",
    )
    if meta.get("residual", False):
        enc_src = _residuals(assigned, centroids, "vec_id", "__emb", "__enc")
    else:
        enc_src = assigned.select(
            "vec_id", "list_id", F.col("__emb").alias("__enc")
        )
    codes = pq_encode(enc_src, codebook, id_col="vec_id", emb_col="__enc")
    codes = codes.join(enc_src.select("vec_id", "list_id"), on="vec_id")
    store.append_once(
        spark, codes, _os.path.join(path, "codes"), ("list_id",), "vec_id",
        dedupe,
    )


def knn_label_check(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    method: str = "brute",
    **kwargs,
) -> DataFrame:
    """Label-noise detection by neighborhood vote (confident-learning
    lite): each vector's k nearest neighbors (excluding itself) vote
    with their labels; rows whose own label disagrees with the
    majority are flagged.  Returns ``(id_col, label, knn_label,
    n_agree, is_suspect)`` — ties break to the LOWEST label value, so
    the verdict is deterministic.  Run it on any labeled embedding
    table before training; the suspects list is the audit queue.

    Scale design: neighbor search delegates to the existing top-k
    scorers (``brute`` = the oracle path; ``lsh``/``ivf`` are the
    banded/cell-pruned 100 TB paths — same output schema); the vote
    is one hash aggregate on (query, neighbor-label) plus a
    ``max_by`` tie-broken argmax per query, joined back to the
    labels.  Nothing here is quadratic beyond the chosen scorer.
    """
    if method == "brute":
        # brute_force_top_k excludes self by default — k means k
        # genuine neighbors
        topk = brute_force_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col)
    elif method == "lsh":
        topk = lsh_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col, **kwargs)
    elif method == "ivf":
        topk = ivf_top_k(emb, emb, k=k, id_col=id_col, emb_col=emb_col, **kwargs)
    else:
        raise ValueError("method must be 'brute', 'lsh', or 'ivf'")
    labels = emb.select(F.col(id_col), F.col(label_col))
    nb = (
        topk.filter(F.col("query_id") != F.col(id_col))
        .join(
            labels.select(
                F.col(id_col).alias("__nid"), F.col(label_col).alias("__nl")
            ),
            on=F.col(id_col) == F.col("__nid"),
        )
        .groupBy(F.col("query_id"), F.col("__nl"))
        .agg(F.count(F.lit(1)).alias("__votes"))
    )
    # deterministic argmax for ANY orderable label type: max votes,
    # then the lowest label among the tied
    top = nb.groupBy("query_id").agg(F.max("__votes").alias("__top"))
    win = (
        nb.join(top, on="query_id")
        .filter(F.col("__votes") == F.col("__top"))
        .groupBy("query_id")
        .agg(F.min("__nl").alias("knn_label"))
    )
    agree = nb.select(
        F.col("query_id").alias("__aq"),
        F.col("__nl").alias("__al"),
        F.col("__votes").alias("__av"),
    )
    return (
        labels.join(
            win, on=F.col(id_col) == F.col("query_id"), how="left"
        )
        .join(
            agree,
            on=(F.col(id_col) == F.col("__aq"))
            & (F.col(label_col) == F.col("__al")),
            how="left",
        )
        .select(
            F.col(id_col),
            F.col(label_col),
            F.col("knn_label"),
            F.coalesce(F.col("__av"), F.lit(0)).alias("n_agree"),
            (
                F.col("knn_label").isNotNull()
                & (F.col("knn_label") != F.col(label_col))
            ).alias("is_suspect"),
        )
    )


def mine_hard_negatives(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
    anchors: DataFrame | None = None,
    method: str = "brute",
    oversample: int = 4,
    min_cosine: float | None = None,
    **kwargs,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    the ``k`` most cosine-similar vectors whose label DIFFERS from the
    anchor's — the negatives closest to the decision boundary, the
    standard batch-construction input for triplet / InfoNCE losses.
    Returns ``(query_id, neg_id, anchor_label, neg_label, cosine,
    rank)``; rows with a NULL label on either side never pair (a
    NULL-labelled vector is neither positive nor negative evidence).
    ``min_cosine`` optionally floors the similarity (drop easy
    negatives entirely); ``anchors`` restricts the anchor side
    (default: every labelled vector mines its own negatives).

    Scale design: ``brute`` filters the label mismatch BEFORE the
    per-anchor top-k window — exact, and the scoring join is the same
    broadcast-anchors shape as :func:`brute_force_top_k`.  ``lsh`` /
    ``ivf`` fetch ``k * oversample`` banded/cell-pruned candidates
    from the existing scorers, then label-filter and re-rank — the
    100 TB path, approximate when fewer than ``k`` different-label
    rows survive among the oversampled candidates (raise
    ``oversample`` on label-skewed corpora; on a 2-label 50/50 corpus
    the default 4x loses nothing).
    """
    anchors_df = anchors if anchors is not None else emb
    if method == "brute":
        n_part = shuffle_partitions(emb.sparkSession)
        q = anchors_df.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            norm_expr(F.col(emb_col)).alias("q_norm"),
            F.col(label_col).alias("anchor_label"),
        )
        c = emb.select(
            F.col(id_col).alias("neg_id"),
            F.col(emb_col).alias("c_emb"),
            norm_expr(F.col(emb_col)).alias("c_norm"),
            F.col(label_col).alias("neg_label"),
        ).repartition(n_part)
        _, score, _ = pair_score(
            dot_expr(F.col("q_emb"), F.col("c_emb")), "q_norm", "c_norm"
        )
        scored = (
            c.join(F.broadcast(q))
            .filter(F.col("anchor_label") != F.col("neg_label"))
            .withColumn("cosine", score)
        )
    elif method in ("lsh", "ivf"):
        scorer = lsh_top_k if method == "lsh" else ivf_top_k
        cand = scorer(
            emb,
            anchors_df,
            k=k * oversample,
            id_col=id_col,
            emb_col=emb_col,
            **kwargs,
        )
        labs = emb.select(F.col(id_col), F.col(label_col))
        scored = (
            cand.join(
                labs.select(
                    F.col(id_col).alias("query_id"),
                    F.col(label_col).alias("anchor_label"),
                ),
                on="query_id",
            )
            .join(
                labs.select(
                    F.col(id_col).alias("neg_id"),
                    F.col(label_col).alias("neg_label"),
                ),
                on=F.col(id_col) == F.col("neg_id"),
            )
            .filter(F.col("anchor_label") != F.col("neg_label"))
            .select(
                "query_id", "neg_id", "anchor_label", "neg_label", "cosine"
            )
        )
    else:
        raise ValueError("method must be 'brute', 'lsh', or 'ivf'")
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= min_cosine)
    return _top_k(
        scored, k, ["query_id"], [F.desc("cosine"), F.asc("neg_id")]
    ).select(
        "query_id", "neg_id", "anchor_label", "neg_label", "cosine", "rank"
    )


def embedding_outliers(
    df: DataFrame,
    pct: float = 0.05,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    approx: bool = False,
) -> DataFrame:
    """Prototype-distance curation (the SSL-prototypes / SemDeDup-style
    pruning signal): each vector's cosine similarity to its OWN label
    centroid, flagging the least-typical ``pct`` tail of every label —
    mislabeled rows, encoding glitches, and off-distribution examples
    all surface here before training.  Returns ``(id, label,
    cos_centroid, fence, is_outlier)`` where ``fence`` is the label's
    ``pct`` quantile of the similarity (6 dp) and ``is_outlier = cos <
    fence``.  Rows with a NULL label are dropped (no prototype to
    compare against).

    Scale design: centroids come from :func:`label_centroids` (one
    long-form hash agg, k x dim result) and broadcast back; the cosine
    is a codegen'd sequential array fold (``dot_expr``) — identical
    fold order to the SQL twin's ``list_dot_product``, so scores are
    bit-stable; the per-label fence is one percentile aggregate
    broadcast back (``approx=True`` switches to the mergeable sketch —
    the 100 TB path).  The fact table never shuffles.
    """
    if not (0.0 < pct < 1.0):
        raise ValueError("embedding_outliers: need 0 < pct < 1")
    cents = label_centroids(df, vec_col=vec_col, label_col=label_col).select(
        F.col("label").alias(label_col), F.col("centroid")
    )
    v = F.col(vec_col).cast("array<double>")
    scored = (
        df.filter(F.col(label_col).isNotNull())
        .join(F.broadcast(cents), on=label_col)
        .select(
            F.col(id_col),
            F.col(label_col),
            pair_score(
                dot_expr(v, F.col("centroid")),
                norm_expr(v),
                norm_expr(F.col("centroid")),
            )[1].alias("cos_centroid"),
        )
    )
    pf = (
        (lambda c: F.percentile_approx(c, F.lit(pct)))
        if approx
        else (lambda c: F.percentile(c, F.lit(pct)))
    )
    fences = scored.groupBy(label_col).agg(
        F.round(pf(F.col("cos_centroid")), 6).alias("fence")
    )
    return scored.join(F.broadcast(fences), on=label_col).select(
        id_col,
        label_col,
        "cos_centroid",
        "fence",
        (F.col("cos_centroid") < F.col("fence")).alias("is_outlier"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "cosine",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein
    1998): greedily pick ``k`` results per query maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_picked`` — the
    standard diversification step for retrieval results and few-shot
    / training-example selection (relevant but not redundant).
    ``candidates`` carries per-query scored candidates
    ``(query_col, id_col, rel_col, emb_col)`` — typically the output
    of :func:`brute_force_top_k` (or the LSH/IVF variants) joined
    back to its embeddings.  Returns ``(query_id, vec_id, mmr_score,
    mmr_rank)`` with ``mmr_rank`` 1..k in pick order.

    Determinism: pairwise cosines round to 6 dp before the max; the
    pick compares the identical double expression in both engines
    with an id tie-break, so a fixed-step unrolled SQL twin is exact.

    Scale design: the greedy loop is k (small, fixed) rounds; each
    round joins the undecided candidates against the selected set ON
    THE QUERY KEY — per-query work is |candidates| * round, never
    corpus-sized, and the per-round pick is a query-keyed window.
    Candidate lists are pre-truncated by the upstream top-k, so state
    stays (queries x list length)-sized throughout.
    """
    if k < 1:
        raise ValueError(f"mmr_rerank: k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"mmr_rerank: lam must be in [0, 1], got {lam}")
    num = round(lam * 100)
    if abs(num - lam * 100) > 1e-9:
        raise ValueError(
            f"mmr_rerank: lam must be a multiple of 0.01 (got {lam}) — "
            "the score is an exact integer in (lam/100, 1e-6) units so "
            "the greedy argmax is engine-portable"
        )
    # exact scoring: rel and sim quantize to 1e-6 integers, the MMR
    # combination is integer arithmetic in 1e-8 units, and the final
    # score is ONE division of an exact (< 2^53) integer — no float
    # rounding anywhere, so the pick order and the reported score are
    # bit-identical across engines (F.round on a double rounds its
    # shortest decimal string, which desyncs from engines that round
    # the binary value — measured one boundary hit per ~100 rows)
    cand = candidates.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(F.col(rel_col).cast("double") * F.lit(1e6))
        .cast("long")
        .alias("__rel6"),
        F.col(emb_col).alias("__emb"),
        norm_expr(F.col(emb_col)).alias("__norm"),
    ).localCheckpoint(eager=False)
    order = [F.desc("__mmr"), F.asc("vec_id")]
    selected = None
    for step in range(1, k + 1):
        if selected is None:
            scored = cand.withColumn(
                "__mmr", (F.lit(num) * F.col("__rel6")).cast("long")
            )
        else:
            _, sim, _ = pair_score(
                dot_expr(F.col("__emb"), F.col("__semb")), "__norm", "__snorm"
            )
            sims = (
                cand.join(
                    selected.select(
                        "query_id",
                        F.col("__emb").alias("__semb"),
                        F.col("__norm").alias("__snorm"),
                    ),
                    on="query_id",
                )
                .groupBy("query_id", "vec_id")
                .agg(
                    F.max(
                        F.round(sim * F.lit(1e6)).cast("long")
                    ).alias("__sim6")
                )
            )
            scored = cand.join(sims, on=["query_id", "vec_id"]).withColumn(
                "__mmr",
                (
                    F.lit(num) * F.col("__rel6")
                    - F.lit(100 - num) * F.col("__sim6")
                ).cast("long"),
            )
        pick = (
            _top_k(scored, 1, ["query_id"], order, rank_col="__rn")
            .select(
                "query_id",
                "vec_id",
                "__rel6",
                "__emb",
                "__norm",
                "__mmr",
                F.lit(step).alias("mmr_rank"),
            )
            .localCheckpoint(eager=False)
        )
        selected = pick if selected is None else selected.unionByName(pick)
        cand = cand.join(
            pick.select("query_id", "vec_id"),
            on=["query_id", "vec_id"],
            how="left_anti",
        ).localCheckpoint(eager=False)
    return selected.select(
        "query_id",
        "vec_id",
        (F.col("__mmr").cast("double") / F.lit(1e8)).alias("mmr_score"),
        "mmr_rank",
    )


def cell_pruned_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Cosine-cell IVF-flat top-k with REAL pruning that stays
    SQL-oracle-exact: cells are the ``n_cells`` smallest-id corpus
    vectors (``first_ids`` seeds, the convention
    :func:`embedding_clusters` established), assignment is argmax of
    the 6-dp cosine (ties to the lowest seed id), and each query
    probes only its ``n_probe`` nearest cells by the same rounded
    cosine.  Unlike :func:`ivf_top_k`'s exhaustive-probe oracle mode,
    ``n_probe < n_cells`` here genuinely skips corpus cells — this is
    the op that puts a *pruned* approximate search under exact
    cross-engine evidence (its recall is then measured by
    :func:`ann_recall_report`).

    Scale notes: the seed table is a broadcast manifest; corpus cell
    assignment uses the expression path (corpus x n_cells candidate
    rows through one keyed window) for bit-exact portability — the
    production-scale assignment is :func:`build_ivf_index`'s Arrow
    argmax + ``PARTITIONED BY list_id`` layout, which this op
    deliberately trades away for oracle-exactness of the *evaluation*.
    Candidate scoring joins on the cell key only (n_probe/n_cells of
    the corpus per query).
    Returns ``(query_id, vec_id, cosine, rank)``.
    """
    query_id_col = query_id_col or id_col
    spark = corpus.sparkSession
    seed_rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(id_col, emb_col)
        .collect()
    )
    seeds = local_table(
        spark,
        [
            (int(r[id_col]), [float(x) for x in r[emb_col]])
            for r in seed_rows
        ],
        schema="sid bigint, s_emb array<double>",
    ).withColumn("s_norm", norm_expr(F.col("s_emb")))

    def assign(
        df: DataFrame, idc: str, out_id: str, keep_rank: int
    ) -> DataFrame:
        pairs = df.select(
            F.col(idc).alias(out_id),
            F.col(emb_col).alias("__emb"),
            norm_expr(F.col(emb_col)).alias("__norm"),
        ).crossJoin(F.broadcast(seeds))
        _, sim, _ = pair_score(
            dot_expr(F.col("__emb"), F.col("s_emb")), "__norm", "s_norm"
        )
        scored = pairs.withColumn("__sim", sim)
        order = [F.desc("__sim"), F.asc("sid")]
        return _top_k(scored, keep_rank, [out_id], order, "__rn").select(
            out_id, "__emb", "__norm", F.col("sid").alias("cell")
        )

    cells = assign(corpus, id_col, "vec_id", 1)
    probes = assign(queries, query_id_col, "query_id", n_probe)

    cand = cells.join(
        probes.withColumnRenamed("__emb", "q_emb").withColumnRenamed(
            "__norm", "q_norm"
        ),
        on="cell",
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    # Narrow the rows BEFORE the pair dedup: dropDuplicates keeps all
    # columns, so deduplicating the scored rows directly would drag
    # both embeddings through the Deduplicate exchange.  The per-pair
    # cosine is deterministic, so max() over collisions (same pair via
    # 2 probed cells) IS the value — bit-exact — and the hash
    # aggregate partially combines map-side (same plan shape as
    # lsh_top_k above).
    _, score, order = pair_score(
        dot_expr(F.col("q_emb"), F.col("__emb")), "q_norm", "__norm"
    )
    scored = (
        cand.select("query_id", "vec_id", score.alias("cosine"))
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    approx: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    metric: str = "cosine",
) -> DataFrame:
    """Recall@k of ANY approximate top-k result against brute-force
    ground truth — the standard ANN index evaluation (the number a
    100 TB pipeline must watch when it swaps brute-force for
    LSH/IVF/PQ).  ``metric`` selects the truth ranking: ``"cosine"``
    for the LSH paths, ``"l2"`` for the L2-quantized indexes
    (IVF/PQ/IVF-PQ) so the report isolates quantization + pruning
    loss from metric disagreement.  ``approx`` is a
    ``(query_id, vec_id[, rank])``
    DataFrame as produced by :func:`lsh_top_k`, :func:`ivf_top_k`,
    :func:`pq_search`, :func:`cell_pruned_top_k`, or
    :func:`ivf_index_search`; rows with ``rank > k`` are ignored when
    a ``rank`` column is present.

    Returns one row per query: ``(query_id, n_truth, n_hit, recall)``
    with ``recall = n_hit / n_truth`` at 6 dp (``n_truth = min(k,
    candidates)`` from the exact search; queries absent from
    ``approx`` get ``n_hit = 0``).

    Scale: truth is the brute-force pass over (corpus x queries) —
    the evaluation is meant to run on a SAMPLE of queries (queries
    broadcast, corpus scanned once); the comparison itself is one
    equi-join on (query, id) + a query-keyed aggregate.
    """
    # NOTE (r16, measured): do NOT cache `truth` despite its two
    # references below — the brute-force subtree ends in the top-k
    # aggregate's Exchange, which Spark's ReuseExchange already serves
    # to both branches; an explicit cache() ADDS an InMemoryRelation
    # materialization barrier and measured neutral-to-slower
    # (interleaved A/B at sf0.1: lsh_recall_report 2.07->2.12s,
    # lsh_multiprobe_recall 2.10->2.28s).
    truth = brute_force_top_k(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        emb_col=emb_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
        metric=metric,
    ).select("query_id", "vec_id")
    pred = approx
    if "rank" in pred.columns:
        pred = pred.filter(F.col("rank") <= k)
    pred = pred.select("query_id", "vec_id").dropDuplicates(
        ["query_id", "vec_id"]
    )
    hits = truth.join(pred, on=["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    per_q = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    return (
        per_q.join(hits, on="query_id", how="left")
        .select(
            "query_id",
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


def pair_recall_report(
    truth: DataFrame,
    pred: DataFrame,
    group_col: str = "eval_id",
    pair_cols: tuple = ("train_id", "eval_id"),
) -> DataFrame:
    """Recall of an approximate PAIR-finder against exact truth —
    the pair-level sibling of :func:`ann_recall_report` (which is
    top-k-level).  Built for the decontamination / near-dup recall
    contract: ``truth`` = the exhaustive method's matched pairs
    (``semantic_decontaminate(method="brute")``,
    ``fuzzy_decontaminate(bands=0)``), ``pred`` = the banded scale
    path's pairs, and the report answers "what fraction of the true
    contamination does the bucketed method keep?" per ``group_col``
    (one row per eval/query doc: ``(group, n_truth, n_hit,
    recall)``; rounds to 6 dp; groups with no truth pairs are
    absent, matching ann_recall_report's truth-rooted shape).

    Scale: both inputs are contamination-sized (already filtered),
    so the comparison is one equi-join on the pair key + one keyed
    aggregate — evaluation cost is output-sized, never corpus-sized.
    """
    keys = list(pair_cols)
    # NOTE (r16, measured): `t` is referenced twice below but its
    # subtree ends in the dropDuplicates Exchange, which ReuseExchange
    # already serves to both branches; an explicit cache() measured
    # consistently SLOWER (fuzzy_decon_recall 2.56->3.08s interleaved
    # A/B at sf0.1 — the materialization barrier defeats the pipelined
    # exchange reuse), so the double reference stays as-is.
    t = truth.select(*keys).dropDuplicates(keys)
    p = pred.select(*keys).dropDuplicates(keys)
    hits = t.join(p, on=keys).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    perg = t.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_truth"))
    return perg.join(hits, on=group_col, how="left").select(
        group_col,
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth"), 6
        ).alias("recall"),
    )


def ann_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    metric: str = "l2",
    broadcast_candidates: bool = True,
    cand_query_col: str = "query_id",
    cand_id_col: str = "vec_id",
) -> DataFrame:
    """Exact-distance re-ranking of an oversampled ANN candidate set
    (Jegou et al. 2011, "Searching in one billion vectors: re-rank
    with source coding" — the standard production fix for the
    quantization recall cliff this module's 500k A/B measured:
    codes PRUNE, the rerank RESTORES).  ``candidates`` is the
    ``(query_id, vec_id, ...)`` output of any searcher in this
    module (``ivfpq_search`` / ``pq_search`` / ``lsh_top_k`` /
    ``ivf_top_k`` / ``sq`` candidates — they all emit that pair);
    each pair is re-scored with the EXACT 6-dp metric of
    :func:`brute_force_top_k` (same expression tree, so
    rerank(exhaustive candidates) is bit-identical to brute force)
    and the per-query top ``k`` survives.  Returns ``(query_id,
    vec_id, cosine|d2, rank)`` — brute's schema, because the output
    IS brute force restricted to the candidate set.

    Scale design: the ONLY read of full-precision vectors is the
    candidate join — ``corpus`` is probed with a broadcast hash join
    on ``id_col`` (candidate pairs are two-id rows, n_queries x k'
    of them; queries are driver-sized by this module's ANN
    contract), so the 100 TB corpus scan stays in place, column-
    pruned to (id, embedding), and never shuffles.  The query
    embeddings broadcast as in brute force.  Per-query cost is k'
    exact distances instead of a corpus scan — at the measured 500k
    config, k'=100 reads 0.02% of the vectors a brute pass reads.
    Pass ``broadcast_candidates=False`` only when the candidate set
    itself is beyond driver size (e.g. corpus x corpus near-dup
    rerank); the fallback is a plain shuffle hash join on the id.

    The candidate frame's pair columns default to the searcher-output
    names ``("query_id", "vec_id")`` regardless of ``query_id_col`` /
    ``id_col`` (those name columns in ``queries`` / ``corpus``, and
    every searcher in this module emits the canonical pair names) —
    override ``cand_query_col`` / ``cand_id_col`` for a hand-built
    candidate frame that uses different names.
    """
    if metric not in ("cosine", "l2"):
        raise ValueError("ann_rerank: metric must be 'cosine' or 'l2'")
    pairs = candidates.select(
        F.col(cand_query_col).alias("query_id"),
        F.col(cand_id_col).alias("vec_id"),
    ).dropDuplicates(["query_id", "vec_id"])
    if broadcast_candidates:
        pairs = F.broadcast(pairs)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("c_emb"),
        self_term(F.col(emb_col), metric).alias("c_self"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        self_term(F.col(emb_col), metric).alias("q_self"),
    )
    score_col, score, order = pair_score(
        dot_expr(F.col("q_emb"), F.col("c_emb")), "q_self", "c_self", metric
    )
    scored = (
        c.join(pairs, on="vec_id")
        .join(F.broadcast(q), on="query_id")
        .withColumn(score_col, score)
    )
    return _top_k(scored, k, ["query_id"], [order, F.asc("vec_id")]).select(
        "query_id", "vec_id", score_col, "rank"
    )


def ann_search_batched(
    spark,
    path: str,
    queries: DataFrame,
    batch_size: int = 10_000,
    searcher=None,
    query_id_col: str = "query_id",
    spill_dir: str | None = None,
    **search_kwargs,
) -> DataFrame:
    """Drive a persisted-index searcher (:func:`ivfpq_search` by
    default, or :func:`ivf_index_search`) over a query set LARGER
    than one driver-sized batch: queries are split into
    ``batch_size`` chunks by sorted id range and the searcher runs
    once per chunk, results unioned.  Per-query results are
    independent in every searcher in this module, so the batched
    output is BIT-IDENTICAL to a single oversized call — this is the
    "chunk the query batch" escape hatch the residual ADC guard
    (``_MAX_RESIDUAL_LUT_ROWS``) and the probe-batch guard
    (``_MAX_QUERY_BATCH``) point at, turned into an operator.

    Scale design: the only whole-set driver cost is an ids-ONLY
    collect to compute chunk boundaries (8 bytes/query — 10M offline
    queries = one 80 MB id list, vs the dim x 8 bytes/query the
    un-chunked searcher would broadcast); each chunk then filters by
    id RANGE (pushes to the parquet scan, never an isin over
    thousands of literals) and pays the searcher's normal
    probe-pair/LUT broadcast at chunk size.  Chunks run as
    sequential Spark jobs — an offline-batch trade (bounded memory,
    same total work) rather than a latency one.

    Each chunk is materialized EAGERLY before the next one builds —
    a lazy union of every chunk's plan would keep every chunk's
    driver-local probe/LUT LocalRelation and broadcast resident
    until the caller's single action, re-aggregating exactly the
    footprint the chunking exists to bound.  Default is
    ``localCheckpoint(eager=True)`` (executor block storage, no
    filesystem dependency; an executor loss during the final union
    fails the job since lineage is truncated — rerun).  Pass
    ``spill_dir`` to write each chunk to
    ``<spill_dir>/chunk=<i>`` parquet instead and return one scan
    over the spill — the durable choice for multi-hour offline runs.
    """
    if searcher is None:
        searcher = ivfpq_search
    if batch_size < 1:
        raise ValueError("ann_search_batched: batch_size must be >= 1")
    ids = sorted(
        r[0] for r in queries.select(query_id_col).distinct().collect()
    )
    if not ids:
        return searcher(
            spark, path, queries, query_id_col=query_id_col,
            **search_kwargs,
        )
    import os as _os

    parts = []
    for i in range(0, len(ids), batch_size):
        lo, hi = ids[i], ids[min(i + batch_size, len(ids)) - 1]
        sub = queries.filter(
            (F.col(query_id_col) >= F.lit(lo))
            & (F.col(query_id_col) <= F.lit(hi))
        )
        part = searcher(
            spark, path, sub, query_id_col=query_id_col, **search_kwargs
        )
        if spill_dir is not None:
            part.write.mode("overwrite").parquet(
                _os.path.join(spill_dir, f"chunk={i // batch_size}")
            )
        else:
            # runs the chunk's jobs NOW and frees its LocalRelations/
            # broadcasts; the union below is over checkpointed blocks
            parts.append(part.localCheckpoint(eager=True))
    if spill_dir is not None:
        return spark.read.option("recursiveFileLookup", "true").parquet(
            spill_dir
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _band_rows(df, tables, id_col: str, emb_col: str):
    """One banded row per (vector, table): (vec_id, c_emb, c_norm,
    table, bucket) — the persisted-LSH storage layout, shared by
    build and incremental add so the two can never drift."""
    dim = len(tables[0][0]) if tables and tables[0] else None
    carry = [
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("c_emb"),
        norm_expr(F.col(emb_col), dim).alias("c_norm"),
    ]
    return _lsh_band(df, carry, emb_col, tables)


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
    mode: str = "error",
) -> dict:
    """Build and persist a random-hyperplane LSH index: the corpus is
    banded ONCE per table (the same deterministic md5-seeded planes
    :func:`lsh_top_k` uses) and written to ``<path>/bands`` as
    parquet PARTITIONED BY ``(table, bucket)`` with precomputed
    norms; ``<path>/meta`` records (n_planes, n_tables, dim).
    Returns the meta dict.

    This completes the persisted-index family (IVF and IVF-PQ have
    had this shape since r10/r11): :func:`lsh_top_k` re-bands the
    corpus on EVERY call — at 100 TB that is n_tables full-corpus
    shuffles per query batch — while this index pays the banding once
    offline and every online probe becomes a partition-pruned scan of
    the touched ``(table, bucket)`` directories.  Index size is
    n_tables x corpus rows (the inherent LSH table trade); partition
    count is n_tables x 2^n_planes directories, so keep ``n_planes``
    <= ~12 for a partitioned store (beyond that, band tables belong
    inside a coarser layout).
    """
    import os as _os

    dim = _lsh_dim(corpus, emb_col, dim, "build_lsh_index")
    meta = {"n_planes": n_planes, "n_tables": n_tables, "dim": dim}
    banded = _band_rows(corpus, _lsh_tables(meta), id_col, emb_col)
    banded.write.mode(mode).partitionBy("table", "bucket").parquet(
        _os.path.join(path, "bands")
    )
    store.write_manifest(corpus.sparkSession, path, "meta", meta, mode)
    return meta


def _lsh_tables(meta: dict):
    """The stored plane manifest's hyperplanes, one list per table."""
    return _lsh_planes(
        int(meta["n_planes"]), int(meta["n_tables"]), int(meta["dim"])
    )


def lsh_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dedupe: bool = True,
) -> None:
    """Incremental LSH index maintenance: band ``new_vectors`` with
    the STORED plane manifest and append into the partition
    directories — nothing existing is read or rewritten (mirror of
    :func:`ivf_index_add`; bucket membership depends only on the
    deterministic stored planes, so post-add search is identical to
    a full rebuild over the union).  With ``dedupe=True`` the batch
    is anti-joined against ids already present in the buckets it
    would land in (partition-pruned, vec_id column only), so a
    replayed/retried add appends zero rows.
    """
    import os as _os

    store.check_family(spark, path, "lsh", "lsh_index_add")
    tables = _lsh_tables(store.read_manifest(spark, path, "meta"))
    banded = _band_rows(new_vectors, tables, id_col, emb_col)
    # table 0 membership is definitive (every vector appears in every
    # table), so the retry guard prunes to table 0's touched buckets
    store.append_once(
        spark, banded, _os.path.join(path, "bands"), ("table", "bucket"),
        "vec_id", dedupe, home={"table": 0}, prune_cols=("bucket",),
    )


def lsh_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe_bits: int = 0,
    query_id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a persisted LSH index (:func:`build_lsh_index`): each
    query reads only the ``(table, bucket)`` partition directories in
    the Hamming-``n_probe_bits`` ball of its signature, per table —
    multi-probe (Lv et al. 2007) against a STORED banding, so recall
    rises with zero change to the index.  Bit-identical to
    :func:`lsh_top_k` with the same (n_planes, n_tables,
    n_probe_bits) — contract-tested — and ``n_probe_bits = n_planes``
    probes every bucket, making the search provably exhaustive
    (equal to brute force: the oracle contract).

    Scale design: query signatures are the banding kernel's signature
    array (:func:`_lsh_signatures`), collected with the driver-sized
    batch by the probe kernel (the IVF probes' collect and guard);
    the bucket predicate lists LITERAL partition values,
    so pruning happens at file listing (``PartitionFilters`` —
    plan-guarded in tests); the probe pairs and the query embeddings
    broadcast SEPARATELY (each embedding ships once, not once per
    probe); scoring folds duplicate collisions with the map-side
    combinable max-aggregate, moving only (ids, cosine) through the
    exchange — the r11 narrow-shuffle plan, inherited.
    """
    import os as _os

    import numpy as np

    meta = store.read_manifest(spark, path, "meta")
    tables = _lsh_tables(meta)
    n_tables = int(meta["n_tables"])
    masks = _hamming_ball_masks(int(meta["n_planes"]), n_probe_bits)
    # the query batch carries the home signature of every table — the
    # banding kernel's own signature array, so the query-side bucket is
    # bit-identical to the stored banding by construction (a numpy
    # re-implementation of the sign convention can disagree on dot==0
    # ULP boundaries and route a query away from its own stored
    # bucket; the JVM expression cannot)
    dim = len(tables[0][0]) if tables and tables[0] else None
    batch = _probe_batch(
        queries, query_id_col, emb_col, "lsh_index_search",
        q_norm=norm_expr(F.col(emb_col), dim),
        sigs=_lsh_signatures(F.col(emb_col), tables)["bucket"],
    )
    n = batch.num_rows
    sigs = _batch_matrix(batch, "sigs", n_tables)
    # fanout-aware guard: the probe table is queries × tables × ball,
    # not just queries — cap the PRODUCT (ADVICE r12)
    probes, q, bands = _probe_tables(
        spark, batch.drop_columns("sigs"), "lsh_index_search",
        f"{n} queries × {n_tables} tables × {len(masks)} Hamming-ball masks",
        {
            "table": np.broadcast_to(np.arange(n_tables, dtype=np.int32), sigs.shape),
            "bucket": sigs,
        },
        _os.path.join(path, "bands"), masks,
    )
    pair = pair_score(
        # stored-plane dim -> codegen unroll (r14)
        dot_expr(F.col("q_emb"), F.col("c_emb"), dim),
        "q_norm",
        "c_norm",
    )
    return _probe_top_k(
        bands, [(probes, ["table", "bucket"]), (q, "query_id")], k, pair,
        exclude_self, fold=F.max,
    )


def index_compact(
    spark,
    path: str,
    target_records_per_file: int = 1_000_000,
    stores: "set[str] | None" = None,
) -> dict:
    """Compact a persisted index's partitioned data stores in place.
    Every incremental add (:func:`ivf_index_add`,
    :func:`ivf_sq_index_add`, :func:`ivfpq_index_add`,
    :func:`lsh_index_add`, ``minhash_index_add``, ``text_index_add``)
    and every ``stream_index_add`` micro-batch APPENDS files into the
    store's partition directories — at streaming cadence each partition accumulates
    thousands of KB-scale parquet files, and the file-listing prune
    that justifies the whole partitioned-index design erodes (listing
    time and per-file footer reads grow linearly with add count).
    This is the maintenance job that restores it: rewrite each data
    store to ~one file per partition directory, leaving search
    results bit-identical (contract-tested).

    Mechanics: detects which of the known stores (``cells`` /
    ``codes`` / ``bands`` / ``mbands`` / ``postings`` / ``doclens``)
    exist under ``path``, reads each, range-
    repartitions on ``(partition_cols..., vec_id)`` into
    ``ceil(rows / target_records_per_file)`` tasks — so an oversized
    cell still parallelizes across writers instead of bottlenecking
    one task, while small cells coalesce into a single file — writes
    to a temp sibling, then atomically swaps directories.  Manifests
    (centroids / codebook / meta json) are never touched, so the swap
    is the only moment of mutation.

    The swap is two renames on the store's Hadoop ``FileSystem`` —
    atomic on HDFS and local filesystems.  On object stores without
    atomic rename (S3A), run this under the same maintenance lock you
    use for the adds; a concurrent search mid-swap may fail and
    should simply retry.  Returns ``{store: {"files_before": b,
    "files_after": a, "rows": n}}``.

    ``stores`` restricts the rewrite to a subset of store names —
    :func:`index_maintain` uses it to compact only the stores whose
    file counts actually breached the threshold.
    """
    import math as _math
    import os as _os

    def _count_files(p: str) -> int:
        return sum(1 for _ in store.parquet_files(spark, p))

    report: dict = {}
    for sub, part_cols in store.INDEX_DATA_LAYOUT.items():
        if stores is not None and sub not in stores:
            continue
        data = _os.path.join(path, sub)
        if not store.exists(spark, data):
            continue
        before = _count_files(data)
        df = spark.read.parquet(data)
        n = df.count()
        if n == 0:
            # Fully-retracted store (zero-row marker left by
            # index_remove): a partitioned overwrite of an empty frame
            # writes NO files and the swap would make the store
            # unreadable — leave it as-is.
            report[sub] = {
                "files_before": before,
                "files_after": before,
                "rows": 0,
            }
            continue
        n_tasks = max(1, _math.ceil(n / target_records_per_file))
        pref = store.INDEX_SORT_COLS.get(sub)
        if pref is not None:
            sort_cols = list(part_cols) + [c for c in pref if c in df.columns]
        else:
            sort_cols = list(part_cols) + [
                c for c in ("vec_id", "doc_id") if c in df.columns
            ][:1]
        tmp = data + ".__compact_tmp__"
        (
            df.repartitionByRange(n_tasks, *[F.col(c) for c in sort_cols])
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", target_records_per_file)
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
        store.swap_dir(spark, data, tmp)
        report[sub] = {
            "files_before": before,
            "files_after": _count_files(data),
            "rows": n,
        }
    return report


def index_stats(spark, path: str) -> dict:
    """Health report for a persisted ANN index's data stores — the
    observability half of the maintenance loop (:func:`index_compact`
    is the repair half): for each store under ``path`` returns
    ``{"files": n, "bytes": b, "partitions": p,
    "max_files_per_partition": m, "avg_files_per_partition": a}``.

    Pure Hadoop FileSystem listing — no Spark job, no data read — so
    it is cheap enough to run before every search batch or on a
    scheduler tick.  Production rule (measured, SCALE.md round-13): a
    store at ~933 files/partition probed 12.7× slower than its
    compacted twin; compact when ``max_files_per_partition`` grows
    past ~10× its post-build value.
    """
    import os as _os

    report: dict = {}
    for sub in store.INDEX_DATA_LAYOUT:
        data = _os.path.join(path, sub)
        if not store.exists(spark, data):
            continue
        per_part: dict[str, int] = {}
        n_files = n_bytes = 0
        for st in store.parquet_files(spark, data):
            n_files += 1
            n_bytes += st.getLen()
            # partition dir = path between the store root and the file
            parent = st.getPath().getParent().toString()
            per_part[parent] = per_part.get(parent, 0) + 1
        n_parts = len(per_part)
        report[sub] = {
            "files": n_files,
            "bytes": n_bytes,
            "partitions": n_parts,
            "max_files_per_partition": max(per_part.values(), default=0),
            "avg_files_per_partition": (
                round(n_files / n_parts, 2) if n_parts else 0.0
            ),
        }
    return report


def index_maintain(
    spark,
    path: str,
    max_files_per_partition: int = 32,
    target_records_per_file: int = 1_000_000,
) -> dict:
    """Auto-maintenance for a persisted index: consult
    :func:`index_stats` (pure file listing — no Spark job, no data
    read) and run :func:`index_compact` on ONLY the stores whose
    ``max_files_per_partition`` breached the threshold.  This is the
    trigger the streaming duty cycle was missing: every
    ``stream_index_add`` micro-batch appends a file per touched
    partition directory, and r13 measured 933 files/partition after
    30 adds → a 12.7× probe slowdown; observability
    (``index_stats``) and repair (``index_compact``) existed, but
    nothing CALLED them.  Wire this in via ``stream_index_add``'s
    ``maintain_every`` cadence, or on a scheduler tick for batch
    adds.

    Below the threshold it costs one directory listing and returns
    ``{}`` — cheap enough for every-N-batches cadence.  Search
    results are bit-identical across a compaction (index_compact's
    contract), so the trigger point only affects cost, never
    answers.  Returns the compact report for the breached stores
    (empty when nothing breached).
    """
    stats = index_stats(spark, path)
    breached = {
        sub
        for sub, st in stats.items()
        if st["max_files_per_partition"] > max_files_per_partition
    }
    if not breached:
        return {}
    return index_compact(
        spark,
        path,
        target_records_per_file=target_records_per_file,
        stores=breached,
    )


def index_recall_check(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_probe_bits: int = 0,
    min_recall: float = 0.9,
    max_imbalance: float = 8.0,
    corpus: DataFrame | None = None,
    query_id_col: str = "query_id",
    emb_col: str = "embedding",
) -> dict:
    """RECALL-DRIFT monitor for a persisted ANN index — the one
    index-lifecycle contract nothing watched until r16:
    :func:`index_maintain` guards FILE counts, but every
    ``*_index_add`` assigns against FROZEN centroids/planes, so after
    many adds from a shifted distribution the cells grow imbalanced
    and probe recall silently degrades with zero observable change in
    answers-per-query (the probe still returns k rows — they're just
    the wrong k).  This runs the held-out ``probes`` through the
    store's own search, scores recall@k against brute-force truth
    over the store's content (:func:`ann_recall_report`), summarizes
    cell balance, and says whether the store needs retraining.

    Family is auto-detected from the store layout: ``codes`` →
    IVF-PQ (``corpus`` with raw embeddings REQUIRED — PQ codes are
    not reconstructible to full precision), ``bands`` → LSH,
    ``cells`` + quantize manifest → IVF-SQ, ``cells`` → raw IVF.
    For the self-contained families the truth corpus is read back
    from the index itself (raw cells / dequantized int8 cells /
    distinct band rows), so the check isolates exactly the
    DRIFT-induced pruning loss: quantization loss is frozen at build
    time, and with ``n_probe = n_lists`` recall is 1.0 by the probe
    contracts regardless of drift.

    Returns ``{"family", "n_queries", "mean_recall", "p10_recall",
    "min_recall_seen", "recall_breached", "balance": {"partitions",
    "max_rows", "avg_rows", "imbalance"}, "balance_breached",
    "recommend"}`` where ``imbalance = max_rows/avg_rows`` over the
    data store's partition key and ``recommend`` is ``"rebuild"``
    when either gate trips — run :func:`index_rebuild` (retraining
    centroids/codebooks over the current corpus is the repair; a
    rebuilt store searches identically to a fresh build,
    contract-tested) — or ``"ok"``.

    Scale: the truth pass is brute force over (store × probes) — run
    it on a SAMPLED probe set at a maintenance cadence, exactly like
    :func:`ann_recall_report`; the balance summary is one hash
    aggregate over the store's partition column (column-pruned scan).
    """
    import os as _os

    family = store.index_family(spark, path)
    qs = probes.select(
        F.col(query_id_col).alias("query_id"), F.col(emb_col)
    )
    if family == "ivfpq":
        store_sub, part_col = "codes", "list_id"
        if corpus is None:
            raise ValueError(
                "index_recall_check: the IVF-PQ family needs the raw"
                " corpus (PQ codes are not reconstructible) — pass"
                " corpus=<DataFrame with vec_id + embeddings>"
            )
        truth_corpus = corpus.select(
            F.col("vec_id"), F.col(emb_col).alias("embedding")
        )
        approx = ivfpq_search(
            spark, path, qs, k=k, n_probe=n_probe,
            query_id_col="query_id", emb_col=emb_col,
        )
        metric = "l2"
    elif family == "lsh":
        store_sub, part_col = "bands", "bucket"
        truth_corpus = (
            spark.read.parquet(_os.path.join(path, "bands"))
            .select("vec_id", F.col("c_emb").alias("embedding"))
            .dropDuplicates(["vec_id"])
        )
        approx = lsh_index_search(
            spark, path, qs, k=k, n_probe_bits=n_probe_bits,
            query_id_col="query_id", emb_col=emb_col,
            exclude_self=False,
        )
        metric = "cosine"
    elif family in ("ivf", "ivf_sq"):
        cells = spark.read.parquet(_os.path.join(path, "cells"))
        part_col, store_sub = "list_id", "cells"
        if family == "ivf_sq":
            truth_corpus = cells.select(
                "vec_id",
                dequantize_expr(
                    F.col("qembedding"), F.col("scale")
                ).alias("embedding"),
            )
            approx = ivf_sq_search(
                spark, path, qs, k=k, n_probe=n_probe,
                query_id_col="query_id", emb_col=emb_col,
                metric="l2", exclude_self=False,
            )
            metric = "l2"
        else:
            truth_corpus = cells.select(
                "vec_id", F.col("c_emb").alias("embedding")
            )
            approx = ivf_index_search(
                spark, path, qs, k=k, n_probe=n_probe,
                query_id_col="query_id", emb_col=emb_col,
                exclude_self=False,
            )
            metric = "cosine"
    else:
        raise ValueError(
            f"index_recall_check: no ANN data store found under {path}"
        )
    rep = ann_recall_report(
        truth_corpus,
        probes.select(
            F.col(query_id_col).alias("vec_id"),
            F.col(emb_col).alias("embedding"),
        ),
        approx,
        k=k,
        exclude_self=False,
        metric=metric,
    )
    agg = rep.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("recall").alias("mean_r"),
        F.min("recall").alias("min_r"),
        F.expr("percentile(recall, 0.1)").alias("p10"),
    ).collect()[0]
    bal = (
        spark.read.parquet(_os.path.join(path, store_sub))
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("rows"))
        .agg(
            F.count(F.lit(1)).alias("parts"),
            F.max("rows").alias("max_rows"),
            F.avg("rows").alias("avg_rows"),
        )
        .collect()[0]
    )
    imbalance = (
        float(bal["max_rows"]) / float(bal["avg_rows"])
        if bal["avg_rows"]
        else 0.0
    )
    mean_recall = float(agg["mean_r"] or 0.0)
    recall_breached = mean_recall < min_recall
    balance_breached = imbalance > max_imbalance
    return {
        "family": family,
        "n_queries": int(agg["n"]),
        "mean_recall": round(mean_recall, 6),
        "p10_recall": round(float(agg["p10"] or 0.0), 6),
        "min_recall_seen": round(float(agg["min_r"] or 0.0), 6),
        "recall_breached": recall_breached,
        "balance": {
            "partitions": int(bal["parts"]),
            "max_rows": int(bal["max_rows"] or 0),
            "avg_rows": round(float(bal["avg_rows"] or 0.0), 2),
            "imbalance": round(imbalance, 3),
        },
        "balance_breached": balance_breached,
        "recommend": (
            "rebuild" if (recall_breached or balance_breached) else "ok"
        ),
    }


def index_rebuild(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    **overrides,
) -> dict:
    """Retrain a persisted ANN index IN PLACE over ``corpus`` — the
    repair :func:`index_recall_check` recommends when drift trips its
    gates.  Family and stored structural parameters are read from the
    index itself (IVF/IVF-SQ: ``n_lists`` from the centroid manifest;
    IVF-PQ: ``n_lists`` + ``m``/``k_codes``/``residual``/rotation
    from manifests; LSH: ``n_planes``/``n_tables`` from meta), then
    the family's ``build_*`` runs with ``mode="overwrite"`` — so a
    rebuilt store searches BIT-IDENTICALLY to a fresh build over the
    same corpus (contract-tested; the builds are deterministic).
    TRAINING parameters that are not persisted (``n_iter``,
    ``codebook_init``, …) take the build's defaults; pass any of them
    — or a new ``n_lists`` for a corpus that outgrew its cell count —
    as keyword ``overrides``.

    Returns ``{"family": ..., "params": {...}}`` (the parameters the
    rebuild actually used).  Single-writer assumption as for all
    index maintenance; searches racing the overwrite should retry.
    """
    family = store.index_family(spark, path)
    if family == "ivfpq":
        meta = _read_ivfpq_meta(spark, path)
        params = {
            "n_lists": len(store.read_manifest(spark, path, "centroids")),
            "m": int(meta["m"]),
            "k_codes": int(meta["k_codes"]),
            "residual": bool(meta.get("residual", False)),
        }
        if meta.get("rotation") is not None:
            params["rotation"] = meta["rotation"]
        params.update(overrides)
        build_ivfpq_index(
            corpus, path, id_col=id_col, emb_col=emb_col,
            mode="overwrite", **params,
        )
        return {"family": "ivfpq", "params": params}
    if family == "lsh":
        meta = store.read_manifest(spark, path, "meta")
        params = {
            "n_planes": int(meta["n_planes"]),
            "n_tables": int(meta["n_tables"]),
        }
        params.update(overrides)
        build_lsh_index(
            corpus, path, id_col=id_col, emb_col=emb_col,
            mode="overwrite", **params,
        )
        return {"family": "lsh", "params": params}
    if family in ("ivf", "ivf_sq"):
        params = {
            "n_lists": len(store.read_manifest(spark, path, "centroids"))
        }
        params.update(overrides)
        builder = build_ivf_sq_index if family == "ivf_sq" else build_ivf_index
        builder(
            corpus, path, id_col=id_col, emb_col=emb_col,
            mode="overwrite", **params,
        )
        return {"family": family, "params": params}
    raise ValueError(
        f"index_rebuild: no ANN data store found under {path}"
    )


def index_remove(spark, path: str, ids, id_col: str | None = None) -> dict:
    """Remove documents/vectors from a persisted index IN PLACE — the
    retraction / right-to-be-forgotten half of the maintenance loop
    (:func:`index_compact` repairs file counts, :func:`index_stats`
    observes, this removes content).  Works on every store layout in
    ``store.INDEX_DATA_LAYOUT`` (ivf/ivf_sq ``cells``, ivfpq
    ``codes``, lsh ``bands``, minhash ``mbands``, text ``postings`` /
    ``doclens``); manifests (centroids / planes /
    codebooks / minhash params) are untouched — they are trained
    artifacts, not per-row state, so post-remove search behaves
    exactly as pre-remove search with the removed ids absent from
    every candidate set (contract-tested; for the corpus-independent
    manifests — LSH planes, MinHash params — remove-then-probe is
    BIT-IDENTICAL to a rebuild over the remaining corpus).

    ``ids`` is a single-column DataFrame or a Python list (an empty
    list reports zero removals without running a Spark job).
    ``id_col`` defaults per store to whichever of ``vec_id`` /
    ``doc_id`` the store carries.

    Scale shape: one column-pruned scan of the store's id column
    semi-joined to the removal set finds the TOUCHED partition
    directories (bounded by the dir count); only those partitions are
    re-written (Spark dynamic partition overwrite, materialized via
    localCheckpoint before the write because the plan reads the files
    it replaces — same rule as ``stream_upsert_parquet``); partitions
    whose every row is removed are deleted explicitly (dynamic
    overwrite only touches partitions present in the written data).
    For mass deletions (a large fraction of the corpus), prefer a
    rebuild — this op is sized for retraction batches.  Crash window:
    per-partition parquet overwrite is not atomic; re-running the
    same removal converges (the anti-join is idempotent).

    Returns ``{store: {"rows_removed": n, "partitions_rewritten": k,
    "partitions_deleted": m}}``.
    """
    import os as _os

    zero = {"rows_removed": 0, "partitions_rewritten": 0, "partitions_deleted": 0}
    if not isinstance(ids, DataFrame):
        ids = [(i,) for i in ids]
        if not ids:
            # nothing to remove (and no schema to infer): run no job
            return {
                sub: dict(zero)
                for sub in store.INDEX_DATA_LAYOUT
                if store.exists(spark, _os.path.join(path, sub))
            }
        ids = local_table(
            spark, ids, spark._inferSchemaFromList(ids, names=["__rm_id"])
        )
    else:
        ids = ids.select(F.col(ids.columns[0]).alias("__rm_id"))
    ids = F.broadcast(ids.distinct())

    report: dict = {}
    for sub, part_cols in store.INDEX_DATA_LAYOUT.items():
        data = _os.path.join(path, sub)
        if not store.exists(spark, data):
            continue
        sdf = spark.read.parquet(data)
        rid = id_col or ("vec_id" if "vec_id" in sdf.columns else "doc_id")
        hit = sdf.join(ids, on=sdf[rid] == F.col("__rm_id"), how="inner")
        touched = [
            tuple(r[c] for c in part_cols)
            for r in hit.select(*part_cols).distinct().collect()
        ]
        n_removed = hit.count()
        if not touched:
            report[sub] = dict(zero)
            continue
        def _part_pred(parts):
            p = None
            for t in parts:
                clause = None
                for c, v in zip(part_cols, t):
                    eq = F.col(c) == F.lit(v)
                    clause = eq if clause is None else (clause & eq)
                p = clause if p is None else (p | clause)
            return p

        kept = (
            sdf.filter(_part_pred(touched))
            .join(ids, on=sdf[rid] == F.col("__rm_id"), how="left_anti")
            .localCheckpoint(eager=True)
        )
        kept_parts = {
            tuple(r[c] for c in part_cols)
            for r in kept.select(*part_cols).distinct().collect()
        }
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if kept_parts:
                # kept already contains only touched partitions; write
                # it all back — dynamic mode replaces exactly the
                # partitions present in the data
                (
                    kept.write.mode("overwrite")
                    .partitionBy(*part_cols)
                    .parquet(data)
                )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev
            )
        emptied = [t for t in touched if t not in kept_parts]
        for t in emptied:
            store.delete(
                spark,
                _os.path.join(data, *[f"{c}={v}" for c, v in zip(part_cols, t)]),
            )
        if emptied and not kept_parts:
            # Full-retraction guard (ADVICE r14): if every row of the
            # store was removed, the partition-dir deletions above can
            # leave a store with ZERO data files — and every reader
            # (minhash_index_add(dedupe=True), minhash_index_duplicates,
            # index searches, the streaming duty cycle) would then die
            # with 'Unable to infer schema for Parquet'.  Leave a
            # readable zero-row marker file INSIDE one partition
            # directory (a root-level file would conflict with partition
            # discovery on the next add), so the store reads back as
            # schema-stable and empty.
            if next(store.parquet_files(spark, data), None) is None:
                from pyspark.sql.types import StructType

                t0 = emptied[0]
                d0 = _os.path.join(
                    data, *[f"{c}={v}" for c, v in zip(part_cols, t0)]
                )
                data_schema = StructType(
                    [f for f in sdf.schema.fields if f.name not in part_cols]
                )
                local_table(spark, [], data_schema).write.mode(
                    "overwrite"
                ).parquet(d0)
        report[sub] = {
            "rows_removed": n_removed,
            "partitions_rewritten": len(kept_parts),
            "partitions_deleted": len(emptied),
        }
    return report
