"""Full-text relevance search over the documents table: BM25 top-k.

Scale-extension operator (no reference counterpart — the reference is a
graph-frame library).  Design rules match the rest of ``functions/``:
pure JVM column expressions, uniform-keyed shuffles, float determinism
via per-term rounding + exact DECIMAL summation so the DuckDB oracle
hash-matches.

Every ranking here ends in the one ranked cut,
:func:`~networkframe_spark.functions.stats._top_k` (score descending,
ties to the lower id): its global form for a single query, its
per-query form for batches and RRF fusion.  The vector leg of
:func:`hybrid_search_batch` scores through
:func:`~networkframe_spark.functions.similarity.pair_score`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table
from ..store import (
    check_family,
    delete,
    exists,
    index_family,
    read_manifest,
    subdirs,
    write_manifest,
)
from .stats import _top_k
from .text import tokens_col


def bm25_top_docs(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    tokenizer: str = "ws",
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query under BM25:

        score(d) = sum_t  idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))        (Robertson/Lucene)

    Returns ``(id_col, score, rank)``, rank 1..k ordered by
    (score desc, id asc).

    Plan: one explode filtered to the query's terms (the filter prunes
    the exploded stream before any shuffle, so cost is ~one scan +
    |matching postings|), per-(doc,term) hash-agg for tf, a tiny
    per-term document-frequency aggregate that AQE broadcasts back, one
    per-doc sum, then a distributed top-k: ``orderBy(...).limit(k)``
    (Spark's TakeOrdered — per-partition heaps, never a global
    single-partition sort) followed by a rank window over only the k
    surviving rows.  A query containing a corpus-common term therefore
    never funnels the whole match set through one task.

    Determinism: per-term scores are rounded to 6 dp, summed through
    DECIMAL(38,12) (exact, order-independent), and the total rounded to
    6 dp — bit-reproducible at any parallelism and engine-portable
    (``avgdl`` is an exact-integer-sum / count double division).
    """
    terms = _expand_query_terms(
        df.sparkSession, [t.lower() for t in query_terms], tokenizer
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        tokens_col(text_col, mode=tokenizer).alias("t"),
    )
    lens = toks.select("id", F.size("t").alias("dl"))
    tot = lens.agg(
        F.sum("dl").alias("sdl"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_docs = tot["n"]
    if n_docs == 0:
        return local_table(
            df.sparkSession, [], f"{id_col} long, score double, rank int"
        )
    avgdl = tot["sdl"] / n_docs
    tf = (
        toks.select("id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), on="term")
        .join(lens, on="id")
        .select(
            "id",
            F.round(
                idf
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                ),
                6,
            )
            .cast("decimal(38,12)")
            .alias("ts"),
        )
    )
    scored = per_term.groupBy("id").agg(
        F.round(F.sum("ts").cast("double"), 6).alias("score")
    )
    return _top_k(scored, k, [], [F.desc("score"), F.asc("id")]).select(
        F.col("id").alias(id_col), "score", "rank"
    )


def _text_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_kmod: int,
    positions: bool = False,
    tokenizer: str = "ws",
) -> tuple[DataFrame, DataFrame]:
    """Shared build/add tokenization → (postings, doclens).

    Postings carry ``(term, doc_id, tf, dl, kmod)`` — document length
    is DENORMALIZED into every posting row so a probe never joins a
    lengths table (the classic impact-ordered-postings trade: one
    extra int per posting buys a join-free score).  ``kmod =
    pmod(xxhash64(term), n_kmod)`` folds the unbounded term space
    into a bounded partition-directory space, the same convention as
    the MinHash store's band keys — build, add, and probe all use
    this ONE expression, so they can never drift.

    ``positions=True`` adds a ``pos array<int>`` column: the term's
    1-based token positions within the doc, SORTED (``sort_array``
    canonicalizes the collect order, preserving the add ≡ rebuild
    bit-identity contract under any parallelism) — the positional
    layout phrase search needs.  Standard positional-index trade:
    postings grow by ~one int per occurrence."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col, mode=tokenizer).alias("t"),
    )
    doclens = toks.select("doc_id", F.size("t").alias("dl"))
    if positions:
        agg = (
            toks.select(
                "doc_id",
                F.size("t").alias("dl"),
                F.posexplode("t").alias("p0", "term"),
            )
            .groupBy("doc_id", "dl", "term")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.sort_array(
                    F.collect_list((F.col("p0") + F.lit(1)).cast("int"))
                ).alias("pos"),
            )
        )
        extra = ["pos"]
    else:
        agg = (
            toks.select(
                "doc_id",
                F.size("t").alias("dl"),
                F.explode("t").alias("term"),
            )
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        extra = []
    postings = agg.select(
        "term",
        "doc_id",
        "tf",
        "dl",
        *extra,
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_kmod)).alias("kmod"),
    )
    return postings, doclens


def _text_id_type(spark, path: str) -> str:
    """The stored doc-id type, from the ``doclens`` store's parquet
    footer (one schema read, no data scan).  Empty-result branches use
    this so an index built over STRING doc ids returns the same schema
    from the empty-terms/empty-index path as from the normal path —
    hardcoding ``long`` there would break downstream unions (e.g.
    :func:`rrf_fuse` fusing an empty lexical leg with a string-id
    vector leg; ADVICE r15)."""
    import os as _os

    return (
        spark.read.parquet(_os.path.join(path, "doclens"))
        .schema["doc_id"]
        .dataType.simpleString()
    )


def _expand_query_terms(spark, terms, tokenizer: str) -> list:
    """Expand query-term strings through the SAME tokenizer expression
    the corpus was tokenized with (a tiny |terms|-row Spark job — no
    Python re-implementation, so query and corpus can never drift).
    Order-preserving: a phrase term's n-grams stay consecutive, which
    phrase search depends on.  ``"ws"`` is the identity."""
    if tokenizer == "ws" or not terms:
        return list(terms)
    tdf = local_table(
        spark, [(i, t) for i, t in enumerate(terms)], "i int, term string"
    )
    rows = tdf.select(
        "i",
        F.posexplode(tokens_col("term", mode=tokenizer)).alias("p", "tok"),
    ).collect()
    return [r["tok"] for r in sorted(rows, key=lambda r: (r["i"], r["p"]))]


def build_text_index(
    corpus: DataFrame,
    path: str,
    n_kmod: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "error",
    positions: bool = False,
    tokenizer: str = "ws",
) -> dict:
    """Build and persist an INVERTED TEXT INDEX — the sixth persisted
    index family (IVF / IVF-SQ / IVF-PQ / LSH / MinHash are the other
    five), giving lexical search the same transient-vs-persisted
    treatment: :func:`bm25_top_docs` re-explodes, re-counts df, and
    re-scores the whole corpus on EVERY call — at 100 TB that is a
    full-corpus scan per query batch — while this index tokenizes
    once offline and every online probe is a partition-pruned scan of
    only the ``kmod`` directories the query's terms hash into.

    Layout under ``path``:

    - ``postings/`` — ``(term, doc_id, tf, dl)`` PARTITIONED BY
      ``kmod`` (``pmod(xxhash64(term), n_kmod)``), sorted by
      ``(term, doc_id)`` within files so parquet row-group min/max
      stats prune the term filter inside each directory;
    - ``doclens/`` — ``(doc_id, dl)`` PARTITIONED BY ``dmod``
      (same hash fold over doc ids): the membership table the add
      dedupe guard probes and :func:`text_index_refresh_stats`
      recomputes corpus stats from;
    - ``meta/`` — json ``{n_kmod, n_docs, sdl}``; ``n_docs`` and
      ``sdl`` (exact integer total token count) make ``avgdl`` and
      the idf's N available without touching data — adds update them
      with exact integer deltas, so an incrementally-grown index
      scores BIT-IDENTICALLY to a fresh rebuild (contract-tested).

    Document frequency is deliberately NOT stored: a probe reads
    every posting of its query terms anyway, so ``df`` is one
    hash-agg over the pruned read — and it therefore self-heals
    under :func:`~networkframe_spark.functions.similarity.
    index_remove` with no stored-stat invalidation.  The lifecycle
    tools know this layout (``networkframe_spark.store.
    INDEX_DATA_LAYOUT``): ``index_stats``
    / ``index_compact`` / ``index_remove`` / ``index_maintain`` all
    work; after a remove, run :func:`text_index_refresh_stats` to
    re-derive ``(n_docs, sdl)`` from ``doclens`` (remove + refresh ≡
    rebuild, contract-tested).

    Returns the meta dict.
    """
    import os as _os

    postings, doclens = _text_postings(
        corpus, id_col, text_col, n_kmod, positions, tokenizer
    )
    (
        postings.repartition(F.col("kmod"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode(mode)
        .partitionBy("kmod")
        .parquet(_os.path.join(path, "postings"))
    )
    (
        doclens.withColumn(
            "dmod", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_kmod))
        )
        .repartition(F.col("dmod"))
        .sortWithinPartitions("doc_id")
        .write.mode(mode)
        .partitionBy("dmod")
        .parquet(_os.path.join(path, "doclens"))
    )
    tot = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    ).collect()[0]
    meta = {
        "n_kmod": n_kmod,
        "n_docs": int(tot["n"]),
        "sdl": int(tot["sdl"] or 0),
        "positions": bool(positions),
        "tokenizer": tokenizer,
    }
    write_manifest(corpus.sparkSession, path, "meta", meta, mode)
    return meta


def text_index_repair(spark, path: str) -> int:
    """Converge a text index left mid-add by a crash — the recovery
    half of :func:`text_index_add`'s pending-marker protocol.  An add
    runs marker-write → postings-append → doclens-append →
    meta-update → marker-delete; ``doclens`` membership is the COMMIT
    record (the dedupe guard probes it), so a crash between the two
    appends leaves ORPHANED postings — rows whose doc is in
    ``postings`` but not ``doclens``.  A naive replay would then
    re-append those docs' postings, silently doubling their tf/df and
    corrupting BM25 scores.

    For every pending marker this (a) finds the marker's docs that
    never reached ``doclens`` (a ``dmod``-pruned membership probe),
    (b) retracts their orphaned postings rows via
    :func:`~networkframe_spark.functions.similarity.index_remove`
    (touched-partition rewrite — rare-path cost only), (c) refreshes
    ``meta`` from ``doclens`` (idempotent exact-integer recompute,
    healing the crash-after-doclens-before-meta window), then (d)
    deletes the marker.  Every crash point therefore converges to
    either "batch fully absent" (the replay re-ingests it cleanly) or
    "batch fully present" (the dedupe guard skips it) — the
    exactly-once-content claim holds through ANY single crash +
    replay (contract-tested).  Runs automatically at the start of
    every :func:`text_index_add`; call directly after a crash if no
    further adds are scheduled.  Single-writer assumption as for all
    index maintenance.  Returns the number of markers processed."""
    import os as _os

    pend = _os.path.join(path, "_pending")
    if not exists(spark, pend):
        return 0
    markers = subdirs(spark, pend)
    if not markers:
        return 0
    from .similarity import index_remove

    meta = read_manifest(spark, path, "meta")
    n_kmod = int(meta["n_kmod"])
    for m in markers:
        try:
            batch_ids = spark.read.parquet(
                _os.path.join(m, "docs")
            ).localCheckpoint(eager=True)
        except Exception:
            # Marker write itself crashed midway → nothing was
            # appended yet (the marker is written BEFORE any append);
            # just drop the partial marker.
            delete(spark, m)
            continue
        dmods = [
            r["d"]
            for r in batch_ids.select(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_kmod)).alias("d")
            )
            .distinct()
            .collect()
        ]
        seen = (
            spark.read.parquet(_os.path.join(path, "doclens"))
            .filter(F.col("dmod").isin(dmods))
            .select("doc_id")
        )
        orphans = batch_ids.join(seen, on="doc_id", how="left_anti")
        if orphans.limit(1).count() > 0:
            index_remove(spark, path, orphans, id_col="doc_id")
        text_index_refresh_stats(spark, path)
        delete(spark, m)
    return len(markers)


def text_index_add(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedupe: bool = True,
) -> int:
    """Incremental text-index maintenance: tokenize ``new_docs`` with
    the STORED parameters and append postings/doclens into the
    partition directories — nothing existing is read (beyond the
    dedupe guard's pruned membership probe) or rewritten; corpus
    stats in ``meta`` are updated with exact integer deltas, so
    add-then-search ≡ rebuild-then-search bit-identically.

    ``dedupe=True`` (the streaming at-least-once retry guard)
    anti-joins the batch against ``doclens`` membership, reading only
    the ``dmod`` directories the batch's ids hash into — a replayed
    micro-batch appends ZERO rows, the same exactly-once-content
    argument as every other ``*_index_add``.  Because the guard
    probes only ``doclens``, a crash BETWEEN the postings and doclens
    appends would otherwise let a replay duplicate the batch's
    postings: each add therefore writes a pending marker (the batch's
    doc ids, under ``path/_pending/<token>/``) before appending and
    deletes it after the meta update, and every add first runs
    :func:`text_index_repair`, which retracts orphaned postings any
    prior marker left behind — making retries CONVERGENT through any
    single crash point (contract-tested).

    Returns the number of documents actually ingested."""
    import os as _os
    import uuid as _uuid

    check_family(spark, path, "text", "text_index_add")
    text_index_repair(spark, path)
    meta = read_manifest(spark, path, "meta")
    n_kmod = int(meta["n_kmod"])
    docs = new_docs
    if dedupe:
        dmods = [
            r["d"]
            for r in new_docs.select(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_kmod)).alias("d")
            )
            .distinct()
            .collect()
        ]
        if dmods:
            seen = (
                spark.read.parquet(_os.path.join(path, "doclens"))
                .filter(F.col("dmod").isin(dmods))
                .select(F.col("doc_id").alias(id_col))
            )
            docs = new_docs.join(seen, on=id_col, how="left_anti")
    postings, doclens = _text_postings(
        docs, id_col, text_col, n_kmod,
        positions=bool(meta.get("positions", False)),
        tokenizer=meta.get("tokenizer", "ws"),
    )
    doclens = doclens.localCheckpoint(eager=True)
    tot = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    ).collect()[0]
    n_new = int(tot["n"])
    if n_new == 0:
        return 0
    marker = _os.path.join(path, "_pending", _uuid.uuid4().hex)
    (
        doclens.select("doc_id")
        .coalesce(1)
        .write.mode("error")
        .parquet(_os.path.join(marker, "docs"))
    )
    (
        postings.repartition(F.col("kmod"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("append")
        .partitionBy("kmod")
        .parquet(_os.path.join(path, "postings"))
    )
    (
        doclens.withColumn(
            "dmod", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_kmod))
        )
        .write.mode("append")
        .partitionBy("dmod")
        .parquet(_os.path.join(path, "doclens"))
    )
    meta["n_docs"] = int(meta["n_docs"]) + n_new
    meta["sdl"] = int(meta["sdl"]) + int(tot["sdl"] or 0)
    write_manifest(spark, path, "meta", meta, "overwrite")
    delete(spark, marker)
    return n_new


def text_index_refresh_stats(spark, path: str) -> dict:
    """Re-derive the corpus stats ``(n_docs, sdl)`` from the
    ``doclens`` store and rewrite ``meta`` — the companion to
    :func:`~networkframe_spark.functions.similarity.index_remove`
    (which deletes postings/doclens rows but cannot know this
    family's meta contract).  One column-pruned scan of the doc-count
    -sized doclens table — never the postings.  remove + refresh ≡
    rebuild over the remaining corpus, bit-identically
    (contract-tested)."""
    import os as _os

    meta = read_manifest(spark, path, "meta")
    tot = (
        spark.read.parquet(_os.path.join(path, "doclens"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
        .collect()[0]
    )
    meta["n_docs"] = int(tot["n"])
    meta["sdl"] = int(tot["sdl"] or 0)
    write_manifest(spark, path, "meta", meta, "overwrite")
    return meta


def text_index_search(
    spark,
    path: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-``k`` against a persisted inverted index — the probe
    half of :func:`build_text_index`.  Scoring (idf formula, 6-dp
    per-term rounding, exact DECIMAL summation, tie-breaks) is
    IDENTICAL to :func:`bm25_top_docs`, so index search ≡ transient
    search bit-for-bit on the same corpus (contract-tested); only the
    COST differs: the transient path scans and tokenizes the whole
    corpus per call, this path reads the query terms' ``kmod``
    partition directories and nothing else.

    Plan shape: the query's terms hash to their ``kmod`` values with
    the same ``pmod(xxhash64(...))`` expression the build used (a
    tiny |terms|-row Spark job — bit-equal by construction, no Python
    re-implementation of the hash), the postings scan carries
    ``kmod IN (...) AND term IN (...)`` (directory prune + row-group
    min/max prune over the term-sorted files), ``df`` is one hash-agg
    over that pruned read broadcast back, and the top-k is
    distributed TakeOrdered + a bounded k-row rank window — the
    same never-a-global-window shape as the transient path."""
    import os as _os

    meta = read_manifest(spark, path, "meta")
    n_kmod = int(meta["n_kmod"])
    n_docs = int(meta["n_docs"])
    if n_docs == 0 or not query_terms:
        return local_table(
            spark, [], f"{id_col} {_text_id_type(spark, path)}, score double,"
            " rank int"
        )
    avgdl = int(meta["sdl"]) / n_docs
    terms = sorted(
        set(
            _expand_query_terms(
                spark,
                [t.lower() for t in query_terms],
                meta.get("tokenizer", "ws"),
            )
        )
    )
    tdf = local_table(spark, [(t,) for t in terms], "term string")
    kmods = sorted(
        {
            r["km"]
            for r in tdf.select(
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_kmod)).alias("km")
            ).collect()
        }
    )
    tf = spark.read.parquet(_os.path.join(path, "postings")).filter(
        F.col("kmod").isin(kmods) & F.col("term").isin(terms)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    per_term = tf.join(F.broadcast(dfreq), on="term").select(
        F.col("doc_id").alias("id"),
        F.round(
            idf
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
            6,
        )
        .cast("decimal(38,12)")
        .alias("ts"),
    )
    scored = per_term.groupBy("id").agg(
        F.round(F.sum("ts").cast("double"), 6).alias("score")
    )
    return _top_k(scored, k, [], [F.desc("score"), F.asc("id")]).select(
        F.col("id").alias(id_col), "score", "rank"
    )


def text_index_phrase_search(
    spark,
    path: str,
    phrase: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact PHRASE top-``k`` against a POSITIONAL text index
    (:func:`build_text_index` with ``positions=True``): documents
    where the phrase's terms occur at consecutive token positions, in
    order — the query a search user types the moment bag-of-terms
    BM25 mis-ranks ("new york" ≠ "york new").

    Matching is pure position arithmetic over the stored postings:
    the phrase's start positions in a doc are
    ``intersect_i (pos(term_i) - i)`` — fold ``array_intersect`` over
    per-term position arrays shifted by their phrase offset; a
    non-empty result is a match and its SIZE is the phrase term
    frequency.  Scoring treats the phrase as one virtual term with
    Lucene PhraseQuery semantics: BM25 over ``tf = phrase
    occurrences`` and ``df = docs matching the phrase``, same idf
    formula / 6-dp rounding / tie-breaks as :func:`text_index_search`.

    Returns ``(id_col, score, rank)``, rank 1..k by
    (score desc, id asc).

    Plan shape: the probe reads ONLY the phrase terms' ``kmod``
    partition directories (same directory + row-group prune as the
    bag-of-terms probe — plan-asserted), folds positions per doc in
    one keyed hash aggregate (docs missing any phrase term drop via a
    count pre-filter; the map-lookup fold nulls out on absent terms
    as defense in depth), broadcasts the 1-row phrase-df aggregate,
    and finishes with the distributed TakeOrdered + k-row rank
    window.  No corpus scan, no global window, no Python evaluation.
    """
    import os as _os

    meta = read_manifest(spark, path, "meta")
    if not meta.get("positions", False):
        raise ValueError(
            "text_index_phrase_search: index was built without"
            " positions — rebuild with build_text_index(...,"
            " positions=True)"
        )
    n_kmod = int(meta["n_kmod"])
    n_docs = int(meta["n_docs"])
    terms = _expand_query_terms(
        spark, [t.lower() for t in phrase], meta.get("tokenizer", "ws")
    )
    if n_docs == 0 or not terms:
        return local_table(
            spark, [], f"{id_col} {_text_id_type(spark, path)}, score double,"
            " rank int"
        )
    uniq = sorted(set(terms))
    tdf = local_table(spark, [(t,) for t in uniq], "term string")
    kmods = sorted(
        {
            r["km"]
            for r in tdf.select(
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_kmod)).alias("km")
            ).collect()
        }
    )
    tf = spark.read.parquet(_os.path.join(path, "postings")).filter(
        F.col("kmod").isin(kmods) & F.col("term").isin(uniq)
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        F.count(F.lit(1)).alias("nt"),
        F.map_from_entries(
            F.collect_list(F.struct("term", "pos"))
        ).alias("m"),
    ).filter(F.col("nt") == F.lit(len(uniq)))
    def _shift_by(offset: int):
        # MUST stay a 1-arg lambda: F.transform feeds a 2-arg lambda
        # (element, array_index) — a default-arg capture would be
        # silently treated as the index parameter
        return lambda x: x - F.lit(offset)

    starts = F.col("m").getItem(terms[0])
    for i, t in enumerate(terms[1:], start=1):
        starts = F.array_intersect(
            starts, F.transform(F.col("m").getItem(t), _shift_by(i))
        )
    matched = (
        per_doc.select(
            "doc_id", "dl", F.size(starts).alias("ptf")
        )
        .filter(F.col("ptf") > 0)
    )
    dfc = matched.agg(F.count(F.lit(1)).alias("df_p"))
    avgdl = int(meta["sdl"]) / n_docs
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df_p") + F.lit(0.5))
        / (F.col("df_p") + F.lit(0.5))
    )
    scored = matched.crossJoin(F.broadcast(dfc)).select(
        F.col("doc_id").alias("id"),
        F.round(
            idf
            * (F.col("ptf") * F.lit(k1 + 1.0))
            / (
                F.col("ptf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
            6,
        ).alias("score"),
    )
    return _top_k(scored, k, [], [F.desc("score"), F.asc("id")]).select(
        F.col("id").alias(id_col), "score", "rank"
    )


def text_index_search_batch(
    spark,
    queries: DataFrame,
    path: str,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-``k`` per query for a BATCH of queries against the
    persisted inverted index — the retrieval-run shape
    (``queries`` = ``(query_id, terms array<string>)``) whose output
    feeds :func:`rrf_fuse` ``(query_col=...)`` for hybrid
    lexical+vector fusion.  Per-query scoring is IDENTICAL to
    :func:`text_index_search` (same idf, rounding, DECIMAL summation,
    tie-breaks), so batch ≡ per-query loop bit-for-bit
    (contract-tested); the batch pays ONE pruned postings scan for
    the union of all query terms instead of one scan per query.

    Plan shape: the query set explodes into distinct (query_id, term)
    probes; the union of terms prunes the postings read exactly as
    the single-query path (``kmod IN`` directory prune computed with
    the same ``pmod(xxhash64)`` expression, ``term IN`` row-group
    prune); ``df`` per term is ONE hash-agg over the pruned read
    (term df is query-independent, so it is computed once for the
    batch); per-(query, doc) scores aggregate keyed on (query_id,
    id); the top-k is a query-keyed window — bounded per group,
    NEVER global.  The query side is a broadcast-sized term list by
    construction (a retrieval batch, not a corpus); batches beyond
    ~millions of terms should chunk.

    Returns ``(query_id, id_col, score, rank)``, rank 1..k per query
    ordered by (score desc, id asc)."""
    import os as _os

    meta = read_manifest(spark, path, "meta")
    n_kmod = int(meta["n_kmod"])
    n_docs = int(meta["n_docs"])
    tok_mode = meta.get("tokenizer", "ws")
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(terms_col).alias("term"),
    ).select("query_id", F.lower(F.col("term")).alias("term"))
    if tok_mode != "ws":
        # bag-of-terms: re-tokenize each query term with the stored
        # corpus tokenizer (order is irrelevant here, unlike phrase)
        qt = qt.select(
            "query_id",
            F.explode(tokens_col(F.col("term"), mode=tok_mode)).alias(
                "term"
            ),
        )
    qt = qt.distinct()
    if n_docs == 0:
        return local_table(
            spark,
            [],
            f"query_id {queries.schema[query_id_col].dataType.simpleString()},"
            f" {id_col} {_text_id_type(spark, path)}, score double, rank int",
        )
    avgdl = int(meta["sdl"]) / n_docs
    # term union for the pruned scan: collected driver-side (a
    # retrieval batch's distinct term count is bounded by construction)
    term_rows = (
        qt.select(
            "term",
            F.pmod(F.xxhash64(F.col("term")), F.lit(n_kmod)).alias("km"),
        )
        .distinct()
        .collect()
    )
    if not term_rows:
        return local_table(
            spark,
            [],
            f"query_id {queries.schema[query_id_col].dataType.simpleString()},"
            f" {id_col} {_text_id_type(spark, path)}, score double, rank int",
        )
    terms = sorted({r["term"] for r in term_rows})
    kmods = sorted({r["km"] for r in term_rows})
    tf = spark.read.parquet(_os.path.join(path, "postings")).filter(
        F.col("kmod").isin(kmods) & F.col("term").isin(terms)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), on="term")
        .join(F.broadcast(qt), on="term")
        .select(
            "query_id",
            F.col("doc_id").alias("id"),
            F.round(
                idf
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                ),
                6,
            )
            .cast("decimal(38,12)")
            .alias("ts"),
        )
    )
    scored = per_term.groupBy("query_id", "id").agg(
        F.round(F.sum("ts").cast("double"), 6).alias("score")
    )
    order = [F.desc("score"), F.asc("id")]
    return _top_k(scored, k, ["query_id"], order).select(
        "query_id", F.col("id").alias(id_col), "score", "rank"
    )


def hybrid_search_batch(
    spark,
    queries: DataFrame,
    text_index_path: str,
    vector_index_path: str,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    emb_col: str = "embedding",
    k: int = 10,
    lexical_k: int = 100,
    vector_k: int = 100,
    rrf_k: int = 60,
    n_probe_bits: int = 0,
    exclude_self: bool = False,
    id_col: str = "doc_id",
    n_probe: int = 4,
    vector_metric: str = "l2",
) -> DataFrame:
    """Hybrid lexical + vector retrieval against TWO persisted
    indexes — the complete RAG-retrieval duty cycle in one call:
    per-query BM25 top-``lexical_k`` from the inverted text index
    (:func:`text_index_search_batch`), per-query top-``vector_k``
    from a persisted vector index, fused per query with
    reciprocal-rank fusion (:func:`rrf_fuse`, the zero-tuning
    combiner).  ``queries`` carries one row per query:
    ``(query_id, terms array<string>, embedding array)``.

    The vector leg is the family of the store under
    ``vector_index_path`` (:func:`~networkframe_spark.store.index_family`,
    existence checks only for lsh and ivfpq; an int8 cell store also
    reads its centroid manifest) — the three persisted families that
    carry a batch probe:

    - ``"lsh"`` —
      :func:`~networkframe_spark.functions.similarity.lsh_index_search`,
      cosine multi-probe via ``n_probe_bits``;
    - ``"ivf_sq"`` —
      :func:`~networkframe_spark.functions.similarity.ivf_sq_search`,
      int8-quantized cells (8× smaller store — the memory answer at
      100 TB), ``n_probe`` cells per query,
      ``vector_metric`` ``"l2"``/``"cosine"``;
    - ``"ivfpq"`` —
      :func:`~networkframe_spark.functions.similarity.ivfpq_search`,
      PQ ADC scoring (m-byte codes, 4-32× smaller), ``n_probe``
      cells per query (l2-rank by construction; ``exclude_self`` is
      not supported on this leg — PQ probes have no self notion).

    A store of any other family raises ``ValueError`` naming it.

    Each leg contributes only its RANKS to the fusion, so swapping
    the vector family never changes the fusion arithmetic — the
    result is ``rrf_fuse(lexical leg, chosen vector leg)``
    bit-for-bit (contract-tested against hand-composed legs for all
    three families).

    Returns ``(query_id, id_col, n_lists, rrf_score, fused_rank)``,
    ``fused_rank`` 1..k per query (rrf_score desc, id asc).

    Scale design is inherited, not new: BOTH legs are partition-pruned
    probes of offline-built stores (kmod dirs for terms, (table,
    bucket) dirs for LSH signatures, list_id dirs for IVF cells) — no
    corpus scan anywhere — and the fusion is one union + one
    (query, id)-keyed hash aggregate + a query-keyed rank window
    (never global).  The two legs share nothing and Spark schedules
    their stages independently.  Determinism: each leg's ranks are
    deterministic (6-dp rounded scores / DECIMAL ADC sums, id
    tie-breaks), and RRF sums 12-dp reciprocal terms through
    DECIMAL(38,12) — bit-reproducible at any parallelism.
    """
    family = index_family(spark, vector_index_path)
    lex = text_index_search_batch(
        spark,
        queries.select(query_id_col, terms_col),
        text_index_path,
        query_id_col=query_id_col,
        terms_col=terms_col,
        k=lexical_k,
        id_col=id_col,
    ).select(F.col("query_id"), F.col(id_col), F.col("rank"))
    if family == "lsh":
        from .similarity import lsh_index_search

        vec = lsh_index_search(
            spark,
            vector_index_path,
            queries.select(query_id_col, emb_col),
            k=vector_k,
            n_probe_bits=n_probe_bits,
            query_id_col=query_id_col,
            emb_col=emb_col,
            exclude_self=exclude_self,
        )
    elif family == "ivf_sq":
        from .similarity import ivf_sq_search

        vec = ivf_sq_search(
            spark,
            vector_index_path,
            queries.select(query_id_col, emb_col),
            k=vector_k,
            n_probe=n_probe,
            query_id_col=query_id_col,
            emb_col=emb_col,
            metric=vector_metric,
            exclude_self=exclude_self,
        )
    elif family == "ivfpq":
        if exclude_self:
            raise ValueError(
                "hybrid_search_batch: exclude_self is not supported on an"
                " ivfpq store (PQ probes carry no self notion);"
                " retrieve with external query ids"
            )
        from .similarity import ivfpq_search

        vec = ivfpq_search(
            spark,
            vector_index_path,
            queries.select(query_id_col, emb_col),
            k=vector_k,
            n_probe=n_probe,
            query_id_col=query_id_col,
            emb_col=emb_col,
        )
    else:
        raise ValueError(
            f"hybrid_search_batch: {vector_index_path} holds a {family}"
            " index; the vector leg needs an lsh, ivf_sq or ivfpq store"
        )
    vec = vec.select(
        F.col("query_id"), F.col("vec_id").alias(id_col), F.col("rank")
    )
    return rrf_fuse(
        [lex, vec],
        id_col=id_col,
        rank_col="rank",
        k=rrf_k,
        query_col="query_id",
        top_k=k,
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    query_col: str | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked
    retrieval lists: ``rrf = sum_i 1 / (k + rank_i)`` over the lists
    an id appears in — the standard zero-tuning way to combine
    lexical (BM25) and vector (cosine top-k) rankings.  Returns
    ``(id_col, n_lists, rrf_score)``, score at 6 dp, ordered by
    nothing (callers sort).

    ``query_col``: when the rankings are PER-QUERY (a retrieval run
    over many queries, ranks starting at 1 within each query), name
    the query column — fusion then groups by (query, id) and adds a
    ``fused_rank`` (score desc, id asc tie-break) per query;
    ``top_k`` truncates each query's fused list.

    Determinism: each reciprocal term is rounded to 12 dp and summed
    as DECIMAL(38,12) — order-independent regardless of how the
    union's partitions merge; the fused order ties on the exact
    decimal score are broken by id.

    Scale design: a union + ONE hash aggregate on the (query, id)
    key; list count N is a small constant, so the union is linear in
    total ranked rows.  The only window is query-keyed (never
    global); without ``query_col`` there is no window at all.
    """
    if not ranked:
        raise ValueError("rrf_fuse: no ranked lists given")
    keys = ([query_col] if query_col else []) + [id_col]
    parts = [
        df.select(
            *[F.col(c) for c in keys],
            F.round(
                F.lit(1.0) / (F.lit(k) + F.col(rank_col)), 12
            ).cast("decimal(38,12)").alias("__term"),
        )
        for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    fused = u.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.round(F.sum("__term").cast("double"), 6).alias("rrf_score"),
    )
    if query_col is None:
        return fused
    order = [F.desc("rrf_score"), F.asc(id_col)]
    return _top_k(fused, top_k, [query_col], order, "fused_rank")
