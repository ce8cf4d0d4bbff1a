"""Corpus-pipeline operators for training-data preparation:
deterministic sampling / splits, leakage checks, repetition scoring,
quality filtering, TF-IDF.

Design rules (same as the rest of ``functions/``):

- Everything is reproducible WITHOUT RNG state: sampling and splits
  key on an md5-derived integer of a stable row key, so the same row
  lands in the same sample/split on every run, on every engine, at
  any parallelism — the property a 100 TB pipeline actually needs
  (re-runs, backfills, and incremental appends stay consistent).
- Pure JVM column expressions; one shuffle per aggregate; every
  operator has an exact ANSI-SQL twin for the DuckDB oracle.
- The hash is md5-based for engine portability.  It costs more per
  row than xxhash64; at corpus scale the scan still dominates, but a
  pure-Spark caller can pass ``method="xxhash64"`` for the cheaper
  JVM-only variant (not oracle-reproducible in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_table, shuffle_partitions

from .stats import _top_k
from .text import tokens_col

_HASH_MOD = 1_000_000


def _bucket_col(key: Column, seed: int, method: str = "md5") -> Column:
    """Deterministic uniform bucket in [0, 1e6) from a row key.

    md5: portable (DuckDB: ``('0x'||substr(md5(k||':'||s),1,15))::BIGINT
    % 1000000``).  xxhash64: JVM-only, ~an order of magnitude cheaper.
    """
    if method == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":{seed}"))), 1, 15),
            16,
            10,
        ).cast("long")
    elif method == "xxhash64":
        h = F.abs(F.xxhash64(key, F.lit(seed)))
    else:
        raise ValueError("method must be 'md5' or 'xxhash64'")
    return F.pmod(h, F.lit(_HASH_MOD))


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key_col``.

    Unlike ``df.sample()`` (RNG per task, changes with partitioning),
    this is a pure filter: membership depends only on the key and
    seed, so it is stable across runs, engines, and cluster layouts,
    and composable (a 1% sample of a 10% sample is a fixed 0.1%).
    No shuffle — the filter pushes into the scan.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    thr = int(round(fraction * _HASH_MOD))
    return df.filter(_bucket_col(F.col(key_col), seed, method) < thr)


def train_test_split(
    df: DataFrame,
    test_fraction: float = 0.1,
    key_col: str = "doc_id",
    seed: int = 42,
    out_col: str = "split",
    method: str = "md5",
) -> DataFrame:
    """Add ``split`` = 'test' | 'train' by deterministic key hash.

    The same key always lands in the same split — append-safe (new
    data joins the right split without resampling history) and safe
    against near-duplicate leakage when keyed on a content
    fingerprint rather than a row id.
    """
    thr = int(round(test_fraction * _HASH_MOD))
    return df.withColumn(
        out_col,
        F.when(
            _bucket_col(F.col(key_col), seed, method) < thr, F.lit("test")
        ).otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 0.0,
    method: str = "md5",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 100% of low-resource languages, 5% of English).

    One when-chain threshold per stratum — a codegen'd filter, no
    shuffle, no RNG.  Strata absent from ``fractions`` keep
    ``default_fraction``.
    """
    thr = F.lit(int(round(default_fraction * _HASH_MOD)))
    expr = thr
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * _HASH_MOD)))
        ).otherwise(expr)
    return df.filter(_bucket_col(F.col(key_col), seed, method) < expr)


def leakage_report(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-split contamination by exact content fingerprint: rows of
    (train_id, test_id, fingerprint) where a test document's normalized
    content also appears in train.

    One hash-keyed equi-join on the 128-bit fingerprint (uniform,
    skew-free).  Run after any split to prove the test set is clean;
    pair with the near-dup operators for fuzzy contamination.
    """
    from .text import fingerprint_col

    t = train.select(
        F.col(id_col).alias("train_id"), fingerprint_col(text_col).alias("fingerprint")
    )
    s = test.select(
        F.col(id_col).alias("test_id"), fingerprint_col(text_col).alias("fingerprint")
    )
    return t.join(s, on="fingerprint").select("train_id", "test_id", "fingerprint")


def add_repetition_score(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    out_col: str = "dup_ngram_frac",
) -> DataFrame:
    """Repetition score: fraction of word n-gram occurrences that are
    repeats of an earlier occurrence in the same document —
    ``1 - distinct_ngrams / total_ngrams`` (0 = no repetition).  The
    Gopher-style quality rule family uses exactly this to drop
    boilerplate/spam docs.

    Pure array expressions per row — no explode, no shuffle, scales
    with the scan.  Grams are built by zipping n shifted slices of the
    token array (NOT a transform whose lambda slices the tokens per
    element): a per-element lambda reference re-evaluates its input
    once per gram, and predicate pushdown re-inlines the tokenizer
    through any materializing projection — measured 12s vs <1s on the
    sf0.1 documents table inside ``filter_quality``.  With zip_with
    every input array is evaluated once per row no matter how the
    optimizer rewrites the plan.
    """
    grams = _grams_expr(tokens_col(text_col), n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    frac = F.when(
        (F.length(F.trim(F.col(text_col))) == 0) | (total <= 0), F.lit(0.0)
    ).otherwise((total - distinct) / total)
    return df.withColumn(out_col, F.round(frac, 6))


def _grams_expr(toks: Column, n: int) -> Column:
    """Word n-gram array via n-1 ``zip_with`` folds over shifted
    slices.  Count = max(len - n, 0) + 1; a doc shorter than ``n``
    tokens yields its single truncated gram (``zip_with`` pads the
    short side with null, ``concat_ws`` skips nulls) — identical
    output to a slice+concat loop, without per-element re-evaluation
    of ``toks``."""
    length = F.greatest(F.size(toks) - n + 1, F.lit(1))
    grams = F.slice(toks, 1, length)
    for i in range(1, n):
        part = F.slice(toks, 1 + i, length)
        grams = F.zip_with(grams, part, lambda a, b: F.concat_ws(" ", a, b))
    return grams


def filter_quality(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.3,
    min_tokens: int = 5,
    max_tokens: int = 1_000_000,
    max_dup_ngram_frac: float = 0.3,
) -> DataFrame:
    """Composed keep/drop filter — the standard pretraining cleanup
    pass: minimum heuristic quality, token-count band, repetition cap.
    Returns the surviving rows of ``df`` (original columns).

    All four signals are single-pass column expressions over one scan;
    Catalyst collapses them into one codegen'd filter — this is the
    shape you want in front of a 100 TB tokenizer run.
    """
    from .text import add_quality_score, add_token_count

    scored = add_repetition_score(
        add_token_count(add_quality_score(df, text_col), text_col), text_col
    )
    kept = scored.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
    )
    return kept.drop("quality_score", "n_tokens", "dup_ngram_frac")


def token_histogram(
    df: DataFrame,
    text_col: str = "text",
    bucket_width: int = 50,
) -> DataFrame:
    """Corpus length profile: (token_bucket, n_docs) where
    ``token_bucket = floor(n_tokens / width) * width``.  One partial
    + final hash aggregate — the cheapest possible corpus telemetry.
    """
    from .text import add_token_count

    return (
        add_token_count(df, text_col)
        .groupBy(
            (F.floor(F.col("n_tokens") / bucket_width) * bucket_width)
            .cast("long")
            .alias("token_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_token_len: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    ``tf * ln((N + 1) / (df + 1))``, ties broken by term asc.

    Plan: one explode → per-(doc, term) counts (one shuffle, partial
    agg) → document-frequency table (second shuffle, on term — the
    small side, broadcast back by AQE) → per-doc top-k window.  At
    corpus scale both aggregates are uniform-keyed; ``min_token_len``
    drops the stopword-ish short tokens that would otherwise dominate
    df and skew nothing since the agg is still keyed per term.
    Returns ``(id_col, term, tf, tfidf, rank)``.
    """
    n_docs = df.count()
    terms = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term"))
        .filter(F.length("term") >= min_token_len)
    )
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, on="term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)), 6
        ),
    )
    return _top_k(scored, k, ["id"], [F.desc("tfidf"), F.asc("term")]).select(
        F.col("id").alias(id_col), "term", "tf", "tfidf", "rank"
    )


def pack_token_sequences(
    df: DataFrame,
    max_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Assign documents to fixed-token-budget training shards: documents
    are laid out in deterministic hash order (shuffled but reproducible
    — the property sequence packing needs so re-runs produce identical
    shards) and cut into ``max_tokens``-sized bins by running token
    count.  Returns ``(id_col, n_tokens, start_offset, shard_id)``
    where ``start_offset`` is the document's global token position and
    ``shard_id = floor(start_offset / max_tokens)`` (a document may
    straddle its shard boundary — standard pretraining packing
    semantics where the tokenizer splits at the boundary).

    Scale design — distributed prefix sum, NO global window: rows are
    range-partitioned by the hash key (order-preserving across
    partitions), each partition computes a local running total, the
    per-partition totals (one tiny row each) are prefix-summed on the
    driver and broadcast back as offsets.  The global cumulative sum is
    invariant to where the (sampled, nondeterministic) range boundaries
    fall, so the output is deterministic even though the partitioning
    isn't.  This is the same two-phase pattern as the component
    renumbering in ``algorithms._dense_rank_distributed``.
    """
    from pyspark.sql import Window

    from .text import tokens_col

    d = df.select(
        F.col(id_col).alias("id"),
        _bucket_col(F.col(id_col), seed, method).alias("key"),
        F.size(tokens_col(text_col)).alias("n_tokens"),
    )
    n_part = shuffle_partitions(df.sparkSession)
    d = d.repartitionByRange(n_part, "key", "id").withColumn(
        "pid", F.spark_partition_id()
    )
    local = Window.partitionBy("pid").orderBy("key", "id")
    d = d.withColumn("local_cum", F.sum("n_tokens").over(local)).localCheckpoint(
        eager=False
    )
    part_totals = (
        d.groupBy("pid").agg(F.max("local_cum").alias("total")).orderBy("pid").collect()
    )
    offsets, acc = {}, 0
    for r in part_totals:
        offsets[r["pid"]] = acc
        acc += r["total"]
    off_df = local_table(
        df.sparkSession,
        [(p, o) for p, o in offsets.items()],
        "pid int, part_offset long",
    )
    return (
        d.join(F.broadcast(off_df), on="pid")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (F.col("part_offset") + F.col("local_cum") - F.col("n_tokens")).alias(
                "start_offset"
            ),
            F.floor(
                (F.col("part_offset") + F.col("local_cum") - F.col("n_tokens"))
                / max_tokens
            ).alias("shard_id"),
        )
    )


def dedup_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
    key: str = "text",
) -> DataFrame:
    """Sub-document (chunk-level) exact deduplication, MassiveText /
    RefinedWeb style: split every document into fixed-size token
    chunks, drop every chunk whose exact text already occurred earlier
    in the corpus (global order = ``(doc_id, chunk_pos)``), and
    reassemble what survives.  Catches boilerplate repeated INSIDE
    otherwise-distinct documents, which whole-document exact dedup
    (:func:`~networkframe_spark.functions.dedup.exact_duplicates`)
    cannot see.

    Returns one row per input doc: ``(doc_id, n_chunks, n_kept,
    text_deduped)``.

    Scale design: chunking is a pure per-row array expression (no
    explode until the chunk table); the global first-occurrence
    choice is ONE hash aggregate on the chunk text — min over an
    order-encoding integer key ``doc_id * 100000 + pos`` (pos <
    100000 for any document under 2M tokens) — followed by ONE
    equi-join back on the chunk key, then a per-doc reassembly
    aggregate.  Everything is uniform-key partial+final hash aggs;
    no windows, no skew beyond natural chunk-text frequency (the
    hottest duplicate chunk folds map-side).

    ``key="hash"`` groups and joins on the 128-bit md5 of the chunk
    instead of its raw text — the 100 TB path: the first-occurrence
    aggregate shuffles 16-byte keys instead of chunk text, and the
    join key compares fixed-width (the probe side still carries the
    text it must reassemble).  Collision odds at 128 bits are
    negligible.  Same output as ``key="text"`` (pytest-asserted);
    the driver oracle runs the text path so the SQL twin stays
    byte-identical.
    """
    if key not in ("text", "hash"):
        raise ValueError("key must be 'text' or 'hash'")
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    ckey = F.md5(F.col("chunk")).alias("ck") if key == "hash" else F.col("chunk").alias("ck")
    exploded = exploded.select(id_col, "pos", "chunk", ckey)
    okey = F.col(id_col) * 100000 + F.col("pos")
    first = (
        exploded.groupBy("ck")
        .agg(F.min(okey).alias("first_okey"))
    )
    kept = exploded.join(first, on="ck").filter(okey == F.col("first_okey"))
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_deduped"),
    )
    totals = df.select(F.col(id_col), n_chunks.alias("n_chunks"))
    return totals.join(per_doc, on=id_col, how="left").select(
        id_col,
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram eval-set decontamination (GPT-3 appendix-C style): flag
    every corpus document sharing at least one word ``n``-gram with
    any eval document.  Returns ``(doc_id, n_shared_grams,
    n_eval_docs)`` — distinct overlapping grams and distinct eval
    docs hit — for flagged corpus docs only.

    Complements :func:`leakage_report` (exact whole-doc fingerprints):
    this catches partial containment — an eval question quoted inside
    an otherwise-novel document.

    Scale design: both sides explode to DISTINCT (doc, gram) pairs —
    per-row gram construction is the zip_with fold of
    :func:`_grams_expr` (no per-element re-evaluation) — then ONE
    equi-join on the gram key and one hash agg per corpus doc.  At
    n=13 gram frequencies are near-unique so the join key is
    skew-free; hash grams to 128 bits at corpus scale (raw text kept
    here for the byte-identical SQL twin).  The eval side is tiny by
    definition and broadcasts under AQE.
    """
    c = corpus.select(
        F.col(id_col), F.explode(_grams_expr(tokens_col(text_col), n)).alias("gram")
    ).distinct()
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(_grams_expr(tokens_col(text_col), n)).alias("gram"),
    ).distinct()
    return (
        c.join(ev, on="gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def exact_substring_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    window: int = 25,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring eval-set decontamination (the MassiveText /
    Gopher §2.1 rule: flag training documents sharing a long exact
    token run with any eval document).  Detection is by overlapping
    fixed-length token windows: the EVAL side fingerprints every
    stride-1 window of ``window`` tokens; the CORPUS side fingerprints
    only every ``stride``-th window.  The pigeonhole guarantee: any
    shared exact run of at least ``window + stride - 1`` tokens
    contains a corpus grid position whose full window lies inside the
    run, and that window exists verbatim on the stride-1 eval side —
    so with the defaults (25, 26) every shared 50-token substring is
    caught, the published MassiveText threshold, while the corpus
    explode emits ~1/26th of the stride-1 row count.  Shorter overlaps
    MAY be caught (when alignment cooperates) but are not guaranteed.
    Returns flagged corpus docs only: ``(doc_id, n_shared_windows,
    n_eval_docs)`` — drop them, or re-scan just the flagged docs
    driver-side to excise the matched spans.

    Complements :func:`ngram_decontaminate` (stride-1 both sides, short
    grams): this is the long-run variant whose corpus-side cost stays
    ~O(tokens/stride) rows, the only explode shape that survives a
    100 TB corpus.  Windows are md5 fingerprints (32 hex chars) so the
    join key is fixed-width and skew-free — long exact runs are
    near-unique by construction; a doc shorter than ``window`` tokens
    contributes its whole text as one truncated window (whole-doc
    exact matching for short docs).  The eval side is tiny by
    definition and broadcasts under AQE.
    """
    from .text import tokens_col

    if window < 1:
        raise ValueError("exact_substring_decontaminate: window >= 1")
    if stride is None:
        stride = window + 1
    if stride < 1:
        raise ValueError("exact_substring_decontaminate: stride >= 1")

    def _fps(df: DataFrame, s: int, out_id: str) -> DataFrame:
        toks = tokens_col(text_col)
        grams = F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(toks) - window + 1, F.lit(1)),
                F.lit(s),
            ),
            lambda i: F.md5(F.array_join(F.slice(toks, i, window), " ")),
        )
        return df.select(
            F.col(id_col).alias(out_id), F.explode(grams).alias("__fp")
        ).distinct()

    c = _fps(corpus, stride, id_col)
    ev = _fps(eval_df, 1, "eval_id")
    return (
        c.join(ev, on="__fp")
        .groupBy(id_col)
        .agg(
            F.countDistinct("__fp").alias("n_shared_windows"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def dup_ngram_fraction(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
) -> DataFrame:
    """Cross-document duplicate n-gram fraction (the MassiveText-style
    boilerplate signal): per document, the fraction of its word
    ``n``-gram OCCURRENCES whose gram appears in at least ``min_df``
    distinct documents.  High values mark documents assembled from
    corpus-common boilerplate (headers, license blocks, templated
    spam) even when the document's INTERNAL repetition — the
    complementary :func:`add_repetition_score` signal — is low.
    Returns ``(id_col, n_grams, dup_frac)`` at 6 dp; documents with
    zero grams score NULL.

    Scale design: one explode into a per-doc gram tf table; the gram
    document-frequency table derives from the same exchange
    (ReusedExchange), and the verdict is one hash agg per doc plus a
    broadcast-shaped join on the gram key.  At n=8 gram frequencies
    are long-tailed but the join key is the gram itself — uniform by
    construction; hash grams to 128 bits at corpus scale (raw text
    kept here for the byte-identical SQL twin).
    """
    from .text import tokens_col

    g = df.select(
        F.col(id_col),
        F.explode(_grams_expr(tokens_col(text_col), n)).alias("gram"),
    ).filter(F.length(F.trim(F.col("gram"))) > 0)
    tf = g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("__c"))
    dfreq = tf.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    agg = (
        tf.join(dfreq, on="gram")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            F.sum(F.when(F.col("__df") >= min_df, F.col("__c")).otherwise(0)).alias(
                "__dup"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.round(F.col("__dup") / F.col("n_grams"), 6).alias("dup_frac"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 7,
    method: str = "md5",
) -> DataFrame:
    """Deterministic per-group quota sampling: keep at most ``n`` rows
    per ``group_col`` value, chosen by the md5-bucket order of
    ``key_col`` (ties broken by the key) — the domain-cap step of a
    web-corpus pipeline (bound any one domain/source's share), with
    the same append-stability as :func:`hash_sample`: a row's
    keep/drop fate flips only if MORE attractive rows arrive in its
    group, never by reshuffling.

    Scale design: one ``row_number`` window partitioned by the group
    key — a single shuffle on ``group_col``.  A mega-group sorts
    within one task chain; at 100 TB pre-prune first with an
    approximate per-group count and a bucket threshold of roughly
    ``n / count``, then run this exact pass on the survivors (orders
    of magnitude fewer rows through the window).
    """
    b = _bucket_col(F.col(key_col), seed, method)
    order = [b.asc(), F.col(key_col).asc()]
    return _top_k(df, n, [group_col], order, "__rn").drop("__rn")


def split_by_cluster(
    df: DataFrame,
    pairs: DataFrame,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Leakage-safe train/test split: hash the near-dup CLUSTER
    representative, not the document, so near-duplicates can never
    straddle the split boundary.  Returns ``(id_col, cluster_id,
    split)`` for every row.

    :func:`train_test_split` keyed on doc id leaks: if A~B are
    near-duplicates, they can land on opposite sides and the test set
    silently contains paraphrases of training data —
    :func:`leakage_report` then finds only EXACT matches.  Closing the
    pair graph first (:func:`~networkframe_spark.functions.dedup.
    duplicate_clusters`, the engine's union-find CC) and bucketing on
    ``cluster_id`` makes the guarantee structural.

    Scale: the CC fold inherits weak_components' near-linear behavior;
    the split itself is one md5 bucket filter on the cluster key.
    Append-stability caveat: a NEW near-dup edge can merge two
    clusters and move the merged cluster's side — that is the point
    (the guarantee outranks stability), and only merged clusters move.
    """
    from .dedup import duplicate_clusters

    clusters = duplicate_clusters(df, pairs, id_col=id_col)
    thr = int(round(test_fraction * _HASH_MOD))
    return clusters.select(
        id_col,
        "cluster_id",
        F.when(
            _bucket_col(F.col("cluster_id"), seed, method) < thr, F.lit("test")
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def dedup_lines(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Cross-document line-level deduplication (MassiveText/RefinedWeb
    boilerplate removal): drop every line whose normalized form occurs
    in at least ``min_docs`` DISTINCT documents (headers, footers,
    cookie banners, license blurbs), keeping the remaining lines in
    original order.  Returns ``(id_col, text, n_lines, n_removed)``.

    ``sep`` is the line delimiter (``"\\n"`` for real corpora; on a
    single-line corpus pass ``" "`` and the same operator does common-
    token / stopword-style removal — identical plan shape).

    Scale design: one ``posexplode`` to ``(doc, pos, line)``, one
    distinct-count hash aggregate keyed on the normalized-line
    fingerprint (uniform 128-bit key — no skew), one equi-join back on
    that key (AQE broadcasts it when the boilerplate set is small),
    and one per-document reassembly aggregate.  Line order is restored
    with ``array_sort`` over ``(pos, line)`` structs — per-document
    bounded, never a global window.  Normalization-empty lines are
    never treated as boilerplate (they would trivially match across
    every document).
    """
    from .text import normalized_text_col

    # \Q...\E quotes the separator: F.split takes a Java REGEX, and a
    # literal delimiter like "|" or "." would otherwise split on
    # every character boundary.  An embedded \E would terminate the
    # quote early, so split around it exactly as Java Pattern.quote
    # does (\E -> \E\\E\Q)
    quoted_sep = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), quoted_sep)
        ).alias("pos", "line"),
    ).withColumn("norm", normalized_text_col(F.col("line")))
    boiler = (
        lines.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.countDistinct(id_col).alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_docs)
        .select("norm", F.lit(True).alias("__boiler"))
    )
    marked = lines.join(boiler, on="norm", how="left")
    keep = F.col("__boiler").isNull()
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("pos"), F.col("line")))
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text"),
        )
        .select(id_col, "text", "n_lines", "n_removed")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunking of long documents into training-sized
    pieces: whitespace tokens are windowed into chunks of
    ``chunk_size`` tokens starting every ``stride`` tokens
    (``stride < chunk_size`` = overlapping context, the long-document
    counterpart of :func:`pack_token_sequences`).  Returns
    ``(id_col, chunk_id, chunk_text, n_tokens)``.

    Scale design: pure per-row array expressions — tokenize once,
    ``explode`` a ``sequence`` of start offsets, ``slice`` +
    ``array_join`` per chunk.  Map-side only: NO shuffle, no UDF, the
    whole plan stays inside whole-stage codegen and parallelism is
    whatever the scan provides.
    """
    if stride is None:
        stride = chunk_size
    if chunk_size < 1 or stride < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = F.split(F.col(text_col), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(starts).alias("__start"),
        )
        .select(
            F.col(id_col),
            (F.col("__start") / stride).cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start") + 1, chunk_size), " "
            ).alias("chunk_text"),
            F.least(
                F.size(F.col("__toks")) - F.col("__start"), F.lit(chunk_size)
            ).alias("n_tokens"),
        )
    )


def mix_domains(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Deterministic domain-mixture resampling: downsample each domain
    so the output follows the target ``weights`` proportions exactly
    (up to hash-bucket granularity), keeping as much data as the
    scarcest domain allows — the data-mixing step (e.g. Pile/Dolma
    style domain reweighting) of a pretraining pipeline.

    The feasible scale factor is ``C* = min_d(n_d / w_d)`` (no
    upsampling); domain ``d`` then keeps ``C* * w_d / n_d`` of its
    rows via the same engine-portable md5-bucket filter as
    :func:`hash_sample` — stable across runs, engines, and cluster
    layouts.  Domains absent from ``weights`` are dropped.

    Scale design: fully declarative, no driver collect.  Per-domain
    counts are one hash aggregate (#domains rows — tiny); the scalar
    ``C*`` and per-domain thresholds join back as broadcasts; the
    final pass is a map-side filter on the fact table.
    """
    spark = df.sparkSession
    wdf = local_table(
        spark,
        [(d, float(w)) for d, w in weights.items()],
        f"{domain_col} string, __w double",
    )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = counts.join(wdf, on=domain_col)
    # a weighted domain with ZERO rows makes the target mixture
    # infeasible (true C* = 0); silently proceeding over the present
    # domains would also hide typos in the weights dict — fail loudly.
    # The check is one job over a #domains-sized aggregate.
    present = {r[domain_col] for r in rates.select(domain_col).collect()}
    missing = sorted(set(weights) - present)
    if missing:
        raise ValueError(
            f"mix_domains: weighted domains absent from the data: "
            f"{missing} — the target mixture is unsatisfiable "
            "(remove them from weights or fix the domain names)"
        )
    cstar = rates.agg(
        F.min(F.col("__n") / F.col("__w")).alias("__cstar")
    )
    thresholds = rates.crossJoin(F.broadcast(cstar)).select(
        domain_col,
        F.floor(
            F.col("__cstar") * F.col("__w") / F.col("__n") * _HASH_MOD
        ).alias("__thr"),
    )
    return (
        df.join(F.broadcast(thresholds), on=domain_col)
        .filter(_bucket_col(F.col(key_col), seed, method) < F.col("__thr"))
        .drop("__thr")
    )


def global_shuffle(
    df: DataFrame, key_col: str = "doc_id", seed: int = 42
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every row gets an engine-portable pseudo-random ``shuffle_key``
    (md5 of key + seed) and the frame is returned sorted by it.
    Same key + seed → same order on any engine, any cluster layout,
    any partition count — reproducible epochs without RNG state.

    Scale design: Spark executes ``orderBy`` as a sampled
    range-partition sort (a TB-scale-proven distributed sort); no
    global window, no dense rank, no single-partition stage.  Epoch
    variation = change the seed.
    """
    return df.withColumn(
        "shuffle_key",
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))),
    ).orderBy("shuffle_key", key_col)


def filter_by_percentile(
    df: DataFrame,
    score_col: str,
    pct: float = 0.5,
    keep: str = "above",
    exact: bool = True,
) -> DataFrame:
    """Corpus-relative quality gate: keep rows whose ``score_col`` is
    above (or below) the corpus-wide ``pct`` percentile — the
    "keep the best half by model score" step, where the cutoff adapts
    to the corpus instead of being hand-tuned.

    ``exact=True`` computes the true interpolated percentile (matches
    DuckDB ``quantile_cont`` bit-for-bit — oracle-checkable);
    ``exact=False`` uses ``approx_percentile`` (mergeable sketch, the
    100 TB path — one pass, bounded memory, no global sort).

    Scale design: one scalar aggregate broadcast back as a cross join
    (1-row build side), then a map-side filter.
    """
    if keep not in ("above", "below"):
        raise ValueError("keep must be 'above' or 'below'")
    pct = float(pct)
    if not 0.0 <= pct <= 1.0:
        raise ValueError(f"pct must be in [0, 1], got {pct}")
    fn = "percentile" if exact else "approx_percentile"
    # backtick-quote the identifier: column names with spaces/dots/
    # hyphens must not be parsed as expression syntax, and caller
    # strings must never be spliced into SQL unescaped
    quoted = "`" + score_col.replace("`", "``") + "`"
    thr = df.agg(
        F.expr(f"{fn}({quoted}, {pct!r})").alias("__thr")
    )
    cond = (
        F.col(score_col) >= F.col("__thr")
        if keep == "above"
        else F.col(score_col) <= F.col("__thr")
    )
    return df.crossJoin(F.broadcast(thr)).filter(cond).drop("__thr")


def weighted_sample(
    df: DataFrame,
    prob_col: str,
    key_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Deterministic per-row Bernoulli sample: keep each row with its
    OWN probability from ``prob_col`` (clamped to [0, 1]) — the
    importance-resampling primitive behind quality-weighted corpus
    construction (keep high-quality docs with p≈1, downsample the
    mediocre tail instead of hard-thresholding it).

    Like :func:`hash_sample` the coin is a pure function of
    ``(key, seed)`` — stable across runs, engines, partitionings, and
    composable with every other md5-bucket filter here; unlike it the
    threshold varies per row.  No shuffle: one comparison riding the
    scan.
    """
    p = F.least(
        F.greatest(F.col(prob_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    thr = F.round(p * _HASH_MOD).cast("long")
    return df.filter(_bucket_col(F.col(key_col), seed, method) < thr)


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_stages: int = 4,
    key_col: str = "doc_id",
    seed: int = 42,
    ascending: bool = True,
) -> DataFrame:
    """Curriculum-learning order: rows are binned into ``n_stages``
    equal-frequency difficulty stages by ``score_col`` (exact SQL
    ``ntile`` semantics over a total order — score then ``key_col``
    as tie-break), and WITHIN each stage the order is a deterministic
    md5 shuffle (same trick as :func:`global_shuffle`).  Returns the
    frame plus ``(stage, shuffle_key)`` sorted ``(stage, shuffle_key,
    key)`` — easy first, shuffled within stage, as curriculum
    schedules prescribe (Bengio et al. 2009).  ``ascending=False``
    flips to anti-curriculum (hardest first).

    Determinism: the stage split follows ntile's exact convention
    (first ``n mod k`` tiles one row larger), pinned by the unique
    tie-break; md5 needs no RNG state, so every epoch/retry
    regenerates the identical order on any engine.

    Scale design: a naive ``ntile() OVER (ORDER BY ...)`` is a
    single-partition window — a driver-killer at corpus scale — so
    the global rank comes from the two-phase range-sort scheme
    (:func:`~networkframe_spark.algorithms._dense_rank_distributed`:
    range-repartition, local row_number, per-partition offsets) and
    the tile index is computed arithmetically from (rank, n, k).
    The final orderBy is a sampled range-partition sort.  No global
    window anywhere.
    """
    from ..algorithms import _dense_rank_distributed

    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    n = df.count()
    direction = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc()
    )
    ranked = _dense_rank_distributed(
        df, [direction, F.col(key_col).asc()], out_col="__r0"
    )
    q, rem = divmod(n, n_stages)
    r = F.col("__r0") + 1  # 1-based rank
    boundary = rem * (q + 1)
    if q == 0:
        stage = r
    else:
        stage = F.when(
            r <= boundary, F.floor((r - 1) / (q + 1)) + 1
        ).otherwise(rem + F.floor((r - boundary - 1) / q) + 1)
    return (
        ranked.withColumn("stage", stage.cast("int"))
        .withColumn(
            "shuffle_key",
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))),
        )
        .drop("__r0")
        .orderBy("stage", "shuffle_key", key_col)
    )


def corpus_describe(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus profile — the first thing to run on an
    unfamiliar document table: ``(n_docs, n_empty, total_tokens,
    avg_tokens, avg_chars, n_distinct_texts, exact_dup_rate)``.
    The dup rate is 1 - distinct-fingerprint/docs (md5 of the raw
    text — the same key :func:`~networkframe_spark.functions.dedup.
    exact_duplicates` groups on).

    Scale design: a single aggregate pass; the token count is a
    per-row ``size(split(...))`` expression (no explode — the scan
    never widens), and the distinct count is one hash agg on the
    uniform md5 key.  Ratios round to 6 dp.
    """
    from .text import tokens_col

    toks = F.size(F.filter(tokens_col(text_col), lambda x: x != F.lit("")))
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.length(F.trim(F.col(text_col))) == 0).cast("long")
        ).alias("n_empty"),
        F.sum(toks).alias("total_tokens"),
        F.round(F.sum(toks) / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.round(
            F.sum(F.length(F.col(text_col))) / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.countDistinct(F.md5(F.col(text_col))) / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
    )


def kfold_split(
    df: DataFrame,
    k: int = 5,
    key_col: str = "doc_id",
    seed: int = 42,
    out_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = md5-bucket(key) mod
    k`` (0-based) — every key lands in exactly one fold, the same fold
    on every engine/run/append, so cross-validation rounds are
    reproducible and new data joins folds without resampling history
    (the k-way generalization of :func:`train_test_split`; key on a
    content fingerprint or near-dup cluster rep for leakage safety).

    Pure map-side column — no shuffle, no RNG state.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        out_col,
        F.pmod(_bucket_col(F.col(key_col), seed, "md5"), F.lit(k)).cast("int"),
    )


def perplexity_buckets(
    df: DataFrame,
    pcts: tuple = (1 / 3, 2 / 3),
    approx: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document by its corpus-relative unigram log-probability
    (:func:`~networkframe_spark.functions.text.unigram_logprob_score`
    — the KenLM stand-in) and split the corpus into ``head`` /
    ``middle`` / ``tail`` thirds by score percentiles — head = most
    fluent.  Returns ``(id_col, n_tokens, logprob, bucket)``;
    empty documents get a NULL bucket.

    ``approx=False`` (oracle mode) uses the exact interpolated
    ``percentile``; ``approx=True`` is the 100 TB path — a
    ``percentile_approx`` sketch (mergeable, bounded memory) whose
    thresholds differ only within sketch tolerance.

    Scale design: the scoring pass is the single-explode tf pipeline
    of ``unigram_logprob_score`` (ReusedExchange serves both
    branches); the threshold aggregate collapses to ONE row that
    broadcast-joins back — no sort, no second pass over the corpus.
    Bucket boundaries are half-open (``> t``), so ties at a threshold
    fall toward the worse bucket deterministically.
    """
    from .text import unigram_logprob_score

    p1, p2 = pcts
    if not (0.0 < p1 < p2 < 1.0):
        raise ValueError("perplexity_buckets: need 0 < pcts[0] < pcts[1] < 1")
    scored = unigram_logprob_score(df, id_col=id_col, text_col=text_col)
    pf = F.percentile_approx if approx else F.percentile
    th = scored.filter(F.col("logprob").isNotNull()).agg(
        pf(F.col("logprob"), F.lit(p1)).alias("__t1"),
        pf(F.col("logprob"), F.lit(p2)).alias("__t2"),
    )
    return scored.crossJoin(F.broadcast(th)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("logprob"),
        F.when(F.col("logprob").isNull(), F.lit(None).cast("string"))
        .when(F.col("logprob") > F.col("__t2"), F.lit("head"))
        .when(F.col("logprob") > F.col("__t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def hashed_tfidf_vectors(
    df: DataFrame,
    n_features: int = 256,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed TF-IDF (the hashing trick, Weinberger et al.
    2009): tokens hash into a fixed ``n_features``-dimensional space
    — no vocabulary to build, broadcast, or keep consistent across
    batches, which is what makes text vectorization tractable on a
    100 TB corpus.  Returns sparse rows ``(id_col, feature, weight)``
    with ``weight = tf · ln(N / df)`` at 6 dp (features whose hashed
    document frequency equals N get weight 0 and are kept, so the
    output is reproducible row-for-row).

    The hash is the portable md5 bucket (DuckDB:
    ``('0x'||substr(md5(tok||':'||seed),1,15))::BIGINT % n``) — same
    convention as :func:`hash_sample`; pass nothing and the twin SQL
    reproduces it term-for-term.

    Scale design: ONE explode feeding a (doc, feature) hash aggregate;
    the per-feature document frequency derives from that same
    aggregate (Catalyst reuses the exchange), and the corpus size is
    a 1-row broadcast.  Everything is codegen'd column expressions —
    no UDF, no vocabulary state.
    """
    if n_features < 1:
        raise ValueError("hashed_tfidf_vectors: n_features must be >= 1")
    feat = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("tok"), F.lit(f":{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n_features),
    ).cast("int")
    tf = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .select(F.col(id_col), feat.alias("feature"))
        .groupBy(id_col, "feature")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("feature").agg(
        F.count(F.lit(1)).alias("__df")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    return (
        tf.join(dfreq, on="feature")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("feature"),
            F.round(
                F.col("__tf") * F.log(F.col("__n") / F.col("__df")), 6
            ).alias("weight"),
        )
    )


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement of exactly
    ``k`` rows (Efraimidis & Spirakis 2006, algorithm A-ES): each row
    draws ``u`` from its md5 hash and ranks by ``u^(1/w)`` — computed
    as the monotone-equivalent ``ln(u)/w`` — so inclusion probability
    is proportional to weight, no RNG state exists, and reruns (or
    retried tasks) pick the identical sample.  Rows with
    non-positive weight are excluded.  Complements
    :func:`weighted_sample` (per-row Bernoulli, random SIZE) with the
    exact-size variant.

    Scale design: the ranking key is a pure map-side expression; the
    selection is a distributed TakeOrdered (``orderBy().limit(k)``),
    so no global sort materializes.  Ties are impossible across
    distinct keys (the hash differs) and broken by key for identical
    (hash, weight) pairs.
    """
    if k < 1:
        raise ValueError("weighted_sample_k: k must be >= 1")
    u = (_bucket_col(F.col(key_col), seed, "md5") + 0.5) / float(_HASH_MOD)
    es_key = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es", es_key)
        .orderBy(F.desc("__es"), F.col(key_col).asc())
        .limit(k)
        .drop("__es")
    )


def group_rare_categories(
    df: DataFrame,
    col: str,
    min_count: int = 100,
    other_label: str = "__other__",
    out_col: str | None = None,
) -> DataFrame:
    """Fold long-tail categories into one bucket: values of ``col``
    appearing fewer than ``min_count`` times become ``other_label``
    (written to ``out_col``, default ``{col}_folded``) — the standard
    cardinality-control step before one-hot/target encoding, and a
    privacy-adjacent k-anonymity floor for categorical reporting.

    Scale design: one hash aggregate over the category (tiny result),
    broadcast back as a semi-join-shaped membership map — the fact
    table is never shuffled, and the fold is a map-side ``when``.
    """
    out_col = out_col or f"{col}_folded"
    keep = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select(F.col(col).alias("__keep"), F.lit(1).alias("__hit"))
    )
    # membership tested via the __hit indicator, not __keep itself:
    # when the frequent category IS NULL the eqNullSafe join matches
    # but __keep stays NULL, so an isNotNull test would wrongly fold
    # a frequent NULL category into other_label
    return (
        df.join(
            F.broadcast(keep), on=F.col(col).eqNullSafe(F.col("__keep")), how="left"
        )
        .withColumn(
            out_col,
            F.when(F.col("__hit").isNotNull(), F.col(col)).otherwise(
                F.lit(other_label)
            ),
        )
        .drop("__keep", "__hit")
    )


def target_encoding(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
    out_col: str | None = None,
) -> DataFrame:
    """Smoothed target encoding (the Micci-Barreca 2001 category
    encoder): each category maps to ``(sum_y + smoothing * prior) /
    (n + smoothing)`` where ``prior`` is the global target mean —
    small categories shrink toward the prior instead of memorizing
    noise.  Returns one row per category ``(cat, n, encoding)`` with
    the encoding at 6 dp — join it back to features, or feed the
    leakage-safe variants (fit on train only) directly.

    Numerics: both the per-category and global sums accumulate as
    DECIMAL(28,6) — exact and order-independent — and only the two
    final divisions are floating, so the encoding is engine-portable.

    Scale design: one partial+final hash aggregate on the category
    plus a 1-row broadcast prior; nothing else touches the fact
    table.
    """
    out_col = out_col or f"{cat_col}_te"
    y = F.col(target_col).cast("decimal(28,6)")
    per = df.groupBy(cat_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum(y).alias("__sy")
    )
    prior = df.agg(
        (F.sum(y).cast("double") / F.count(F.lit(1))).alias("__prior")
    )
    return per.crossJoin(F.broadcast(prior)).select(
        F.col(cat_col),
        F.col("n"),
        F.round(
            (F.col("__sy").cast("double") + smoothing * F.col("__prior"))
            / (F.col("n") + F.lit(smoothing)),
            6,
        ).alias(out_col),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the large (skewed) left side gets a
    deterministic salt in ``[0, n_salt)`` hashed from the whole row,
    the small right side is replicated ``n_salt`` times, and the join
    runs on ``(key..., salt)`` — so one hot key spreads over
    ``n_salt`` tasks instead of melting a single reducer.  Results
    are IDENTICAL to the unsalted join (``inner`` and ``left`` only —
    right/outer would duplicate unmatched right rows).

    When to reach for this at 100 TB: AQE's skew-join splitting
    already rescues sort-merge joins it can see statistics for, but
    explicit salting is still the tool when the build side must
    replicate anyway (medium-sized dimension too big to broadcast),
    under static planning (stream-stream joins), or when one key
    alone exceeds what a single task can hold.  Cost: right side
    × ``n_salt`` rows — keep the replicated side the small one.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join: how must be 'inner' or 'left'")
    if n_salt < 1:
        raise ValueError("salted_join: n_salt must be >= 1")
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salt)
    ).cast("int")
    lsalted = left.withColumn("__salt", salt)
    rsalted = right.withColumn(
        "__salt",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_salt - 1)),
                lambda i: i.cast("int"),
            )
        ),
    )
    return lsalted.join(rsalted, on=keys + ["__salt"], how=how).drop("__salt")


def extract_json(
    df: DataFrame,
    json_col: str,
    fields: dict,
) -> DataFrame:
    """Promote semi-structured JSON payload fields to typed columns:
    ``fields`` maps output column → ``(json_path, sql_type)`` (path
    as ``$.a.b``; or just a type string, in which case the path is
    ``$.<name>``).  Invalid JSON / missing paths yield NULL — never
    an error — matching permissive ETL semantics.  The unavoidable
    first step for every event pipeline whose producers ship JSON
    ``props`` blobs.

    Scale design: ``get_json_object`` + ``cast`` are codegen'd JVM
    column expressions — one pass, zero shuffle, zero UDF; at 100 TB
    this is scan-bound.  For DEEPLY nested or repeated extraction,
    prefer one ``from_json`` with an explicit schema (one parse per
    row) — this helper targets the common few-scalar-fields case
    where per-path extraction fuses into the same codegen stage.
    """
    out = df
    for name, spec in fields.items():
        if isinstance(spec, str):
            path, typ = f"$.{name}", spec
        else:
            path, typ = spec
        out = out.withColumn(
            name, F.get_json_object(F.col(json_col), path).cast(typ)
        )
    return out


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str = "A",
    treatment: str = "B",
) -> DataFrame:
    """Two-sample experiment readout: one row ``(n_control,
    n_treatment, mean_control, mean_treatment, diff, z_score)`` with
    Welch's z = diff / sqrt(s²_t/n_t + s²_c/n_c) at 6 dp (NULL when
    either arm is empty/degenerate) — the decision summary every
    A/B pipeline ends in.

    Numerics: per-arm sums and sums of squares accumulate as exact
    DECIMALs over 6-dp-quantized values (order-independent,
    engine-portable); means, variances (sample, n-1), and the z are
    the only floating steps, performed identically in the SQL twin.

    Scale design: ONE partial+final hash aggregate over the fact
    table (conditional sums per arm — no per-arm scans, no shuffle
    beyond the 1-row aggregate).
    """
    v = F.round(F.col(value_col) * 1_000_000).cast("decimal(28,0)")
    is_c = F.col(variant_col) == control
    is_t = F.col(variant_col) == treatment
    agg = df.agg(
        F.count(F.when(is_c, 1)).alias("n_control"),
        F.count(F.when(is_t, 1)).alias("n_treatment"),
        F.sum(F.when(is_c, v).otherwise(F.lit(0).cast("decimal(28,0)"))).alias("__sc"),
        F.sum(F.when(is_t, v).otherwise(F.lit(0).cast("decimal(28,0)"))).alias("__st"),
        F.sum(F.when(is_c, v * v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__sc2"),
        F.sum(F.when(is_t, v * v).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__st2"),
    )
    nc = F.col("n_control").cast("double")
    nt = F.col("n_treatment").cast("double")
    sc = F.col("__sc").cast("double") / 1e6
    st = F.col("__st").cast("double") / 1e6
    sc2 = F.col("__sc2").cast("double") / 1e12
    st2 = F.col("__st2").cast("double") / 1e12
    mc = sc / nc
    mt = st / nt
    vc = (sc2 - sc * sc / nc) / (nc - 1)
    vt = (st2 - st * st / nt) / (nt - 1)
    se2 = vt / nt + vc / nc
    ok = (F.col("n_control") > 1) & (F.col("n_treatment") > 1)
    return agg.select(
        "n_control",
        "n_treatment",
        F.when(F.col("n_control") > 0, F.round(mc, 6)).alias("mean_control"),
        F.when(F.col("n_treatment") > 0, F.round(mt, 6)).alias("mean_treatment"),
        F.when(ok, F.round(mt - mc, 6)).alias("diff"),
        F.when(ok & (se2 > 0), F.round((mt - mc) / F.sqrt(se2), 6)).alias(
            "z_score"
        ),
    )


def merge_incremental(
    existing: DataFrame,
    incoming: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Latest-wins upsert merge (the CDC / incremental-append
    compaction step): union the existing table with an incoming
    batch and keep, per key, the row with the greatest ``(ts,
    tiebreak, source)`` — incoming beats existing on exact ties, so
    replaying the same batch is idempotent.  Schemas must match
    (unioned by name).  This is the maintenance operation every
    continuously-appended 100 TB table needs between full rewrites;
    pair with :func:`~networkframe_spark.sources.compact_parquet`
    for the physical half.

    Scale design: ONE hash aggregate on the key — the winning row
    rides a ``max(struct(ordering..., payload))`` so the map side
    combines before the exchange (a row_number window would shuffle
    everything and cannot); no join, no second pass.
    """
    cols = existing.columns
    if set(cols) != set(incoming.columns):
        raise ValueError(
            "merge_incremental: schemas differ: "
            f"{sorted(cols)} vs {sorted(incoming.columns)}"
        )
    tagged = existing.select(
        *[F.col(c) for c in cols], F.lit(0).alias("__src")
    ).unionByName(
        incoming.select(*[F.col(c) for c in cols], F.lit(1).alias("__src"))
    )
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    order.append(F.col("__src"))
    payload = [c for c in cols if c != key_col]
    win = F.max(
        F.struct(*order, *[F.col(c).alias(f"__p_{c}") for c in payload])
    ).alias("__w")
    return (
        tagged.groupBy(key_col)
        .agg(win)
        .select(
            F.col(key_col),
            *[F.col(f"__w.__p_{c}").alias(c) for c in payload],
        )
        .select(*cols)
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list | None = None,
) -> DataFrame:
    """Keyed diff between two table versions: one row per key that
    changed, ``(key, change)`` with ``change`` ∈ ``added`` /
    ``removed`` / ``changed`` (same key present in both but any
    compared column differs, NULL-safely).  Unchanged keys are
    omitted — on a 100 TB table the diff is the small output, which
    is the point: audit a backfill, validate a migration, or feed an
    incremental downstream without rereading either side twice.

    Scale design: one full-outer keyed join; the change expression is
    a codegen'd NULL-safe comparison chain — no row hashing UDF, no
    second pass.  Compared columns default to the shared non-key
    columns.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c != key_col and c in new.columns
        ]
    o = old.select(
        F.col(key_col).alias("key"),
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key_col).alias("key"),
        F.lit(1).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    )
    j = o.join(n, on="key", how="full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.select(F.col("key"), change.alias("change"))
        .filter(F.col("change").isNotNull())
    )


def json_key_profile(
    df: DataFrame,
    json_col: str,
    id_col: str = "event_id",
) -> DataFrame:
    """Top-level key census of a JSON payload column: ``(key, n,
    frac)`` — how many rows carry each key and the fraction of all
    rows, at 6 dp.  The schema-drift monitor for producer-owned JSON
    blobs: new keys appearing (or old ones draining) show up here
    before any extraction breaks.  Rows whose payload fails to parse
    as a JSON object contribute nothing.

    Scale design: one ``from_json`` parse per row feeding a
    ``map_keys`` explode and a hash aggregate on the tiny key space;
    the row total rides along as a 1-row broadcast.
    """
    parsed = df.select(
        F.from_json(F.col(json_col), "map<string,string>").alias("__m")
    )
    total = df.agg(F.count(F.lit(1)).alias("__t"))
    keys = (
        parsed.filter(F.col("__m").isNotNull())
        .select(F.explode(F.map_keys(F.col("__m"))).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return keys.crossJoin(F.broadcast(total)).select(
        "key", "n", F.round(F.col("n") / F.col("__t"), 6).alias("frac")
    )


def time_split(
    df: DataFrame,
    ts_col: str,
    train_frac_num: int = 4,
    train_frac_den: int = 5,
    embargo_seconds: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe temporal train/test split with an embargo gap —
    the backtest-correct alternative to a random split for any
    time-dependent corpus (events, market data, user logs): the
    model must never train on information from after the evaluation
    horizon, and ``embargo_seconds`` excises a buffer after the
    cutoff so trailing-window features built ON train rows cannot
    bleed into test (the "purged" split of de Prado's backtesting
    methodology).

    Scale-extension operator (no reference counterpart).

    The cutoff is a TIME-RANGE fraction, not a row fraction:
    ``cutoff = min_ts + (max_ts - min_ts) * frac`` in exact integer
    microseconds (truncating div — deterministic, engine-portable,
    and independent of row distribution, so adding rows never moves
    an existing row between splits within a fixed time range).
    Labels: ``train`` (ts <= cutoff), ``embargo`` (cutoff < ts <=
    cutoff + embargo), ``test`` (beyond); NULL timestamps get NULL.

    Scale design: ONE min/max aggregate (map-side combinable, 1-row
    result) broadcast back via crossJoin; the labeling itself is a
    pure map-side comparison that rides the scan — no shuffle of the
    fact table at any corpus size.
    """
    if not (0 <= train_frac_num <= train_frac_den) or train_frac_den <= 0:
        raise ValueError("train fraction must be a rational in [0, 1]")
    if embargo_seconds < 0:
        raise ValueError("embargo_seconds must be >= 0")
    from .temporal import _epoch_us

    us = _epoch_us(ts_col)
    bounds = df.agg(
        F.min(us).alias("__mn"), F.max(us).alias("__mx")
    )
    cutoff = F.col("__mn") + F.expr(
        f"(__mx - __mn) * {int(train_frac_num)} div {int(train_frac_den)}"
    )
    emb_end = cutoff + F.lit(int(embargo_seconds) * 1_000_000)
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col,
            F.when(us.isNull(), F.lit(None).cast("string"))
            .when(us <= cutoff, F.lit("train"))
            .when(us <= emb_end, F.lit("embargo"))
            .otherwise(F.lit("test")),
        )
        .drop("__mn", "__mx")
    )


def rolling_origin_splits(
    df: DataFrame,
    ts_col: str,
    n_folds: int = 3,
    out_col: str = "role",
) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds for
    temporal data — the CV that respects time where k-fold would leak:
    fold ``i`` (1-based) trains on everything up to cutoff ``i`` and
    tests on the window between cutoffs ``i`` and ``i + 1``, with the
    time range cut into ``n_folds + 1`` equal spans (exact integer
    microseconds, truncating div — same arithmetic as
    :func:`time_split`).  Returns one row per (fold, input row) with
    ``fold`` and ``out_col`` in ``('train', 'test')``; rows after the
    fold's test window (or with NULL timestamps) are omitted from
    that fold.

    Scale design: one 1-row min/max aggregate broadcast back; folds
    materialize via a crossJoin with an ``n_folds``-row literal table
    — a deliberate ≤ n_folds× row amplification that keeps the plan
    fully declarative (a per-fold filter pushes down when a single
    fold is selected downstream, which is how a 100 TB run consumes
    it: one fold per training job, never all folds at once).
    """
    if n_folds < 1:
        raise ValueError("rolling_origin_splits: n_folds >= 1")
    from .temporal import _epoch_us

    us = _epoch_us(ts_col)
    bounds = df.agg(F.min(us).alias("__mn"), F.max(us).alias("__mx"))
    spark = df.sparkSession
    folds = spark.range(1, int(n_folds) + 1).select(
        F.col("id").cast("int").alias("fold")
    )
    k1 = int(n_folds) + 1
    cut = F.col("__mn") + F.expr(f"(__mx - __mn) * fold div {k1}")
    nxt = F.col("__mn") + F.expr(f"(__mx - __mn) * (fold + 1) div {k1}")
    return (
        df.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(folds))
        .withColumn(
            out_col,
            F.when(us.isNull(), F.lit(None).cast("string"))
            .when(us <= cut, F.lit("train"))
            .when(us <= nxt, F.lit("test"))
            .otherwise(F.lit(None).cast("string")),
        )
        .filter(F.col(out_col).isNotNull())
        .drop("__mn", "__mx")
    )


def _budget_stage(
    df: DataFrame,
    score_col: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The two-phase prefix-sum stage of :func:`select_under_budget`,
    pre-checkpoint: range-exchange on (−score, id) + a pid-keyed
    running-total window.  Factored out so the plan-guard test can
    assert its shape directly (the production op localCheckpoints this
    plan, which hides it from the final DataFrame's executed plan)."""
    from pyspark.sql import Window

    from .text import tokens_col

    d = df.select(
        F.col(id_col).alias("id"),
        F.col(score_col).cast("double").alias("score"),
        F.size(tokens_col(text_col)).alias("n_tokens"),
    ).withColumn("skey", -F.col("score"))
    n_part = shuffle_partitions(df.sparkSession)
    d = d.repartitionByRange(n_part, "skey", "id").withColumn(
        "pid", F.spark_partition_id()
    )
    local = Window.partitionBy("pid").orderBy("skey", "id")
    return d.withColumn("local_cum", F.sum("n_tokens").over(local))


def select_under_budget(
    df: DataFrame,
    budget: int,
    score_col: str = "quality_score",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budgeted corpus selection: keep the best-scoring documents
    whose running token total fits inside ``budget`` — the standard
    final step of a curation pipeline ("we can afford N tokens; take
    the best ones").  Documents are ranked by (``score_col`` DESC,
    id ASC — deterministic ties) and the kept set is the maximal
    PREFIX whose inclusive cumulative token count is <= budget (the
    first overflowing document and everything after it is dropped;
    prefix semantics keep the op exactly SQL-replayable).  Returns
    ``(id_col, score_col, n_tokens, cum_tokens)``.

    Scale design — distributed prefix sum, NO global window: the same
    two-phase scheme as :func:`pack_token_sequences` (range-partition
    on the sort key, per-partition running totals, driver prefix-sum
    of one tiny row per partition broadcast back).  The budget filter
    is map-side after the offset join.
    """
    d = _budget_stage(df, score_col, text_col, id_col).localCheckpoint(
        eager=False
    )
    part_totals = (
        d.groupBy("pid")
        .agg(F.max("local_cum").alias("total"))
        .orderBy("pid")
        .collect()
    )
    offsets, acc = {}, 0
    for r in part_totals:
        offsets[r["pid"]] = acc
        acc += r["total"]
    off_df = local_table(
        df.sparkSession,
        [(p, o) for p, o in offsets.items()],
        "pid int, part_offset long",
    )
    return (
        d.join(F.broadcast(off_df), on="pid")
        .withColumn("cum_tokens", F.col("part_offset") + F.col("local_cum"))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            F.col("id").alias(id_col),
            F.col("score").alias(score_col),
            "n_tokens",
            "cum_tokens",
        )
    )


def dsir_weights(
    source: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", unigram variant):
    score every SOURCE document by how much more likely its tokens are
    under the TARGET corpus's empirical unigram distribution than the
    source's own — ``log_ratio_sum = Σ_tok c·(ln p_t(tok) − ln
    p_s(tok))`` with add-1 (Laplace) smoothing over the UNION
    vocabulary, so target-absent tokens penalize rather than blow up.
    Returns ``(id_col, n_tokens, log_ratio_sum, log_ratio_mean)``,
    6 dp.  Resample the source proportionally to
    ``exp(log_ratio_sum)`` (or just take the top slice by
    ``log_ratio_mean``) to shift a generic crawl toward a curated
    target domain — the standard cheap alternative to training a
    quality classifier per target.

    Scale design: both corpora reduce to token-count tables (far
    smaller than the token streams); the source tf table joins the
    two frequency tables token-keyed (uniform keys), totals and |V|
    are 1-row broadcasts; no UDF anywhere.
    """
    from .text import tokens_col

    def _tf(df):
        return (
            df.select(
                F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
            )
            .filter(F.col("tok") != "")
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("__c"))
        )

    tf_s = _tf(source)
    freq_s = tf_s.groupBy("tok").agg(F.sum("__c").alias("__ns"))
    freq_t = (
        _tf(target).groupBy("tok").agg(F.sum("__c").alias("__nt"))
    )
    vocab = freq_s.select("tok").union(freq_t.select("tok")).distinct()
    consts = (
        vocab.agg(F.count(F.lit(1)).alias("__v"))
        .crossJoin(freq_s.agg(F.sum("__ns").alias("__ts")))
        .crossJoin(freq_t.agg(F.sum("__nt").alias("__tt")))
    )
    lr = (
        freq_s.join(freq_t, on="tok", how="left")
        .crossJoin(F.broadcast(consts))
        .select(
            "tok",
            (
                F.log(
                    (F.coalesce(F.col("__nt"), F.lit(0)) + 1)
                    / (F.col("__tt") + F.col("__v"))
                )
                - F.log(
                    (F.col("__ns") + 1) / (F.col("__ts") + F.col("__v"))
                )
            ).alias("__lr"),
        )
    )
    agg = (
        tf_s.join(lr, on="tok")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.round(F.sum(F.col("__c") * F.col("__lr")), 6).alias(
                "log_ratio_sum"
            ),
            F.round(
                F.sum(F.col("__c") * F.col("__lr")) / F.sum("__c"), 6
            ).alias("log_ratio_mean"),
        )
    )
    return (
        source.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "log_ratio_sum",
            "log_ratio_mean",
        )
    )


def gumbel_topk_sample(
    df: DataFrame,
    n: int,
    weight_col: str = "weight",
    key_col: str = "doc_id",
    seed: int = 42,
    method: str = "md5",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Gumbel-top-k
    trick (Vieira 2014): draw ``n`` rows with probability proportional
    to ``exp(weight_col)`` by ranking on the perturbed key ``g = w −
    ln(−ln(u))`` with a deterministic per-row uniform ``u`` (the same
    md5 coin every sampler here uses — append-stable, re-run
    identical, engine-portable).  The natural companion to
    :func:`dsir_weights`: feed its ``log_ratio_sum`` in as the weight
    and this IS DSIR's importance-resampling step.  Returns
    ``(key_col, weight_col, gumbel_key, rank)``.

    Scale design: the perturbation is one map-side expression; the
    global top-n is ``orderBy().limit(n)`` (Spark's distributed
    TakeOrdered — per-partition heaps, no full sort, no global
    window); the rank window runs over only the n surviving rows.
    """
    u = (_bucket_col(F.col(key_col), seed, method) + 0.5) / float(_HASH_MOD)
    g = F.col(weight_col).cast("double") - F.log(-F.log(u))
    keyed = df.select(F.col(key_col), F.col(weight_col), g.alias("__g"))
    return _top_k(keyed, n, [], [F.desc("__g"), F.asc(key_col)]).select(
        key_col,
        weight_col,
        F.round(F.col("__g"), 6).alias("gumbel_key"),
        "rank",
    )
