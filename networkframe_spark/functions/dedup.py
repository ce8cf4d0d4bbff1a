"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design for scale (SURVEY §7 phase 3 / BASELINE north star):

- Exact dedup is one hash aggregate over a 128-bit content key — the
  100 TB workhorse; no shuffle beyond the groupBy.
- Candidate generation for near-dup never does an n^2 comparison:
  MinHash bands, SimHash bands, and shared-shingle joins each bucket
  the corpus so only same-bucket pairs meet, then exact verification
  runs on the (small) candidate set.
- All hash functions are engine-portable (md5-derived), so the DuckDB
  oracle can reproduce signatures bit-for-bit.
- Wide expressions (SimHash's per-bit votes and packing chain, MinHash's
  per-permutation mins, signature array and band keys) are built as one
  SQL string each through ``F.expr``.  Every PySpark ``Column`` call is
  wrapped to record its Python call site, which costs about ten py4j
  round trips per call; a 60-bit SimHash built op by op made ~10k round
  trips before any action.  The SQL form is one wrapped call and one
  call site per expression, with the same analyzed expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_table, shuffle_partitions
from ..store import (
    append_once,
    check_family,
    exists,
    read_manifest,
    write_manifest,
)

from .text import fingerprint_col, normalized_text_col, tokens_col

# MinHash universal-hash parameters: h_i(x) = (a_i * x + b_i) mod P.
# P is the largest prime < 2^31; (a_i, b_i) fixed odd/arbitrary
# constants derived from a seeded linear sequence so both engines can
# enumerate them identically.
MINHASH_PRIME = 2147483647


def minhash_params(n_perm: int) -> list[tuple[int, int]]:
    params = []
    a, b = 1103515245, 12345  # classic LCG multipliers, deterministic
    x = 42
    for _ in range(n_perm):
        x = (a * x + b) % MINHASH_PRIME
        ai = (2 * x + 1) % MINHASH_PRIME  # odd, nonzero
        x = (a * x + b) % MINHASH_PRIME
        bi = x
        params.append((ai, bi))
    return params


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a (materialized) token array.

    Built with sequence/transform — JVM-side, reproducible in DuckDB
    with list comprehensions over ``string_split``.  Pass an attribute
    reference to an already-projected token column: inlining the
    tokenizer expression here makes Catalyst re-run the regex split per
    sub-expression (~7x slower at corpus scale).
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingles_col(
    col: str | Column = "text", n: int = 3, tokenizer: str = "ws"
) -> Column:
    """Distinct word n-gram shingles of the normalized text (inline
    tokenizer — prefer :func:`shingles_from_tokens` over a materialized
    token column in hot paths).  ``tokenizer="cjk_aware"`` expands
    CJK/kana tokens into character bigrams first (see
    :func:`~networkframe_spark.functions.text.tokens_col`), so
    unsegmented-script documents shingle over real units instead of
    whole sentences."""
    return shingles_from_tokens(tokens_col(col, mode=tokenizer), n)


def shingle_hash_col(shingle: Column) -> Column:
    """Portable 60-bit integer hash of a shingle string."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint.

    Returns ``(id_col, fingerprint, canonical_id, is_duplicate)`` where
    ``canonical_id`` is the min id sharing the fingerprint.  One hash
    aggregate + one broadcast-able join; at 100 TB this is a single
    shuffle keyed on the 128-bit fingerprint (uniform, skew-free).
    """
    with_fp = df.select(F.col(id_col), fingerprint_col(text_col).alias("fingerprint"))
    canon = with_fp.groupBy("fingerprint").agg(F.min(id_col).alias("canonical_id"))
    return (
        with_fp.join(canon, on="fingerprint")
        .select(
            id_col,
            "fingerprint",
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Filtered view: keep one representative (min id) per fingerprint."""
    marks = exact_duplicates(df, text_col, id_col)
    keep = marks.filter(~F.col("is_duplicate")).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------
def _shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """(id, shingle) long table, one row per distinct doc-shingle pair.

    ``max_df`` drops shingles appearing in more than ``max_df``
    documents BEFORE any pair join: a stopword-like shingle shared by
    m docs would otherwise create an m^2 same-key bucket in the
    shingle self-join (the classic dedup skew-killer at corpus scale).
    The cap is one partial-aggregated groupBy + a semi-join — both
    keyed on the shingle hash, both skew-tolerant.  Dropped shingles
    leave BOTH the candidate join and the set sizes, so downstream
    Jaccard stays a true Jaccard over the filtered sets.
    """
    sh = (
        df.withColumn("__toks", tokens_col(text_col, mode=tokenizer))
        .select(
            F.col(id_col).alias("id"),
            F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("sh"),
        )
        .filter(F.col("sh") != "")
        .distinct()
    )
    if max_df is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("sh")
        )
        sh = sh.join(keep, on="sh", how="left_semi")
    return sh


def ngram_jaccard_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingle
    sets: pairs sharing >= 1 shingle meet in a shuffle keyed on the
    shingle, shared counts aggregate per pair, and
    ``J = shared / (|A| + |B| - shared)`` filters at ``threshold``.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Scale note: the shingle join only materializes co-occurring pairs,
    but a stopword-like super-common shingle creates a quadratic
    same-key bucket — set ``max_df`` at corpus scale to drop shingles
    above that document frequency before the self-join (see
    :func:`_shingle_table`; default off, which is exact and fine at
    fixture scale).
    """
    sh = _shingle_table(df, text_col, id_col, n, max_df=max_df).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-subset pairs by shingle CONTAINMENT:
    ``C(small in big) = shared / min(|A|, |B|)``.  Catches the cases
    symmetric Jaccard structurally misses — a paragraph quoted inside a
    much longer document, boilerplate wrapped around a copied body —
    where the union term dilutes J below any usable threshold even
    though one side is almost entirely inside the other.

    Returns ``(id_a, id_b, containment)`` with ``id_a < id_b``; the
    contained (smaller-set) side is whichever of the pair has fewer
    shingles.  Same plan shape and ``max_df`` skew cap as
    :func:`ngram_jaccard_duplicates` — one shingle-keyed self-join plus
    one pair aggregate.
    """
    sh = _shingle_table(df, text_col, id_col, n, max_df=max_df).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), on="sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    shingle_n: int = 3,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """Per-document MinHash signature as ``sig`` array<bigint>.

    One explode + one hash aggregate: ``min((a_i*h + b_i) mod P)`` per
    permutation, h = portable shingle hash.  All JVM-side.
    ``max_df`` (corpus scale) drops stopword-like shingles before
    hashing — see :func:`_shingle_table`.
    """
    params = minhash_params(n_perm)
    sh = _shingle_table(
        df, text_col, id_col, shingle_n, max_df=max_df, tokenizer=tokenizer
    )
    # materialize the shingle hash once; the n_perm aggregates then
    # reference the attribute instead of re-deriving md5 per permutation
    hashed = sh.withColumn(
        "h", shingle_hash_col(F.col("sh")) % MINHASH_PRIME
    ).select("id", "h")
    sig = hashed.groupBy("id").agg(
        *[
            F.expr(f"min((({a} * h) + {b}) % {MINHASH_PRIME}) AS h{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    hs = ", ".join(f"h{i}" for i in range(n_perm))
    return sig.select(F.col("id").alias(id_col), F.expr(f"array({hs}) AS sig"))


def _minhash_band_keys(n_perm: int, bands: int) -> Column:
    """``bk``: the exploded ``(band, key)`` structs of a ``sig`` column,
    ``key`` being the band's ``n_perm // bands`` signature values joined
    by ``_`` — the one band layout of the table, fuzzy and index
    paths.  ``bands`` must divide ``n_perm``: more bands than
    permutations give every document the same empty key (an all-pairs
    candidate join), and a remainder would drop permutations."""
    if not 1 <= bands <= n_perm or n_perm % bands:
        raise ValueError(
            f"MinHash bands must be in [1, n_perm] and divide n_perm={n_perm}, "
            f"got {bands}"
        )
    rows_per_band = n_perm // bands
    structs = ", ".join(
        f"struct({b} AS band, concat_ws('_'"
        + "".join(
            f", CAST(element_at(sig, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band)
        )
        + ") AS key)"
        for b in range(bands)
    )
    return F.expr(f"explode(array({structs})) AS bk")


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """LSH band-bucket table ``(id, band, key)``: the MinHash signature
    split into ``bands`` bands of ``n_perm // bands`` rows, each band's
    values concatenated into a string bucket key.  Two documents are
    near-dup CANDIDATES iff they share a (band, key) bucket.  This is
    the unit of incremental state for the streaming near-dup path
    (:func:`networkframe_spark.streaming.ops.neardup_increment`): band
    rows are a pure per-document function, so they can be computed for
    a micro-batch alone and unioned into a persisted band table.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, n_perm, shingle_n, max_df=max_df,
        tokenizer=tokenizer,
    )
    return sigs.select(
        F.col(id_col).alias("id"), _minhash_band_keys(n_perm, bands)
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def jaccard_verify(
    cand: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs
    ``(id_a, id_b)`` against the corpus ``df``: returns the pairs with
    ``jaccard >= threshold`` as ``(id_a, id_b, jaccard)`` (6 dp).
    Pair scores depend only on the two documents' own shingle sets, so
    verification over any superset corpus gives identical results —
    the property the incremental streaming path relies on.

    Scale note (r14, measured): restricting the shingle pass to the
    candidates' documents (semi-join on the pair ids before
    ``_shingle_table``) was implemented and A/B'd — a WASH at 100k
    clustered docs / 5-batch folds and −20% on the sf0.1 twin (the
    candidate generator re-runs for the id scan, and the semi-join
    shuffle costs more than the map-side shingling it saves), so the
    straightforward full-``df`` shingle pass is kept.  For streaming
    corpora where re-verification cost matters, the scalable path is
    the persisted MinHash index (`stream_index_add(index="minhash")`
    + `minhash_index_duplicates(delta_docs=...)`) whose state is
    append-only and whose decision needs no shingle recomputation.
    """
    sh = _shingle_table(
        df, text_col, id_col, shingle_n, max_df=max_df, tokenizer=tokenizer
    ).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), "sh")
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    shared = (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on=[cand.id_b == sh_b.id_b, F.col("sh") == sh_b.sh_b])
        .groupBy("id_a", cand.id_b.alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    verify: bool = True,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """MinHash-LSH near-dup pairs: signature → band buckets →
    same-bucket candidate pairs → (optional) exact Jaccard verification.

    With ``n_perm=32, bands=8`` (rows r=4 per band) the S-curve crosses
    ~0.59; candidates above ``threshold`` survive verification.
    Returns ``(id_a, id_b, jaccard)`` (jaccard null when verify=False).
    ``max_df`` applies the document-frequency cap consistently to both
    the signature and the verification shingle tables (corpus-scale
    skew control; default off = exact).
    """
    banded = minhash_band_table(
        df, text_col, id_col, n_perm, bands, shingle_n, max_df=max_df,
        tokenizer=tokenizer,
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand.withColumn("jaccard", F.lit(None).cast("double"))
    return jaccard_verify(
        cand, df, text_col, id_col, shingle_n, threshold, max_df=max_df,
        tokenizer=tokenizer,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """SimHash per document: per-bit vote of token hashes packed into a
    ``bits``-wide integer.  Returns ``(id_col, simhash)``.

    Plan shape: explode tokens → hash each token ONCE (materialized
    projection) → one hash aggregate with ``bits`` conditional sums →
    pack.  One shuffle keyed on the doc id with map-side partial
    aggregation.  (A naive per-bit array-aggregate would recompute the
    md5 per bit — 60x the hash work.)  ``bits`` is at most 60, the
    width of the token hash.
    """
    if not 1 <= bits <= 60:
        raise ValueError(
            f"simhash: bits must be in [1, 60] (the token hash has 60 bits), got {bits}"
        )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("w")
    )
    hashed = toks.withColumn("h", shingle_hash_col(F.col("w"))).select("id", "h")
    votes = hashed.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN ((shiftright(h, {j}) & 1) = 1) THEN 1 ELSE -1 END) AS v{j}"
            )
            for j in range(bits)
        ]
    )
    packed = " + ".join(
        f"CASE WHEN (v{j} > 0) THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return votes.select(F.col("id").alias(id_col), F.expr(f"{packed} AS simhash"))


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the hash into ``bands`` chunks
    (pigeonhole: hamming <= bands-1 guarantees one exact band match),
    join on (band, chunk), verify with bit_count(xor) <= max_hamming.

    Returns ``(id_a, id_b, hamming)``.  ``bands`` is at most ``bits``:
    a zero-bit band would put every document in one bucket.
    """
    if not 1 <= bands <= bits:
        raise ValueError(f"simhash_duplicates: bands must be in [1, bits], got {bands}")
    chunk = bits // bands
    mask = (1 << chunk) - 1
    hashed = simhash_table(df, text_col, id_col, bits).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sh")
    )
    structs = ", ".join(
        f"struct({b} AS band, (shiftright(sh, {b * chunk}) & {mask}) AS key)"
        for b in range(bands)
    )
    banded = hashed.select(
        "id", "sh", F.expr(f"explode(array({structs})) AS bk")
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
#: Target bucket density for the LSH auto-plane policy (rows per
#: bucket per table).  Measured on the clustered non-replicated 64-dim
#: fixture at 500k and 2M (tools/bench_planes_sweep.py, SCALE.md r16):
#: the script has since been removed; the numbers recorded there stand.
#: wall falls monotonically as density drops across the whole measured
#: range (488 -> 30 rows: 641s -> 124s at 500k; 2036s -> 382s at 2M)
#: because the candidate join's pair count is quadratic per bucket,
#: while recall on planted 0.99-cosine pairs stays EXACTLY 1.0 at the
#: default 12 tables — so the adopted target is the lowest MEASURED
#: density (30), where the 4x-span exponent is also best (0.81 vs
#: 1.07 at 244 rows).  The banding-overhead floor sits below the
#: measured range; going lower is extrapolation, not measurement.
LSH_TARGET_BUCKET_ROWS = 30


def auto_n_planes(
    n_rows: int,
    threshold: float,
    n_tables: int,
    target_rows: int = LSH_TARGET_BUCKET_ROWS,
    miss_budget: float = 0.01,
) -> int:
    """The measured n_planes policy (r15 verdict task 6): the
    Arrow-verify A/B proved the LSH dedup lever is FEWER CANDIDATES,
    not a faster verify, so planes should track corpus size — density
    ``n / 2^planes`` held near the measured optimum — capped by the
    S-curve so recall never silently collapses:

    - density term: ``round(log2(n / target_rows))`` keeps bucket
      density constant as the corpus grows (the r14 constant-density
      operating rule, now the default instead of documentation);
    - recall cap: the largest ``planes`` with miss probability
      ``(1 - p^planes)^n_tables <= miss_budget`` at the requested
      threshold (``p = 1 - acos(t)/pi``).  At t=0.99 / 12 tables the
      cap is ~24 (never binds); at t=0.8 it binds hard (planes ~5)
      — low-threshold LSH inherently needs coarse bands or more
      tables, and the policy surfaces that instead of shredding
      recall;
    - clamped to [4, 16] (16 = the partitioned-store directory-count
      rule of thumb; 4 = below that the bucket count stops bucketing).
    """
    import math

    density = round(math.log2(max(n_rows, 1) / target_rows)) if n_rows > target_rows else 4
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    cap = 4
    for k in range(4, 33):
        if (1.0 - p ** k) ** n_tables <= miss_budget:
            cap = k
        else:
            break
    return min(16, max(4, min(density, cap)))


def embedding_duplicates(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    mode: str = "auto",
    exact_max_rows: int = 20_000,
    n_planes: int | None = None,
    n_tables: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity >= threshold.
    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    Two physical strategies:

    - ``exact``: all-pairs broadcast join — bit-exact, O(n^2).  Only
      legal under ``exact_max_rows`` (broadcast and pair count both
      bounded); above the guard it raises rather than silently planning
      a corpus-scale cartesian.
    - ``lsh``: the 100 TB path.  Random-hyperplane signatures over
      ``n_tables`` independent tables bucket the corpus; only
      same-bucket pairs get exact cosine verification, so the join is a
      shuffle keyed on (table, bucket) — no ``CartesianProduct`` /
      ``BroadcastNestedLoopJoin`` anywhere in the plan.  Probabilistic
      recall: a true pair at cosine ``t`` is missed with probability
      ``(1 - p^n_planes)^n_tables``, ``p = 1 - acos(t)/pi`` — defaults
      give ~1e-3 miss at t=0.95; raise ``n_tables`` to push it down.

    ``mode="auto"`` picks exact under the row guard (one cheap
    limit+count job), LSH above it.

    ``n_planes=None`` (the default since r16 — the adopted policy)
    resolves via :func:`auto_n_planes` (one count job on the LSH
    path): bucket density held at ``LSH_TARGET_BUCKET_ROWS`` as the
    corpus grows, capped by the S-curve recall budget at the
    requested threshold.  Pass an int to pin the banding explicitly
    (every registered oracle does, for determinism across scale
    factors).
    """
    if mode not in ("auto", "exact", "lsh"):
        raise ValueError("mode must be 'auto', 'exact' or 'lsh'")
    if mode == "auto":
        n = df.limit(exact_max_rows + 1).count()
        mode = "exact" if n <= exact_max_rows else "lsh"
        checked = True
    else:
        checked = False
    if mode == "exact":
        return _embedding_duplicates_exact(
            df, emb_col, id_col, threshold, exact_max_rows, check=not checked
        )
    if n_planes is None:
        n_planes = auto_n_planes(df.count(), threshold, n_tables)
    return _embedding_duplicates_lsh(
        df, emb_col, id_col, threshold, n_planes, n_tables, dim
    )


def _embedding_duplicates_exact(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float,
    exact_max_rows: int,
    check: bool = True,
) -> DataFrame:
    """All-pairs scoring, guarded: correctness baseline for small /
    pre-blocked inputs only."""
    from .similarity import dot_expr, norm_expr, pair_score

    if check and df.limit(exact_max_rows + 1).count() > exact_max_rows:
        raise ValueError(
            f"exact embedding dedup refused: >{exact_max_rows} rows "
            "(would plan an O(n^2) cartesian + unbounded broadcast); "
            "use mode='lsh'"
        )
    # norms are per-row, not per-pair: compute them once on each side
    # of the join (identical float path to dividing inside the pair).
    # The left side is repartitioned so the pair scoring parallelizes
    # even when the input is a single small parquet partition.
    n_part = shuffle_partitions(df.sparkSession)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("emb_a"),
        norm_expr(F.col(emb_col)).alias("norm_a"),
    ).repartition(n_part)
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("emb_b"),
        norm_expr(F.col(emb_col)).alias("norm_b"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            pair_score(
                dot_expr(F.col("emb_a"), F.col("emb_b")), "norm_a", "norm_b"
            )[1],
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _embedding_duplicates_lsh(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float,
    n_planes: int,
    n_tables: int,
    dim: int | None,
) -> DataFrame:
    """Banded self-join: explode each row into its ``n_tables`` bucket
    keys, equi-join on (table, bucket), dedupe candidate pairs, verify
    with exact cosine.  The only shuffles are the bucket join and the
    pair dedup — both keyed, both AQE-skew-splittable."""
    from .similarity import (
        _lsh_band,
        _lsh_dim,
        _lsh_planes,
        dot_expr,
        norm_expr,
        pair_score,
    )

    dim = _lsh_dim(df, emb_col, dim, "embedding_duplicates")
    tables = _lsh_planes(n_planes, n_tables, dim)
    n_part = shuffle_partitions(df.sparkSession)
    carry = [
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        norm_expr(F.col(emb_col), dim).alias("norm"),
    ]
    banded = _lsh_band(df.repartition(n_part), carry, emb_col, tables)
    a = banded.select(
        "table", "bucket",
        F.col("id").alias("id_a"), F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = banded.select(
        "table", "bucket",
        F.col("id").alias("id_b"), F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    # Score BEFORE deduplicating (same plan shape as lsh_top_k,
    # similarity.py): cosine is a pure function of the pair, so every
    # multi-table collision computes the identical value and the
    # max-aggregate IS the value (bit-exact).  Dedup-first would move
    # both embeddings (2 x dim doubles) per candidate through the
    # Deduplicate exchange; score-first + threshold-first shuffles
    # only the (id_a, id_b, cosine) survivors, and the hash aggregate
    # partially combines map-side.  The threshold filter commutes past
    # the dedup because the per-pair value is deterministic.
    cand = a.join(b, on=["table", "bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            pair_score(
                # dim resolved above -> codegen unroll (r14: the
                # interpreted fold was the 2M-corpus verify bottleneck)
                dot_expr(F.col("emb_a"), F.col("emb_b"), dim),
                "norm_a",
                "norm_b",
            )[1].alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# cluster assignment over near-dup pairs
# ---------------------------------------------------------------------------
def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a near-dup PAIR table into per-document CLUSTER assignments:
    connected components over the pair graph, ``cluster_id`` = min doc
    id in the component.  Returns ``(id_col, cluster_id, is_duplicate)``
    for EVERY row of ``df`` (singletons are their own cluster,
    ``is_duplicate = false``).

    This is the step pair-emitting dedup (MinHash-LSH / SimHash /
    n-gram Jaccard / embedding) needs before it can actually drop rows:
    near-duplication is not transitive pairwise, so keeping "one per
    pair" over-deletes chains (A~B, B~C keeps only A) unless pairs are
    first closed into clusters.  Reuses the engine's hierarchical
    partition-local union-find CC (:mod:`networkframe_spark.algorithms`
    — shuffle-free local contraction + min-label stitching), so it
    inherits the same near-linear scaling as ``weak_components``.
    """
    from ..algorithms import _weak_component_min_labels
    from ..frame import NetworkFrame

    nodes = df.select(F.col(id_col).alias("id"))
    edges = pairs.select(
        F.col("id_a").alias("source"), F.col("id_b").alias("target")
    )
    labels = _weak_component_min_labels(NetworkFrame(nodes, edges))
    return labels.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("id") != F.col("comp")).alias("is_duplicate"),
    )


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop near-duplicates: keep exactly one representative (the min
    id) per :func:`duplicate_clusters` cluster.  One left-semi join —
    ``df``'s columns pass through untouched."""
    keep = (
        duplicate_clusters(df, pairs, id_col=id_col)
        .filter(~F.col("is_duplicate"))
        .select(F.col(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def semantic_dedup(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    threshold: float = 0.9,
    init: str = "first_ids",
    exact_max_cluster_rows: int = 20_000,
    score: str = "arrow",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    partition the corpus into ``n_clusters`` cosine cells around seed
    centroids, then emit near-duplicate pairs (cosine >= threshold)
    WITHIN each cell only.  Returns ``(id_a, id_b, cluster, cosine)``
    with ``id_a < id_b``, cosine rounded to 6 dp.

    The cluster pass is what makes embedding dedup tractable at
    corpus scale: all-pairs work drops from O(n^2) to
    O(sum_c n_c^2), and each cell's pair join is an equi-join on the
    cluster id — shuffle-partitionable, AQE-skew-splittable.

    ``init`` picks the centroids:

    - ``"first_ids"``: the ``n_clusters`` corpus vectors with the
      smallest ids.  Fully deterministic AND SQL-expressible, so the
      whole operator is oracle-checkable (the quality of the cells is
      fixture-grade, not production-grade).
    - ``"kmeans"``: deterministic Lloyd iterations via
      :func:`~networkframe_spark.functions.similarity.ivf_fit_centroids`
      — the production path (better-balanced cells, same plan shape
      downstream).

    Assignment is a broadcast argmax over the ``n_clusters`` seed
    vectors (map-side, one row_number window keyed on the vector id);
    ties break toward the lowest cluster id for engine portability.

    ``score`` picks the within-cell pair engine:

    - ``"arrow"`` (default, the 100 TB path): one ``applyInPandas``
      per cell — normalized numpy matmul in row blocks, ~10-100x the
      expression fold for wide vectors; the cell is the Arrow group,
      so parallelism = #cells and peak memory = block x cell.
    - ``"expr"``: codegen'd ``zip_with``/``aggregate`` fold per pair —
      pure-SQL semantics, the DuckDB-oracle twin.  Both paths round to
      6 dp; they agree except for pairs whose true cosine sits within
      float-noise of the threshold.
    """
    from .similarity import dot_expr, norm_expr, pair_score
    from .stats import _top_k

    if init not in ("first_ids", "kmeans"):
        raise ValueError("init must be 'first_ids' or 'kmeans'")
    if score not in ("arrow", "expr"):
        raise ValueError("score must be 'arrow' or 'expr'")
    if init == "first_ids":
        seeds = (
            df.orderBy(F.col(id_col).asc())
            .limit(n_clusters)
            .select(
                F.col(id_col).alias("__seed_id"),
                F.col(emb_col).alias("__seed_emb"),
            )
        )
    else:
        from .similarity import ivf_fit_centroids

        cents = ivf_fit_centroids(
            df, n_lists=n_clusters, id_col=id_col, emb_col=emb_col
        )
        seeds = local_table(
            df.sparkSession,
            [(i, list(map(float, c))) for i, c in enumerate(cents)],
            "__seed_id long, __seed_emb array<double>",
        )

    if score == "arrow":
        assigned = _assign_cells_arrow(df, seeds, id_col, emb_col)
    else:
        emb, seed = F.col(emb_col), F.col("__seed_emb")
        scored = df.select(
            F.col(id_col), F.col(emb_col)
        ).crossJoin(F.broadcast(seeds)).select(
            F.col(id_col),
            F.col(emb_col),
            F.col("__seed_id"),
            # 6-dp rounding before the argmax: engine float-sum order
            # can differ below ~1e-7, and equal-rounded sims tie-break
            # on the seed id identically everywhere — portable
            pair_score(
                dot_expr(emb, seed), norm_expr(emb), norm_expr(seed)
            )[1].alias("__sim"),
        )
        order = [F.desc("__sim"), F.asc("__seed_id")]
        assigned = _top_k(scored, 1, [id_col], order, "__rn").select(
            F.col(id_col), F.col(emb_col), F.col("__seed_id").alias("cluster")
        )
    if exact_max_cluster_rows is not None:
        # localCheckpoint (not persist): the guard job materializes the
        # assignment once and both sides of the pair join below reuse
        # it, but the blocks are RDD-scoped — the ContextCleaner frees
        # them when the returned DataFrame becomes unreachable, whereas
        # a CacheManager persist would pin a corpus-sized table for the
        # whole session unless the caller remembered to unpersist
        assigned = assigned.localCheckpoint(eager=True)
        row = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n").alias("__m"))
            .first()
        )
        biggest = row["__m"] or 0
        if biggest > exact_max_cluster_rows:
            raise ValueError(
                f"semantic_dedup refused: largest cluster has {biggest} "
                f"rows (> {exact_max_cluster_rows}); its within-cell "
                "pair join would be an n_c^2 blowup — raise n_clusters "
                "(cells must shrink as the corpus grows) or pass "
                "exact_max_cluster_rows=None to override"
            )
    if score == "arrow":
        return _cell_pairs_arrow(assigned, id_col, emb_col, threshold)
    # norms precompute PER ROW, not per pair: higher-order-function
    # folds (zip_with/aggregate) run interpreted, so norms inside the
    # pair expression cost three folds per pair — one dot per pair plus
    # two norms per row is ~3x cheaper on the O(Σ n_c²) pair set, and
    # dot/(na*nb) is the bit-identical expression tree
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("__emb_a"),
        norm_expr(F.col(emb_col)).alias("__na"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("__emb_b"),
        norm_expr(F.col(emb_col)).alias("__nb"),
    )
    pairs = (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            pair_score(
                dot_expr(F.col("__emb_a"), F.col("__emb_b")), "__na", "__nb"
            )[1],
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cluster", "cosine")
    )
    return pairs


def _assign_cells_arrow(
    df: DataFrame, seeds: DataFrame, id_col: str, emb_col: str
) -> DataFrame:
    """Arrow twin of the crossJoin+window assignment: the seed matrix
    (k x dim — tiny) rides into every task closure; each input batch
    does one normalized matmul + rounded argmax.  Seeds sorted by id
    ascending make numpy's first-max argmax reproduce the expr path's
    (max sim, lowest seed id) tie-break exactly."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .similarity import round_half_up

    seed_rows = sorted(
        ((r["__seed_id"], r["__seed_emb"]) for r in seeds.collect()),
        key=lambda t: t[0],
    )
    sid = np.asarray([t[0] for t in seed_rows])
    S = np.asarray([t[1] for t in seed_rows], dtype=np.float64)
    snorm = np.linalg.norm(S, axis=1)
    snorm[snorm == 0] = 1.0
    Sn = S / snorm[:, None]

    in_schema = df.select(id_col, emb_col).schema
    out_schema = T.StructType(
        [
            in_schema[id_col],
            in_schema[emb_col],
            T.StructField("cluster", seeds.schema["__seed_id"].dataType),
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
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    emb_col: pdf[emb_col].to_numpy(),
                    "cluster": sid[np.argmax(sims, axis=1)],
                }
            )

    return df.select(id_col, emb_col).mapInPandas(fn, out_schema)


def _cell_pairs_arrow(
    assigned: DataFrame,
    id_col: str,
    emb_col: str,
    threshold: float,
    block: int = 2048,
) -> DataFrame:
    """Within-cell near-dup pairs via one Arrow batch per cluster:
    normalize once, then block-wise ``X_b @ X.T`` so peak memory is
    ``block x n_c`` floats regardless of cell size.  Emits the upper
    triangle only (global ``id_a < id_b`` via min/max)."""
    import pandas as pd

    from pyspark.sql import types as T

    from .similarity import round_half_up

    id_type = assigned.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cluster", assigned.schema["cluster"].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def fn(key, pdf):
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cluster": [], "cosine": []}
            )
        X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        ids = pdf[id_col].to_numpy()
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            S = round_half_up(Xn[lo:hi] @ Xn.T, 6)
            rr, cc = np.nonzero(S >= threshold)
            keep = cc > rr + lo  # upper triangle in GLOBAL row index
            if keep.any():
                out_a.append(ids[rr[keep] + lo])
                out_b.append(ids[cc[keep]])
                out_c.append(S[rr[keep], cc[keep]])
        if not out_a:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cluster": [], "cosine": []}
            )
        ia = np.concatenate(out_a)
        ib = np.concatenate(out_b)
        cs = np.concatenate(out_c)
        lo_id = np.minimum(ia, ib)
        hi_id = np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo_id, "id_b": hi_id, "cluster": key[0], "cosine": cs}
        )

    return assigned.groupBy("cluster").applyInPandas(fn, schema)


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    tokenizer: str = "ws",
) -> DataFrame:
    """Cross-corpus NEAR-duplicate contamination: training documents
    whose shingle-set Jaccard with any eval document reaches
    ``threshold``.  The fuzzy complement of the exact 13-gram
    ``ngram_decontaminate`` (GPT-3 style) — catches paraphrased or
    lightly-edited eval leakage that exact n-gram matching misses.
    Returns ``(train_id, eval_id, jaccard)``; drop matched train ids
    with a left-anti join on the result.

    ``bands >= 1`` is the scale path: MinHash band buckets computed on
    BOTH corpora, candidates = cross-side bucket collisions only, exact
    Jaccard verified for candidates alone (same S-curve as
    :func:`minhash_lsh_duplicates`).  ``bands=0`` is the exhaustive
    mode — every cross pair sharing >= 1 shingle is verified, which for
    ``threshold > 0`` is exact and therefore SQL-oracle-checkable (the
    same degenerate-mode trick as single-bucket LSH / full-probe IVF).

    Scale design: shingle and band tables are keyed on uniform hashes
    (``max_df`` caps boilerplate-shingle skew); the eval side is
    typically tiny — AQE broadcasts both its band table and its
    shingle table, so the train corpus is never shuffled, only
    scanned.
    """
    sh_t = _shingle_table(
        train, text_col, id_col, shingle_n, max_df=max_df,
        tokenizer=tokenizer,
    )
    sh_e = _shingle_table(
        eval_df, text_col, id_col, shingle_n, max_df=max_df,
        tokenizer=tokenizer,
    )
    shared = (
        sh_t.select(F.col("id").alias("train_id"), "sh")
        .join(sh_e.select(F.col("id").alias("eval_id"), "sh"), on="sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    if bands:

        def banded(df: DataFrame, out: str) -> DataFrame:
            sigs = minhash_signatures(
                df, text_col, id_col, n_perm, shingle_n, max_df=max_df,
                tokenizer=tokenizer,
            )
            return sigs.select(
                F.col(id_col).alias(out), _minhash_band_keys(n_perm, bands)
            ).select(out, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

        cand = (
            banded(train, "train_id")
            .join(banded(eval_df, "eval_id"), on=["band", "key"])
            .select("train_id", "eval_id")
            .distinct()
        )
        shared = shared.join(cand, on=["train_id", "eval_id"], how="left_semi")
    sizes_t = sh_t.groupBy("id").agg(F.count(F.lit(1)).alias("n_t"))
    sizes_e = sh_e.groupBy("id").agg(F.count(F.lit(1)).alias("n_e"))
    return (
        shared.join(sizes_t.withColumnRenamed("id", "train_id"), on="train_id")
        .join(sizes_e.withColumnRenamed("id", "eval_id"), on="eval_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("n_t") + F.col("n_e") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("train_id", "eval_id", "jaccard")
    )


def dedup_corpus(
    df: DataFrame,
    method: str = "minhash_lsh",
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_path: str | None = None,
    index_build_params: dict | None = None,
) -> DataFrame:
    """End-to-end corpus deduplication — the one-call convenience a
    pipeline actually invokes: find near-duplicate pairs with
    ``method`` (``"exact"`` | ``"minhash_lsh"`` | ``"ngram_jaccard"``
    | ``"snm"`` | ``"containment"`` | ``"minhash_index"``),
    fold them into clusters (:func:`duplicate_clusters`), and KEEP one
    representative per cluster (the minimum id).  Returns the
    surviving rows of ``df`` unchanged, plus ``cluster_id`` so lineage
    survives the drop.

    ``method="minhash_index"`` reuses a PERSISTED banding
    (``index_path`` from :func:`build_minhash_index` over the same
    corpus) instead of re-shingling/re-signing/re-banding ``df`` —
    the decision is the signature-agreement estimate (same estimator
    as :func:`minhash_index_decontaminate`), not the exact
    shingle-Jaccard the transient methods verify with.  COLD START:
    when no store exists at ``index_path`` yet, the call builds one
    over ``df`` first (:func:`build_minhash_index` with
    ``index_build_params``, defaulting to that function's defaults)
    and then self-dedups against it — one call works cold and warm,
    and the store it leaves behind is the real deliverable: the next
    call (or :func:`minhash_index_add` append + delta probe, or the
    ``stream_index_add`` duty cycle) pays only the delta, never a
    re-shingle of the corpus.

    Scale shape is whatever the chosen pair finder has (banded LSH by
    default — no all-pairs path); the fold is the union-find CC over
    pairs only, and the final keep is one semi-filter on
    ``id = cluster_id``.
    """
    if method == "exact":
        labeled = exact_duplicates(df, id_col=id_col, text_col=text_col)
        keep = labeled.filter(~F.col("is_duplicate")).select(
            id_col, F.col("canonical_id").alias("cluster_id")
        )
        return df.join(keep, on=id_col)
    if method == "minhash_lsh":
        pairs = minhash_lsh_duplicates(
            df, threshold=threshold, id_col=id_col, text_col=text_col
        ).select(F.col("id_a"), F.col("id_b"))
    elif method == "ngram_jaccard":
        pairs = ngram_jaccard_duplicates(
            df, threshold=threshold, id_col=id_col, text_col=text_col
        ).select(F.col("id_a"), F.col("id_b"))
    elif method == "snm":
        # order-based generator (r12): O(n x window) candidates, no
        # shingle self-join anywhere — same exact-Jaccard verify
        pairs = snm_duplicates(
            df, threshold=threshold, id_col=id_col, text_col=text_col
        ).select(F.col("id_a"), F.col("id_b"))
    elif method == "containment":
        # near-subset folding (quotes/boilerplate Jaccard misses)
        pairs = containment_duplicates(
            df, threshold=threshold, id_col=id_col, text_col=text_col
        ).select(F.col("id_a"), F.col("id_b"))
    elif method == "minhash_index":
        if index_path is None:
            raise ValueError(
                "dedup_corpus(method='minhash_index') needs index_path "
                "(a build_minhash_index store over this corpus, or the "
                "location the cold-start build should leave one at)"
            )
        import os as _os

        spark = df.sparkSession
        if not exists(spark, _os.path.join(index_path, "meta")):
            build_minhash_index(
                df,
                index_path,
                id_col=id_col,
                text_col=text_col,
                **(index_build_params or {}),
            )
        pairs = minhash_index_duplicates(
            spark, index_path, threshold=threshold
        ).select(F.col("id_a"), F.col("id_b"))
    else:
        raise ValueError(
            "method must be 'exact', 'minhash_lsh', 'ngram_jaccard', "
            "'snm', 'containment', or 'minhash_index'"
        )
    clusters = duplicate_clusters(df, pairs, id_col=id_col)
    return df.join(
        clusters.filter(F.col(id_col) == F.col("cluster_id")).select(
            id_col, "cluster_id"
        ),
        on=id_col,
    )


def similar_strings(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    ngram: int = 3,
    prefix_len: int | None = 40,
    max_df: int = 1000,
    min_shared="auto",
) -> DataFrame:
    """Edit-distance similarity join on short strings: candidate
    pairs must share ``ngram``-grams, sit within a ``max_dist``
    length band, AND clear the q-gram COUNT filter (Gravano et al.
    2001: ``k`` edits destroy at most ``k·q`` grams, so true matches
    share at least ``min(len) - (q-1) - k·q`` of them — computed on
    distinct-gram sets here, so the bound is additionally capped at
    each string's distinct-gram count: a highly repetitive string
    ("ab"*20 has 2 distinct 3-grams) can never share more grams than
    it HAS, and without the cap even exact duplicates of such strings
    would be pruned), then survive an exact ``levenshtein`` check.
    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b`` — typo-level
    near-duplicate detection for titles, URLs, product names.
    ``prefix_len`` truncates long values first (None = whole string);
    strings shorter than ``ngram`` generate no candidates.  This is a
    candidate FILTER join, not an exhaustive one; the recall contract
    is the gram+count rule itself (mirrored verbatim by the SQL
    twin).  ``min_shared``: "auto" = the length-derived bound above;
    an int pins it explicitly; 1 disables count pruning.

    Scale design: candidates come from an equi-join on the gram key —
    never an all-pairs product; grams appearing in more than
    ``max_df`` strings are dropped before the join (the stopword-gram
    skew cap — on low-entropy corpora where most grams are common,
    LOWER this: the join cost is Σ_gram df²), the count filter is one
    hash aggregate on the pair key, and only count-cleared pairs in
    the length band reach the O(n·m) ``F.levenshtein``
    verification (JVM-side).
    """
    if ngram < 1 or max_dist < 0:
        raise ValueError("similar_strings: ngram >= 1 and max_dist >= 0")
    sv = F.col(col) if prefix_len is None else F.substring(F.col(col), 1, prefix_len)
    base = df.select(F.col(id_col).alias("id"), sv.alias("sv"))
    grams = base.select(
        "id",
        "sv",
        F.explode(
            # NB: Spark's sequence(1, 0) DESCENDS instead of being
            # empty, so short strings need the explicit guard (the
            # DuckDB twin's generate_series(1, 0) is empty natively)
            F.when(
                F.length("sv") >= ngram,
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.length("sv") - (ngram - 1)
                        ),
                        lambda i: F.substring(F.col("sv"), i, ngram),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gr"),
    )
    rare = (
        grams.groupBy("gr")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("gr")
    )
    gg = grams.join(rare, on="gr", how="left_semi")
    # per-string distinct-gram counts AFTER the max_df cut — __shared
    # can never exceed these, so they cap the auto threshold below
    ng = gg.groupBy("id").agg(F.count(F.lit(1)).alias("__ng"))
    gg = gg.join(ng, on="id")
    # the candidate join carries only (id, length) — never the string
    # payload: the gram join multiplies rows by Σ df², and shuffling
    # 40-char strings through it dominated the wall clock (measured
    # 30s → 3s at sf0.1 after this change); strings rejoin AFTER the
    # count filter, when candidates are few
    a = gg.select(
        F.col("gr"),
        F.col("id").alias("id_a"),
        F.length("sv").alias("la"),
        F.col("__ng").alias("na"),
    )
    b = gg.select(
        F.col("gr"),
        F.col("id").alias("id_b"),
        F.length("sv").alias("lb"),
        F.col("__ng").alias("nb"),
    )
    cand = (
        a.join(b, on="gr")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_dist)
        )
        .groupBy("id_a", "id_b", "la", "lb", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    if min_shared == "auto":
        thr = F.greatest(
            F.lit(1),
            F.least(
                F.least(F.col("la"), F.col("lb"))
                - (ngram - 1)
                - max_dist * ngram,
                F.least(F.col("na"), F.col("nb")),
            ),
        )
    else:
        thr = F.lit(int(min_shared))
    sel = cand.filter(F.col("__shared") >= thr)
    sa = base.select(F.col("id").alias("id_a"), F.col("sv").alias("sa"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sv").alias("sb"))
    d = F.levenshtein("sa", "sb")
    return (
        sel.join(sa, on="id_a")
        .join(sb, on="id_b")
        .filter(d <= max_dist)
        .select("id_a", "id_b", d.alias("dist"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: Column | str,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo
    1995 merge/purge): rows are laid out in the global sort order of
    ``(key, id)`` and every pair within ``window`` positions becomes
    a candidate — the classic blocking method for entity resolution,
    complementing this module's hash-bucket families (MinHash /
    SimHash / q-gram) with an ORDER-based one (catches near-dups
    whose prefixes sort adjacently even when token sets diverge).
    Returns ``(id_a, id_b, gap)`` with ``id_a`` the earlier-sorted
    row and ``1 <= gap < window``; each qualifying pair appears
    exactly once.  Chain a verifier over the candidates exactly as
    :func:`similar_strings` does (levenshtein / Jaccard on the pair
    set) — the primitive stays metric-free.

    Scale design: the global rank uses the two-phase range-sort
    scheme (``repartitionByRange`` + per-partition ``row_number`` +
    a driver prefix-sum of the partition counts — NO single-partition
    window; ranks are invariant to where the sampled range boundaries
    fall, and a lazy ``localCheckpoint`` pins one boundary draw so
    the offsets and the ranks they correct always agree).  Pairing is
    ONE equi-join on ``floor(rank / window)`` — every in-window pair
    lands in the same or the next block, so the left side explodes to
    two block keys and the join output is O(n x window) with
    perfectly uniform keys (consecutive ranks), never O(n^2).
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    k = F.col(key) if isinstance(key, str) else key
    spark = df.sparkSession
    d = df.select(F.col(id_col).alias("id"), k.alias("k"))
    n_part = shuffle_partitions(spark)
    d = d.repartitionByRange(n_part, "k", "id").withColumn(
        "pid", F.spark_partition_id()
    )
    local = Window.partitionBy("pid").orderBy("k", "id")
    d = d.withColumn("lrn", F.row_number().over(local)).localCheckpoint(
        eager=False
    )
    counts = (
        d.groupBy("pid").agg(F.max("lrn").alias("n")).orderBy("pid").collect()
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["pid"]] = acc
        acc += r["n"]
    off_df = local_table(
        spark, [(p, o) for p, o in offsets.items()], "pid int, part_offset long"
    )
    ranked = d.join(F.broadcast(off_df), on="pid").select(
        "id", (F.col("part_offset") + F.col("lrn") - 1).alias("rn")
    )
    blk = F.floor(F.col("rn") / window)
    left = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(blk, blk + 1)).alias("jb"),
    )
    right = ranked.select(
        F.col("id").alias("id_b"),
        F.col("rn").alias("rn_b"),
        blk.alias("jb"),
    )
    return (
        left.join(right, on="jb")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") < window)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("rn_b") - F.col("rn_a")).cast("int").alias("gap"),
        )
    )


def snm_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: Column | str | list | tuple | None = None,
    window: int = 10,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Sorted-neighborhood near-duplicates: the
    :func:`sorted_neighborhood_pairs` blocking pass (default key =
    the lowercased 16-char text prefix) verified with the family's
    exact word-``n``-gram Jaccard — the same
    ``shared / (|A| + |B| - shared)`` arithmetic and 6-dp round as
    :func:`ngram_jaccard_duplicates`, so thresholds are directly
    comparable across generators (contract test: exhaustive window
    reproduces it bit-exactly).  Returns ``(id_a, id_b, jaccard)``
    with ``id_a < id_b`` (family convention; the SNM sort order only
    decides candidacy, not orientation).

    Scale design: candidates are O(n_rows x window) from one block
    equi-join (never the shingle self-join's sum-of-df^2 exposure —
    SNM needs no ``max_df`` cap because no shingle bucket is ever
    joined with itself).  Verification joins each candidate pair to a
    per-doc DISTINCT-shingle-set table (one row per doc, built in one
    map-side pass) on uniform id keys and computes the overlap with a
    codegen'd ``array_intersect`` — candidate-sized rows end to end,
    with no pair x shingle explode and no re-aggregation exchange
    (measured at 2M docs: the explode-join shape shuffled ~1e9 rows;
    this shape moves 2 x candidates rows of ~n_shingles strings).
    The trade is recall: only pairs whose keys sort within ``window``
    positions are examined, the blocking assumption Hernandez &
    Stolfo 1995 names — measure it with
    :func:`~networkframe_spark.functions.similarity.pair_recall_report`
    against the exhaustive finder when tuning key/window.  The
    textbook production remedy is MULTI-PASS SNM: pass a LIST of
    keys and each runs its own sort pass, candidate sets unioned
    (deduped) before the single verify — a pair only needs to sort
    adjacently under ONE key to be found, and verification cost
    still scales with the (deduped) candidate count, not the pass
    count.
    """
    if key is None:
        keys = [F.lower(F.substring(F.col(text_col), 1, 16))]
    elif isinstance(key, (list, tuple)):
        keys = list(key)
    else:
        keys = [key]
    cand = None
    for k in keys:
        c = sorted_neighborhood_pairs(
            df, k, id_col=id_col, window=window
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        cand = c if cand is None else cand.unionByName(c)
    if len(keys) > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    # one row per doc: the distinct shingle SET (same set
    # _shingle_table explodes — distinct, empty-string dropped)
    sh_set = df.withColumn("__toks", tokens_col(text_col)).select(
        F.col(id_col).alias("id"),
        F.filter(
            shingles_from_tokens(F.col("__toks"), n), lambda s: s != ""
        ).alias("shs"),
    )
    scored = (
        cand.join(
            sh_set.select(
                F.col("id").alias("id_a"), F.col("shs").alias("shs_a")
            ),
            on="id_a",
        )
        .join(
            sh_set.select(
                F.col("id").alias("id_b"), F.col("shs").alias("shs_b")
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("shared"),
            F.size("shs_a").alias("n_a"),
            F.size("shs_b").alias("n_b"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# persisted MinHash index (lexical twin of similarity.build_lsh_index)
# ---------------------------------------------------------------------------
def _mh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int,
    bands: int,
    shingle_n: int,
    max_df: int | None,
    n_kmod: int,
) -> DataFrame:
    """One banded row per (document, band), CARRYING the full MinHash
    signature: ``(doc_id, sig, band, key, kmod)`` — the persisted
    storage layout, shared by build / add / probe so the three can
    never drift.  ``kmod = pmod(xxhash64(key), n_kmod)`` folds the
    unbounded band-key space into a bounded partition-directory space
    (band × kmod dirs) so probes prune at file listing."""
    sigs = minhash_signatures(
        df, text_col, id_col, n_perm, shingle_n, max_df=max_df
    )
    banded = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col("sig"),
        _minhash_band_keys(n_perm, bands),
    )
    return banded.select(
        "doc_id",
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.pmod(F.xxhash64(F.col("bk.key")), F.lit(n_kmod)).alias("kmod"),
    )


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_df: int | None = None,
    n_kmod: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "error",
) -> dict:
    """Build and persist a MinHash LSH index over a DOCUMENT corpus —
    the lexical twin of the embedding family's
    :func:`~networkframe_spark.functions.similarity.build_lsh_index`:
    the corpus is shingled, signed, and banded ONCE offline into
    ``<path>/mbands`` parquet PARTITIONED BY ``(band, kmod)``
    (signature carried per band row, the standard LSH-table
    duplication), with the parameters in ``<path>/meta``.

    This is the decontamination duty cycle at 100 TB:
    :func:`fuzzy_decontaminate` re-shingles and re-signs the ENTIRE
    train corpus on every call, but eval sets arrive monthly and the
    train corpus changes by appends — band it once, absorb appends via
    :func:`minhash_index_add`, and every
    :func:`minhash_index_decontaminate` probe reads only the band
    directories the eval set's keys hash into.  ``kmod`` folds the
    unbounded key space into ``n_kmod`` directories per band, so the
    store has at most ``bands × n_kmod`` partitions and a probe scans
    only the (band, kmod) cells the eval batch touches.
    Compact after adds with
    :func:`~networkframe_spark.functions.similarity.index_compact`;
    health via :func:`~networkframe_spark.functions.similarity.
    index_stats` (both know this layout:
    ``networkframe_spark.store.INDEX_DATA_LAYOUT``).
    """
    import os as _os

    rows = _mh_band_rows(
        corpus, id_col, text_col, n_perm, bands, shingle_n, max_df, n_kmod
    )
    rows.write.mode(mode).partitionBy("band", "kmod").parquet(
        _os.path.join(path, "mbands")
    )
    meta = {
        "n_perm": n_perm,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_df": max_df,
        "n_kmod": n_kmod,
    }
    write_manifest(corpus.sparkSession, path, "meta", meta, mode)
    return meta


def minhash_index_add(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedupe: bool = True,
) -> None:
    """Incremental MinHash-index maintenance: shingle/sign/band
    ``new_docs`` with the STORED parameters and append into the
    partition directories — nothing existing is read or rewritten
    (mirror of ``lsh_index_add``; band membership is a pure function
    of the stored deterministic parameters, so post-add probing is
    identical to a full rebuild over the union).  With
    ``dedupe=True`` the batch anti-joins ALL doc_ids present in band 0
    (every document appears in every band, so band 0 is definitive):
    replayed adds append zero rows, and a re-add of an existing id with
    CHANGED text — which would land in different kmod cells and leave
    two conflicting signature sets for one id — is also dropped.  The
    scan is 1/bands of the store and reads only the ``doc_id`` column;
    to mutate an existing document, remove-then-rebuild (the store is
    append-only by contract).
    """
    import os as _os

    check_family(spark, path, "minhash", "minhash_index_add")
    meta = read_manifest(spark, path, "meta")
    rows = _mh_band_rows(
        new_docs, id_col, text_col, int(meta["n_perm"]), int(meta["bands"]),
        int(meta["shingle_n"]), meta.get("max_df"), int(meta["n_kmod"]),
    )
    # all of band 0, NOT pruned to the batch's kmod cells: a re-add of
    # an existing id with changed text lands in other kmod directories,
    # and only the unpruned scan still sees (and drops) it
    append_once(
        spark, rows, _os.path.join(path, "mbands"), ("band", "kmod"),
        "doc_id", dedupe, home={"band": 0}, prune_cols=(),
    )


def minhash_index_decontaminate(
    spark,
    path: str,
    eval_df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe a persisted MinHash index with an eval set: returns
    ``(train_id, eval_id, est_jaccard)`` for every banded collision
    whose SIGNATURE-estimated Jaccard (fraction of agreeing MinHash
    components — the unbiased estimator banding is built on) reaches
    ``threshold``.  The whole decision — banding, collision, estimate —
    is a deterministic function of the stored parameters, so the
    operator is exactly SQL-replayable with no exhaustive-mode trick
    (the driver oracle replays the LCG signatures, the band join, and
    the component-agreement count verbatim).  For the exact
    shingle-Jaccard decision re-verify the returned pairs with
    :func:`fuzzy_decontaminate` restricted to the matched ids; the
    estimator's error is priced by ``fuzzy_decon_recall``'s oracle.

    Scale: the eval side bands map-side with the stored params; the
    scan of ``<path>/mbands`` carries a per-band ``kmod IN (...)``
    partition filter (collected from the eval bands — at most
    bands × n_kmod values), so file listing prunes to the touched
    cells; the join keys on (band, key); the estimate is one
    ``zip_with`` over the two carried signatures — no shingle
    recomputation for the train corpus, ever.
    """
    import os as _os

    meta = read_manifest(spark, path, "meta")
    n_perm = int(meta["n_perm"])
    ev = _mh_band_rows(
        eval_df, id_col, text_col, n_perm, int(meta["bands"]),
        int(meta["shingle_n"]), meta.get("max_df"), int(meta["n_kmod"]),
    ).select(
        F.col("doc_id").alias("eval_id"),
        F.col("sig").alias("e_sig"),
        "band",
        "key",
        "kmod",
    ).localCheckpoint(eager=True)
    store_all = spark.read.parquet(_os.path.join(path, "mbands"))
    wanted: dict[int, set] = {}
    for r in ev.select("band", "kmod").distinct().collect():
        wanted.setdefault(int(r["band"]), set()).add(int(r["kmod"]))
    if not wanted:
        # derive id types from the store / eval schemas — a string-id
        # corpus must get a string-typed empty frame, not a long one
        from pyspark.sql.types import DoubleType, StructField, StructType

        return local_table(
            spark,
            [],
            StructType(
                [
                    StructField(
                        "train_id", store_all.schema["doc_id"].dataType
                    ),
                    StructField("eval_id", eval_df.schema[id_col].dataType),
                    StructField("est_jaccard", DoubleType()),
                ]
            ),
        )
    # a large eval batch can touch every (band, kmod) cell — the OR
    # predicate would then prune nothing and only cost evaluation time
    n_cells = int(meta["bands"]) * int(meta["n_kmod"])
    if sum(len(v) for v in wanted.values()) >= n_cells:
        store = store_all
    else:
        pred = None
        for b, kmods in sorted(wanted.items()):
            clause = (F.col("band") == b) & F.col("kmod").isin(sorted(kmods))
            pred = clause if pred is None else (pred | clause)
        store = store_all.filter(pred)
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("e_sig"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    return (
        store.join(ev, on=["band", "key", "kmod"])
        .select(
            F.col("doc_id").alias("train_id"),
            F.col("eval_id"),
            F.round(agree / F.lit(float(n_perm)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("train_id", "eval_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def minhash_index_duplicates(
    spark,
    path: str,
    threshold: float = 0.5,
    delta_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus SELF-dedup against a persisted MinHash index: returns
    ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b`` for every banded
    collision inside the store whose signature-agreement estimate
    reaches ``threshold`` — the same replay-verbatim estimator as
    :func:`minhash_index_decontaminate`, pointed at the biggest
    recurring 100 TB job.  :func:`dedup_corpus` re-shingles, re-signs,
    and re-bands the whole corpus on EVERY call;
    :func:`build_minhash_index` already persisted exactly the banding
    that call would recompute, so self-dedup becomes a self-join within
    the stored ``(band, key)`` buckets — zero shingle recomputation.

    Incremental duty cycle (``delta_docs`` given): after
    :func:`minhash_index_add` of a new batch, pass the SAME batch here
    and only the delta's pairs are found — new x old and new x new —
    by re-banding just the delta map-side (deterministic, so it equals
    the stored rows) and probing the store with the decontaminate
    path's ``(band, kmod IN ...)`` partition-pruned scan.  Appending a
    batch therefore costs O(delta x collisions), never a re-band of
    the accumulated corpus; pairs among pre-existing documents were
    already reported by earlier cycles, so the union over cycles
    equals one full :func:`minhash_index_duplicates` over the final
    store (add-then-selfdup == rebuild, contract-tested).

    Scale: the full mode is one self-equi-join keyed on
    ``(band, key, kmod)`` — Spark shuffles both sides by the bucket
    key, each bucket pairs locally, and the estimate is a ``zip_with``
    over the two CARRIED signatures (no text column is ever read);
    bucket blow-up is bounded by the LSH banding itself, exactly as in
    :func:`minhash_lsh_duplicates`.  Mirrors reference scope
    (networkframe has no dedup surface; SURVEY §2.11 extension).
    """
    import os as _os

    meta = read_manifest(spark, path, "meta")
    n_perm = int(meta["n_perm"])
    store_path = _os.path.join(path, "mbands")

    def _est(sig_a, sig_b):
        agree = F.size(
            F.filter(
                F.zip_with(F.col(sig_a), F.col(sig_b), lambda a, b: a == b),
                lambda x: x,
            )
        )
        return F.round(agree / F.lit(float(n_perm)), 6).alias("est_jaccard")

    if delta_docs is None:
        store = spark.read.parquet(store_path)
        left = store.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            "band",
            "key",
            "kmod",
        )
        right = store.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            "band",
            "key",
            "kmod",
        )
        pairs = left.join(right, on=["band", "key", "kmod"]).filter(
            F.col("id_a") < F.col("id_b")
        )
        scored = pairs.select("id_a", "id_b", _est("sig_a", "sig_b"))
    else:
        # delta probe: band ONLY the new batch map-side with the stored
        # params; the store scan partition-prunes to the (band, kmod)
        # cells the delta touches, exactly like decontaminate's probe
        dv = _mh_band_rows(
            delta_docs, id_col, text_col, n_perm, int(meta["bands"]),
            int(meta["shingle_n"]), meta.get("max_df"), int(meta["n_kmod"]),
        ).select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            "band",
            "key",
            "kmod",
        ).localCheckpoint(eager=True)
        wanted: dict[int, set] = {}
        for r in dv.select("band", "kmod").distinct().collect():
            wanted.setdefault(int(r["band"]), set()).add(int(r["kmod"]))
        if not wanted:
            from pyspark.sql.types import (
                DoubleType,
                StructField,
                StructType,
            )

            id_t = delta_docs.schema[id_col].dataType
            return local_table(
                spark,
                [],
                StructType(
                    [
                        StructField("id_a", id_t),
                        StructField("id_b", id_t),
                        StructField("est_jaccard", DoubleType()),
                    ]
                ),
            )
        # full-coverage deltas prune nothing — skip the OR predicate
        n_cells = int(meta["bands"]) * int(meta["n_kmod"])
        if sum(len(v) for v in wanted.values()) >= n_cells:
            store = spark.read.parquet(store_path)
        else:
            pred = None
            for b, kmods in sorted(wanted.items()):
                clause = (F.col("band") == b) & F.col("kmod").isin(
                    sorted(kmods)
                )
                pred = clause if pred is None else (pred | clause)
            store = spark.read.parquet(store_path).filter(pred)
        right = store.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            "band",
            "key",
            "kmod",
        )
        # new x old appears once (one side fixed in the delta); new x
        # new appears in both orientations — canonicalize to (min, max)
        # and the groupBy below folds the mirror image away
        pairs = dv.join(right, on=["band", "key", "kmod"]).filter(
            F.col("id_a") != F.col("id_b")
        )
        scored = pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            _est("sig_a", "sig_b"),
        )
    return (
        scored.filter(F.col("est_jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )
