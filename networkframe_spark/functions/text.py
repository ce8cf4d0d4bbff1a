"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting.

Everything here is a pure ``pyspark.sql.functions`` column expression —
JVM-side, whole-stage-codegen'd, no Python in the hot path — and each
formula is deliberately portable to ANSI SQL so the DuckDB oracle can
replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .stats import _top_k

# A compact multilingual stopword table for the language-ID heuristic.
# (Public knowledge; top function words per language.)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for", "was", "with"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "una", "en", "que", "por", "del"],
    "it": ["il", "la", "di", "che", "e", "un", "per", "una", "sono", "con", "non"],
}

_EN_STOPWORDS = STOPWORDS["en"]


# Unicode ranges of the unsegmented scripts (no spaces between words):
# CJK unified ideographs + Japanese kana.  A whitespace tokenizer sees a
# whole CJK sentence as ONE token, silently degrading BM25, MinHash
# shingles, and token-count gates on exactly the multilingual corpora a
# large pipeline ingests — the cjk_aware mode below applies the standard
# public remedy (character n-grams for these scripts; C4/CCNet and
# Lucene's CJKAnalyzer practice).
_CJK_CLASS = "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]"


def tokens_col(
    col: str | Column = "text", mode: str = "ws", n: int = 2
) -> Column:
    """Tokenization of lowercased text → array<string>.

    ``mode="ws"`` (default): whitespace split — unchanged legacy
    behavior, every existing plan and oracle keeps its shape.

    ``mode="cjk_aware"``: whitespace split, then any token containing
    CJK ideographs or kana (``_CJK_CLASS``) expands IN PLACE into its
    character ``n``-grams (default bigrams — the Lucene CJKAnalyzer
    convention); pure-Latin tokens pass through whole, so mixed-script
    text gets sane tokens on both sides.  Tokens shorter than ``n``
    stay whole.  Pure codegen'd higher-order functions — no UDF —
    and expressible in DuckDB (list_transform + substr) for oracle
    replay.
    """
    c = F.col(col) if isinstance(col, str) else col
    ws = F.split(F.lower(F.trim(c)), r"\s+")
    if mode == "ws":
        return ws
    if mode != "cjk_aware":
        raise ValueError(
            f"tokens_col: mode must be 'ws' or 'cjk_aware', got {mode!r}"
        )

    def _expand(t: Column) -> Column:
        grams = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1))
            ),
            lambda i: t.substr(i, F.lit(n)),
        )
        return F.when(t.rlike(_CJK_CLASS), grams).otherwise(F.array(t))

    return F.filter(
        F.flatten(F.transform(ws, _expand)), lambda x: x != F.lit("")
    )


def word_tokens_col(col: str | Column = "text") -> Column:
    """BPE-ish regex tokenization: words, numbers, and single
    punctuation marks as separate tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)


def add_token_count(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "n_tokens",
    tokenizer: str = "ws",
) -> DataFrame:
    """Token count (empty text → 0).  ``tokenizer="cjk_aware"`` counts
    character bigrams for CJK/kana tokens, so an unsegmented-script
    document stops reading as 1 token (the silent length-gate failure
    mode on multilingual corpora)."""
    return df.withColumn(
        out_col,
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
            F.size(tokens_col(text_col, mode=tokenizer))
        ),
    )


def add_quality_score(
    df: DataFrame, text_col: str = "text", out_col: str = "quality_score"
) -> DataFrame:
    """Heuristic document quality in [0, 1] from cheap surface features:

    - length factor: ``least(n_chars / 1000, 1)``
    - punctuation ratio penalty (non-alphanumeric-space chars / chars)
    - stopword ratio reward (fraction of tokens in a small EN stopword
      list, saturating at 0.4)
    - mean word length sanity band (penalize <2 or >12)

    score = 0.4*length + 0.3*stopword + 0.2*(1-punct) + 0.1*wordlen

    Tokens are materialized to a column first so the regex split runs
    once per row, not once per referencing sub-expression.
    """
    c = F.col(text_col)
    toks = F.col("__q_toks")
    n_chars = F.length(c)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    punct = F.length(F.regexp_replace(F.lower(c), r"[a-z0-9\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    )
    stop_ratio = F.least(n_stop / n_tokens / F.lit(0.4), F.lit(1.0))
    mean_wl = (
        F.length(F.regexp_replace(c, r"\s+", "")) / n_tokens
    )
    wl_ok = F.when((mean_wl >= 2) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(n_chars / F.lit(1000.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.1) * wl_ok
    )
    return (
        df.withColumn("__q_toks", tokens_col(text_col))
        .withColumn(out_col, F.round(score, 6))
        .drop("__q_toks")
    )


def add_language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Heuristic language ID: character-range detection for non-Latin
    scripts, then stopword voting among Latin-script languages.

    Pure column expressions (greatest/when chains over per-language
    stopword hit counts); ties break by fixed language order.
    """
    c = F.lower(F.col(text_col))
    toks = tokens_col(text_col)
    scores = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    best = None
    for lang in STOPWORDS:
        if best is None:
            best = F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
        else:
            cand = F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            best = F.when(cand["score"] > best["score"], cand).otherwise(best)
    latin_pick = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))
    pred = (
        F.when(c.rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(c.rlike("[\\u3040-\\u30ff]"), F.lit("ja"))
        .when(c.rlike("[\\uac00-\\ud7af]"), F.lit("ko"))
        .when(c.rlike("[\\u0400-\\u04ff]"), F.lit("ru"))
        .when(c.rlike("[\\u0600-\\u06ff]"), F.lit("ar"))
        .otherwise(latin_pick)
    )
    return df.withColumn(out_col, pred)


def normalized_text_col(col: str | Column = "text") -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_col(col: str | Column = "text") -> Column:
    """128-bit content fingerprint: md5 hex of normalized text.

    md5 is identical across Spark and DuckDB, making the fingerprint an
    engine-portable document key.
    """
    return F.md5(normalized_text_col(col))


def add_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    return df.withColumn(out_col, fingerprint_col(text_col))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
# Patterns restricted to syntax Java regex and RE2 (DuckDB) agree on —
# no lookbehind, no backreferences — so the oracle reproduces them
# exactly.  Order matters (email before phone: an address's digits must
# not be half-eaten first); applied sequentially in dict order.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\-\s]{7,}\d",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
    patterns: dict[str, str] | None = None,
    token_fmt: str = "[{name}]",
) -> DataFrame:
    """Scrub PII-shaped spans from ``text_col``: each pattern is
    counted (``n_<name>`` columns) then replaced with its redaction
    token, sequentially.  The standard pre-release / pre-training
    compliance pass.

    Pure JVM ``regexp_count`` / ``regexp_replace`` column expressions —
    single scan, codegen'd, no shuffle; at corpus scale this is
    IO-bound like any map-only pass.  Counts are computed on the
    ORIGINAL text (before any replacement), so they are independent of
    pattern order even when matches of different patterns overlap.
    """
    pats = patterns or PII_PATTERNS
    out = df
    red = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        red = F.regexp_replace(red, pat, token_fmt.format(name=name.upper()))
    return out.withColumn(out_col, red)


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-relative fluency score (KenLM-lite): per document, the
    mean natural-log unigram probability of its tokens under the
    corpus's own empirical distribution — ``(id_col, n_tokens,
    logprob)``, rounded to 6 dp.  Empty documents score NULL.

    Low scores flag documents made of corpus-rare tokens (gibberish,
    encoding noise, foreign-to-the-corpus text); the standard cheap
    proxy for LM-perplexity filtering when no external model is
    available.

    Scale design: the raw explode is consumed ONCE, into the per-doc
    term-frequency table ``(doc, tok, cnt)`` (far smaller than the
    token stream); the corpus unigram table and the per-doc weighted
    average both derive from it — the tf exchange appears identically
    in both branches, so Catalyst's ReusedExchange serves the second
    read from the first shuffle's output.  Corpus total is a 1-row
    broadcast.  All shuffles key on uniform values; no UDF.
    """
    tf = (
        df.select(
            F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    freq = tf.groupBy("tok").agg(F.sum("__c").alias("__n"))
    total = freq.agg(F.sum("__n").alias("__total"))
    scored = (
        tf.join(freq, on="tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("__c"),
            (F.log(F.col("__n")) - F.log(F.col("__total"))).alias("__lp"),
        )
    )
    return (
        df.select(id_col)
        .join(
            scored.groupBy(id_col).agg(
                F.sum("__c").alias("n_tokens"),
                F.round(
                    F.sum(F.col("__c") * F.col("__lp")) / F.sum("__c"), 6
                ).alias("logprob"),
            ),
            on=id_col,
            how="left",
        )
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "logprob",
        )
    )


# Gopher rule-filter stopwords (Rae et al. 2021, appendix A1.1): a doc
# must contain at least `min_stop_hits` of these to pass rule 6.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition-free quality rules (Rae et al. 2021,
    appendix A1.1) as one boolean column per rule plus the conjunction
    ``gopher_pass`` — the standard pre-training corpus gate, kept
    per-rule so pipelines can audit WHICH rule rejected a document
    instead of losing that to a single opaque boolean.

    Rules: word count in ``[min_words, max_words]``; mean word length
    in ``[min_mean_word_len, max_mean_word_len]``; symbol-to-word
    ratio (``#`` and ``...``) at most ``max_symbol_ratio``; at most
    ``max_bullet_ratio`` of lines starting with a bullet and
    ``max_ellipsis_ratio`` ending with an ellipsis; at least
    ``min_alpha_ratio`` of words containing a letter; at least
    ``min_stop_hits`` distinct Gopher stopwords present.

    Scale design: pure per-row column expressions — tokens and lines
    are materialized once each, every rule is a codegen'd array
    aggregate over them; NO shuffle, NO UDF, map-side only (same
    shape as :func:`add_quality_score`; complements it by being the
    published-ruleset variant with auditably separate outcomes).
    """
    toks = F.col("__g_toks")
    lines = F.col("__g_lines")
    c = F.col(text_col)
    n_words = F.size(toks)
    n_words1 = F.greatest(n_words, F.lit(1))
    n_lines1 = F.greatest(F.size(lines), F.lit(1))
    mean_wl = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / n_words1
    )
    n_hash = (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).cast(
        "int"
    )
    n_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    ).cast("int")
    symbol_ratio = (n_hash + n_ellipsis) / n_words1
    bullet_ratio = (
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
        / n_lines1
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
        / n_lines1
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n_words1
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), stop_arr)
    )
    out = (
        df.withColumn("__g_toks", tokens_col(text_col))
        .withColumn("__g_lines", F.split(c, "\n"))
        .withColumn(
            "rule_word_count",
            (n_words >= min_words) & (n_words <= max_words),
        )
        .withColumn(
            "rule_mean_word_len",
            (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
        )
        .withColumn("rule_symbol_ratio", symbol_ratio <= max_symbol_ratio)
        .withColumn("rule_bullet_ratio", bullet_ratio <= max_bullet_ratio)
        .withColumn("rule_ellipsis_ratio", ellipsis_ratio <= max_ellipsis_ratio)
        .withColumn("rule_alpha_ratio", alpha_ratio >= min_alpha_ratio)
        .withColumn("rule_stopwords", stop_hits >= min_stop_hits)
    )
    rule_cols = [
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_ratio",
        "rule_ellipsis_ratio",
        "rule_alpha_ratio",
        "rule_stopwords",
    ]
    passed = F.lit(True)
    for rc in rule_cols:
        passed = passed & F.col(rc)
    return out.withColumn("gopher_pass", passed).drop("__g_toks", "__g_lines")


def clean_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """C4/Dolma-style text normalization: strip C0/C1 control
    characters, map curly quotes and en/em dashes to their ASCII
    forms, collapse runs of spaces/tabs to one space, cap blank-line
    runs at one empty line (paragraph structure survives, whitespace
    noise does not), and trim each line plus the ends.  Adds
    ``n_chars_removed`` so pipelines can audit how much cleanup did.

    Scale design: one chain of ``regexp_replace`` column expressions —
    map-side only, NO shuffle, NO UDF; the whole pass rides the scan.
    """
    out_col = out_col or text_col
    c = F.col(text_col)
    cleaned = F.regexp_replace(
        c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""
    )
    cleaned = F.regexp_replace(cleaned, "[‘’]", "'")
    cleaned = F.regexp_replace(cleaned, "[“”]", '"')
    cleaned = F.regexp_replace(cleaned, "[–—]", "-")
    cleaned = F.regexp_replace(cleaned, "[ \\t]+", " ")
    # per-line trim, then cap consecutive newlines at 2 (one blank line)
    cleaned = F.regexp_replace(cleaned, " ?\\n ?", "\n")
    cleaned = F.regexp_replace(cleaned, "\\n{3,}", "\n\n")
    cleaned = F.trim(cleaned)
    return df.withColumn(
        "n_chars_removed",
        (F.length(c) - F.length(cleaned)).cast("int"),
    ).withColumn(out_col, cleaned)


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
) -> DataFrame:
    """Corpus-relative bigram fluency score (KenLM-lite v2): per
    document, the mean natural-log probability of its tokens under a
    Jelinek-Mercer-interpolated bigram model of the corpus itself —
    ``lam * P(w|v) + (1-lam) * P(w)`` for positions 2..N, plain
    unigram ``P(w_1)`` for the first token.  Returns ``(id_col,
    n_tokens, logprob)`` rounded to 6 dp; empty documents score NULL.

    Catches word-salad documents whose individual tokens are common
    but whose SEQUENCES are corpus-improbable — the failure mode
    :func:`unigram_logprob_score` is blind to; interpolation keeps
    unseen-in-context bigrams finite without a held-out backoff fit.

    Scale design: mirrors the unigram op — the raw bigram stream is
    consumed once into a per-doc bigram tf table ``(doc, v, w, cnt)``
    (built from per-row ``slice``/``arrays_zip``, no self-join); the
    corpus bigram table, its context marginal, and the per-doc average
    all derive from it, so ReusedExchange serves every branch from one
    shuffle.  All keys are uniform token hashes; no UDF anywhere.
    """
    toks = F.col("__b_toks")
    with_toks = df.withColumn("__b_toks", tokens_col(text_col))
    pairs = with_toks.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("v"),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w"),
            )
        ).alias("vw"),
    ).select(
        id_col, F.col("vw.v").alias("v"), F.col("vw.w").alias("w")
    ).filter((F.col("v") != "") & (F.col("w") != ""))
    btf = pairs.groupBy(id_col, "v", "w").agg(F.count(F.lit(1)).alias("__c"))
    big = btf.groupBy("v", "w").agg(F.sum("__c").alias("__cvw"))
    ctx = big.groupBy("v").agg(F.sum("__cvw").alias("__cv"))
    # unigram marginal over ALL tokens (not just bigram contexts)
    utf = (
        with_toks.select(F.col(id_col), F.explode(toks).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("__uc"))
    )
    uni = utf.groupBy("tok").agg(F.sum("__uc").alias("__cw"))
    total = uni.agg(F.sum("__cw").alias("__total"))
    big_terms = (
        btf.join(big, on=["v", "w"])
        .join(ctx, on="v")
        .join(uni.withColumnRenamed("tok", "w"), on="w")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (
                F.col("__c")
                * F.log(
                    F.lit(lam) * F.col("__cvw") / F.col("__cv")
                    + F.lit(1.0 - lam) * F.col("__cw") / F.col("__total")
                )
            ).alias("__term"),
        )
    )
    first_terms = (
        with_toks.select(
            F.col(id_col), F.element_at(toks, 1).alias("tok")
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .join(uni, on="tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (F.log(F.col("__cw")) - F.log(F.col("__total"))).alias("__term"),
        )
    )
    n_toks = utf.groupBy(id_col).agg(F.sum("__uc").alias("n_tokens"))
    sums = (
        big_terms.unionByName(first_terms)
        .groupBy(id_col)
        .agg(F.sum("__term").alias("__lpsum"))
    )
    return (
        df.select(id_col)
        .join(n_toks, on=id_col, how="left")
        .join(sums, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(F.col("__lpsum") / F.col("n_tokens"), 6).alias("logprob"),
        )
    )


def char_entropy_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon character entropy in bits: ``H = -sum_c
    p_c * log2(p_c)`` over the document's own character distribution
    — ``(id_col, n_chars_counted, char_entropy)`` rounded to 6 dp.

    Low entropy flags degenerate text (repeated characters, padding,
    base64-free binary junk renders HIGH — both tails are filter
    signals); the cheap companion to
    :func:`unigram_logprob_score`'s corpus-relative fluency.

    Characters are code points via ``regexp_extract_all(text, '.')``
    — identical semantics in Java regex and RE2 for text without
    newlines (neither matches ``\\n``; newline-bearing corpora should
    pre-normalize with :func:`clean_text`).

    Scale design: same shape as the unigram tf table — one explode
    folded immediately into the per-(doc, char) count aggregate
    (alphabet-bounded: at most |alphabet| rows per doc survive the
    map-side partial agg), then a per-doc sum.  No UDF; the log/sum
    arithmetic follows this repo's oracle convention (double terms,
    6 dp final round).
    """
    cf = (
        df.select(
            F.col(id_col),
            F.explode(
                # backtick-quoted: a caller column named e.g. "my col"
                # must not be parsed as SQL
                F.expr(f"regexp_extract_all(`{text_col}`, '.', 0)")
            ).alias("__ch"),
        )
        .groupBy(id_col, "__ch")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_doc = (
        cf.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_chars_counted"),
            F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clogc"),
        )
        .select(
            id_col,
            "n_chars_counted",
            F.round(
                (
                    F.log(F.col("n_chars_counted"))
                    - F.col("__clogc") / F.col("n_chars_counted")
                )
                / F.log(F.lit(2.0)),
                6,
            ).alias("char_entropy"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_chars_counted", F.lit(0)).alias("n_chars_counted"),
            "char_entropy",
        )
    )


def build_vocab(
    df: DataFrame,
    size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-prep vocabulary: the ``size`` most frequent tokens
    with their counts, document frequency, and CUMULATIVE corpus
    coverage — ``(rank, token, n_occurrences, n_docs, coverage)``
    where coverage is the running fraction of the token stream a
    vocabulary truncated at this rank would retain (the curve that
    picks a vocab size).  Ties rank alphabetically; coverage at 6 dp.

    Scale design: one explode folded into the (token) hash agg (two
    counts in one pass: occurrences + document frequency via
    countDistinct), then ONE bounded top-``size`` sort and a running
    window over only ``size`` rows — the unbounded token table never
    sorts globally.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col), F.explode(tokens_col(text_col)).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
    )
    total = tf.agg(F.sum("n_occurrences").alias("__total"))
    top = _top_k(tf, size, [], [F.desc("n_occurrences"), F.asc("tok")])
    # running sum over the ranked rows only; rank is unique, so the
    # frame is exactly the rows at or above this one
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return top.crossJoin(F.broadcast(total)).select(
        "rank",
        F.col("tok").alias("token"),
        "n_occurrences",
        "n_docs",
        F.round(F.sum("n_occurrences").over(w) / F.col("__total"), 6).alias(
            "coverage"
        ),
    )


def pmi_bigrams(
    df: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining by pointwise mutual information: adjacent
    token pairs with ``count >= min_count`` scored
    ``pmi = ln(P(ab) / (P(a) P(b)))`` under the corpus's own unigram/
    bigram distributions — ``(w1, w2, n_pair, pmi)`` at 6 dp, the
    classic phrase-detection signal (word2vec phrases, Gensim).

    Scale design: the bigram stream is a per-row slice/zip expression
    (no self-join); one hash agg each for bigram and unigram tables;
    the unigram marginals join back on uniform token keys.  The
    ``min_count`` gate prunes the long tail BEFORE the joins.
    """
    toks = df.select(
        F.filter(tokens_col(text_col), lambda x: x != F.lit("")).alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n_uni = uni.agg(F.sum("__c").alias("__n"))
    big = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                    F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    # the marginal P(ab) denominator covers ALL bigrams; the min_count
    # gate then prunes the long tail before the unigram joins
    n_big = big.agg(F.sum("n_pair").alias("__nb"))
    big = big.filter(F.col("n_pair") >= min_count)
    return (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("__c").alias("__c1")),
            on="w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("__c").alias("__c2")),
            on="w2",
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(F.col("n_pair") / F.col("__nb"))
                - F.log(F.col("__c1") / F.col("__n"))
                - F.log(F.col("__c2") / F.col("__n")),
                6,
            ).alias("pmi"),
        )
    )


def zipf_fit(
    df: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: rank
    tokens by frequency (ties broken by token) and OLS-fit
    ``ln(freq)`` against ``ln(rank)`` over the ``top_n`` head tokens.
    Returns ONE row ``(n_distinct_tokens, n_fit, zipf_slope,
    zipf_intercept)`` at 6 dp — natural language sits near slope -1;
    a much flatter or steeper head flags boilerplate floods or
    truncated vocabularies (the classic corpus-health diagnostic).

    Numerics: both log coordinates are rounded to 6 dp FIRST (after
    which the engines agree bit-exactly — a 1-ulp libm difference
    survives 6-dp rounding with probability ~1e-9) and accumulated as
    DECIMALs, so the moment sums are exact and order-independent;
    only the final slope/intercept division is floating.

    Scale design: one explode feeding one token hash aggregate; the
    head selection is a distributed TakeOrdered (``orderBy().limit()``
    — never a global sort materialization), the rank window runs over
    only the ``top_n`` surviving rows, and the vocabulary size rides
    along as a 1-row broadcast.
    """
    freq = (
        df.select(F.explode(tokens_col(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_distinct = freq.agg(F.count(F.lit(1)).alias("n_distinct_tokens"))
    ranked = _top_k(freq, top_n, [], [F.desc("n"), F.asc("tok")]).select(
        "rank", "n"
    )
    dec = "decimal(14,6)"
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast(dec)
    y = F.round(F.log(F.col("n").cast("double")), 6).cast(dec)
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    k = F.col("n_fit").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    den = k * sxx - sx * sx
    slope = (k * sxy - sx * sy) / den
    return (
        n_distinct.crossJoin(F.broadcast(m))
        .select(
            "n_distinct_tokens",
            "n_fit",
            F.when(den <= 0, F.lit(None).cast("double"))
            .otherwise(F.round(slope, 6))
            .alias("zipf_slope"),
            F.when(den <= 0, F.lit(None).cast("double"))
            .otherwise(F.round((sy - slope * sx) / k, 6))
            .alias("zipf_intercept"),
        )
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    max_word_len: int = 64,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Train byte-pair-encoding merges on the corpus (Sennrich et al.
    2016): starting from characters, repeatedly merge the most
    frequent adjacent symbol pair (ties by pair ascending — the
    deterministic convention), applying each merge greedily
    left-to-right non-overlapping within words.  Returns the learned
    tokenizer: ``(merge_rank, left, right, pair_count)`` — one row
    per merge, rank 1 first.

    Everything happens on the WORD-FREQUENCY table, not the token
    stream — after one corpus pass (explode + count), a 100 TB corpus
    collapses to a vocabulary-sized working set, which is what makes
    distributed BPE training tractable.  Words longer than
    ``max_word_len`` characters are dropped (runaway
    no-whitespace blobs would dominate the symbol table).

    Scale design — NO driver collect anywhere: each round is (1) a
    posexplode pair count (hash aggregate on the symbol pair), (2) a
    1-row ``orderBy().limit(1)`` argmax that re-enters the plan as a
    broadcast (crossJoin of one row), and (3) the merge application
    as a codegen'd ``aggregate`` fold over each word's symbol array
    (greedy leftmost semantics by construction: the fold replaces the
    accumulator's tail exactly when it equals the winning pair).  The
    word table is lazily checkpointed every ``checkpoint_every``
    rounds so lineage stays bounded.  The DuckDB twin replays the
    identical rounds with a windowed islands formulation (overlapping
    matches resolved to the same leftmost-greedy selection), so
    results are engine-portable.
    """
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    words = (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(
            (F.col("word") != "") & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(chars.alias("s"), "freq")
        .localCheckpoint(eager=False)
    )
    merges = None
    for r in range(1, n_merges + 1):
        pairs = (
            words.select(
                F.col("freq"),
                F.explode(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.greatest(F.size("s") - 1, F.lit(0))),
                        F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
        )
        best = (
            pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .select(
                F.lit(r).alias("merge_rank"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.col("c").alias("pair_count"),
            )
            .localCheckpoint(eager=False)
        )
        merges = best if merges is None else merges.unionAll(best)
        # greedy leftmost fold: replace the accumulator tail when it
        # equals (left, right); a just-merged tail can't re-merge
        folded = F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("__l"))
                & (x == F.col("__r")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.crossJoin(
            F.broadcast(
                best.select(
                    F.col("left").alias("__l"), F.col("right").alias("__r")
                )
            )
        ).select(folded.alias("s"), "freq")
        if r % checkpoint_every == 0:
            words = words.localCheckpoint(eager=False)
    return merges


def bpe_encode(
    df: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = 64,
) -> DataFrame:
    """Apply trained BPE merges (:func:`bpe_train` output, or a list
    of ``(left, right)`` pairs in rank order) and report per-document
    BPE token counts: ``(id_col, n_chars_in_words, n_bpe_tokens,
    compression)`` where ``compression = chars / tokens`` at 6 dp
    (NULL for wordless documents) — the "how well does my tokenizer
    compress this corpus" measurement that closes the train/apply
    loop.  Words longer than ``max_word_len`` are skipped, mirroring
    training.

    Scale design: the merge table is vocabulary-sized by construction
    (``n_merges`` rows), so collecting it to build the expression
    chain is a bounded driver value — each merge becomes one
    codegen'd greedy-leftmost fold over the word's symbol array, and
    the whole encode is a single map-side expression pipeline feeding
    one per-doc hash aggregate.  No shuffle beyond the final count.
    """
    if hasattr(merges, "collect"):
        rows = sorted(
            ((r["merge_rank"], r["left"], r["right"]) for r in merges.collect())
        )
        pairs = [(l, r) for _, l, r in rows]
    else:
        pairs = list(merges)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    def _merge_fold(l: str, r: str):
        # closure factory: pyspark counts lambda parameters, so the
        # captured pair can't ride as default arguments
        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    syms = chars
    for l, r in pairs:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), _merge_fold(l, r)
        )
    per_word = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= max_word_len))
        .select(
            F.col(id_col),
            F.length("word").alias("__nc"),
            F.size(syms).alias("__nt"),
        )
    )
    agg = per_word.groupBy(id_col).agg(
        F.sum("__nc").alias("n_chars_in_words"),
        F.sum("__nt").alias("n_bpe_tokens"),
    )
    return (
        df.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_chars_in_words", F.lit(0)).alias("n_chars_in_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.round(F.col("n_chars_in_words") / F.col("n_bpe_tokens"), 6),
            ).alias("compression"),
        )
    )


def script_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document writing-script composition: the fraction of
    characters that are basic Latin letters, digits, whitespace, CJK
    ideographs, Cyrillic, or anything else — ``(id_col, n_chars,
    latin_ratio, digit_ratio, space_ratio, cjk_ratio, cyrillic_ratio,
    other_ratio)`` at 6 dp (empty documents report NULL ratios).
    The cheap script-mix gate multilingual pipelines run before
    language ID: mixed-script spam, mojibake, and wrong-corpus
    documents all show up here first.

    Scale design: each count is ``length(s) - length(regexp_replace
    (s, class, ''))`` — pure codegen'd column expressions, zero
    shuffle, zero UDF; explicit Unicode ranges so both engines (and
    any future one) agree on class membership.
    """
    classes = {
        "latin": "[A-Za-z]",
        "digit": "[0-9]",
        "space": r"[ \t\n\r]",
        "cjk": "[\\x{4E00}-\\x{9FFF}]",
        "cyrillic": "[\\x{0400}-\\x{04FF}]",
    }
    s = F.col(text_col)
    n = F.length(s)
    counts = {
        name: n - F.length(F.regexp_replace(s, pat, ""))
        for name, pat in classes.items()
    }
    other = n - sum(counts.values(), F.lit(0))
    ratio = lambda c: F.when(n > 0, F.round(c / n, 6))  # noqa: E731
    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        ratio(counts["latin"]).alias("latin_ratio"),
        ratio(counts["digit"]).alias("digit_ratio"),
        ratio(counts["space"]).alias("space_ratio"),
        ratio(counts["cjk"]).alias("cjk_ratio"),
        ratio(counts["cyrillic"]).alias("cyrillic_ratio"),
        ratio(other).alias("other_ratio"),
    )


def lexical_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary richness: ``(id_col, n_tokens,
    n_types, ttr, hapax_frac)`` — type-token ratio (distinct/total)
    and the fraction of types occurring exactly once, both at 6 dp
    (empty documents report zeros with NULL ratios).  Low TTR flags
    template/boilerplate floods; a collapsing hapax fraction flags
    synthetic or looped text — cheap complements to the repetition
    score.

    Scale design: ONE explode into the per-doc term-frequency table
    (the same skew-free (doc, token) key as the LM scores), then one
    per-doc hash aggregate — never the O(L²) per-row
    count-occurrences expression.
    """
    tf = (
        df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = tf.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("__c") == 1, 1)).alias("__hapax"),
    )
    return (
        df.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_types") / F.col("n_tokens"), 6),
            ).alias("ttr"),
            F.when(
                F.col("n_types") > 0,
                F.round(F.col("__hapax") / F.col("n_types"), 6),
            ).alias("hapax_frac"),
        )
    )


def sentence_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sentence segmentation statistics: split on
    ``.!?`` runs and report ``(id_col, n_sentences, mean_sentence_tokens,
    max_sentence_tokens)`` at 6 dp — the Gopher-adjacent structure
    check (no sentence boundaries at all, or absurdly long
    "sentences", both flag non-prose).  Sentences are non-empty
    segments; token counts are whitespace words.

    Scale design: pure per-row array expressions — one regex split,
    one filter, one transform, three array aggregates; zero shuffle,
    zero UDF.
    """
    segs = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    tok_counts = F.transform(
        segs, lambda s: F.size(F.split(s, r"\s+"))
    )
    n = F.size(segs)
    total = F.aggregate(tok_counts, F.lit(0), lambda acc, x: acc + x)
    return df.select(
        F.col(id_col),
        n.alias("n_sentences"),
        F.when(n > 0, F.round(total / n, 6)).alias("mean_sentence_tokens"),
        F.when(n > 0, F.array_max(tok_counts)).alias("max_sentence_tokens"),
    )
