"""Grouped distribution statistics over event/metric tables: exact and
approximate percentiles.

Scale-extension operators (no reference counterpart).  The exact path
is the oracle-checkable one; the approximate path is the 100 TB one —
same call shape, so pipelines can flip a flag when the group
cardinality makes exact sorting unreasonable.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_partitions


def _pct_alias(p: float) -> str:
    # 0.5 -> p50, 0.99 -> p99, 0.999 -> p99_9
    return "p" + f"{p * 100:g}".replace(".", "_")


def group_percentiles(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    ps: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group percentiles of ``value_col``: one row per group with a
    ``pXX`` column per requested percentile (linear interpolation at
    rank ``p*(n-1)`` — the ANSI ``percentile_cont`` definition), each
    rounded to 6 dp, plus ``n_rows``.

    ``exact=True`` uses ``F.percentile`` — a full per-group sort,
    deterministic and oracle-exact; right while groups fit an executor
    (it is still one partial/final hash aggregate, not a window).
    ``exact=False`` switches to ``F.approx_percentile`` (KLL-sketch,
    mergeable, bounded memory per group) — the only sane choice when a
    single group holds billions of rows; results are
    rank-error-bounded by ``1/accuracy``, not exact, so the oracle
    contract only covers the exact path.
    """
    keys = [by] if isinstance(by, str) else list(by)
    v = F.col(value_col).cast("double")
    fn = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, accuracy)
    )
    aggs = [
        F.round(fn(v, F.lit(float(p))), 6).alias(_pct_alias(p)) for p in ps
    ]
    return df.groupBy(*keys).agg(
        *aggs, F.count(F.lit(1)).alias("n_rows")
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    descending: bool = True,
    tie_col: str | None = None,
) -> DataFrame:
    """Group-wise top-k: the ``k`` rows with the largest (or smallest)
    ``order_col`` per ``group_col``, with a ``rank`` column (1-based).
    Ties are pinned by ``tie_col`` (ascending) so results are
    deterministic — required; pass the table's unique id.

    The generic primitive behind "top products per nation", "best
    chunks per document", "nearest centroids per vector" — expressed
    once so every caller gets the same single-shuffle plan.

    Scale design: ONE hash exchange on the group key + an in-partition
    sort for the rank window; k does not affect the shuffle (the
    filter prunes post-window).  Skewed groups are AQE-splittable on
    the exchange, and state per group is the sort buffer, not k.
    """
    if tie_col is None:
        raise ValueError(
            "top_k_per_group: tie_col is required for deterministic ranks"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = (
        F.col(order_col).desc() if descending else F.col(order_col).asc()
    )
    return _top_k(df, k, [group_col], [order, F.col(tie_col).asc()])


def _top_k(
    df: DataFrame,
    k: int | None,
    by: Sequence[str],
    order: Sequence[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """The ranked cut every search and ranking operator ends in: a
    1-based ``row_number`` in ``rank_col`` over ``order`` (which must
    end in a unique tie-break column, so ranks are deterministic),
    keeping ranks ``<= k``.

    With ``by``, the window is partitioned on those keys: one hash
    exchange plus an in-partition sort, and the cut prunes after the
    window (Spark plans it as a per-group limit); ``k=None`` ranks
    without cutting.  Without ``by``, the cut comes first:
    ``orderBy(...).limit(k)`` is a distributed TakeOrdered
    (per-partition heaps, never a global single-partition sort) and
    the unpartitioned rank window runs over only the ``k`` surviving
    rows — the one unpartitioned rank window in ``functions/``.
    """
    if not by:
        top = df.orderBy(*order).limit(k)
        w = Window.orderBy(*order)  # k rows only
        return top.withColumn(rank_col, F.row_number().over(w))
    w = Window.partitionBy(*by).orderBy(*order)
    ranked = df.withColumn(rank_col, F.row_number().over(w))
    # a SQL string: one py4j round trip, the same plan as a Column
    return ranked if k is None else ranked.filter(f"`{rank_col}` <= {int(k)}")


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.5,
    approx: bool = False,
    id_col: str = "event_id",
) -> DataFrame:
    """Median/MAD outlier flagging (the robust z-score): per group —
    or globally when ``group_col`` is None — compute the median and
    the median absolute deviation of ``value_col`` and flag rows with
    ``|x - median| > k * MAD`` (Iglewicz & Hoaglin's rule at the
    default k=3.5, up to the 0.6745 consistency constant callers can
    fold into ``k``).  Returns ``(id_col[, group_col], value,
    median_v, mad_v, robust_z, is_outlier)`` with ``robust_z`` at
    6 dp (NULL when MAD is 0 — a constant-majority group — in which
    case any deviation at all is flagged).

    Unlike mean/stddev gating, the breakdown point is 50%: outliers
    cannot drag the fence toward themselves — the right default for
    heavy-tailed telemetry and corpus statistics.

    Scale design: two percentile passes (value median, then deviation
    median) — each a single aggregate whose result broadcast-joins
    back; ``approx=True`` swaps the exact sort-based ``median`` for
    the mergeable ``percentile_approx`` sketch (the 100 TB path,
    bounded memory per group).  No window over the full table.
    """
    pf = (
        (lambda c: F.percentile_approx(c, F.lit(0.5)))
        if approx
        else (lambda c: F.percentile(c, F.lit(0.5)))
    )
    v = F.col(value_col)
    gcols = [group_col] if group_col else []
    # medians round to 6 dp BEFORE the z computation: the exact
    # interpolated midpoint is engine-lerp-dependent in the last ulp,
    # and both engines must gate on the identical fence
    med = df.groupBy(*gcols).agg(F.round(pf(v), 6).alias("median_v"))
    joined = (
        df.join(F.broadcast(med), on=gcols)
        if gcols
        else df.crossJoin(F.broadcast(med))
    )
    dev = joined.select(
        *([F.col(group_col)] if gcols else []),
        F.col(id_col),
        v.alias("__v"),
        F.col("median_v"),
        F.abs(v - F.col("median_v")).alias("__ad"),
    )
    mad = dev.groupBy(*gcols).agg(
        F.round(pf(F.col("__ad")), 6).alias("mad_v")
    )
    full = (
        dev.join(F.broadcast(mad), on=gcols)
        if gcols
        else dev.crossJoin(F.broadcast(mad))
    )
    z = F.col("__ad") / F.col("mad_v")
    return full.select(
        *([F.col(group_col)] if gcols else []),
        F.col(id_col),
        F.col("__v").alias(value_col),
        F.col("median_v"),
        F.col("mad_v"),
        F.when(F.col("mad_v") > 0, F.round(z, 6)).alias("robust_z"),
        F.when(F.col("mad_v") > 0, z > k)
        .otherwise(F.col("__ad") > 0)
        .alias("is_outlier"),
    )


def column_profile(df: DataFrame, columns: list | None = None) -> DataFrame:
    """Generic per-column data profile: one row per column with
    ``(column, n_rows, n_null, n_distinct, min_str, max_str)`` —
    min/max rendered as strings so heterogeneous column types share
    one schema.  The table-health snapshot every ingestion step
    should log (schema drift, null floods, and cardinality collapse
    all show up here first).  ``n_distinct`` is EXACT (count
    distinct); at 100 TB swap mentally to approx_count_distinct — the
    exact form is what the cross-engine oracle can verify.

    Scale design: one aggregate per column over a shared scan (the
    per-column aggregates union after aggregation — each is a 1-row
    result, so the union is free); no row explosion, no UDF.
    """
    cols = columns or df.columns
    parts = []
    for c in cols:
        col = F.col(c)
        parts.append(
            df.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(col.isNull(), 1)).alias("n_null"),
                F.countDistinct(col).alias("n_distinct"),
                F.min(col).cast("string").alias("min_str"),
                F.max(col).cast("string").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def category_stats(
    df: DataFrame,
    col: str,
) -> DataFrame:
    """Distribution summary of one categorical column: ONE row
    ``(n_rows, n_distinct, entropy_bits, gini_impurity, top_share)``
    — Shannon entropy (bits), Gini impurity ``1 - Σ p²``, and the
    modal category's share, all at 6 dp.  The class-balance health
    check for labels, domains, and stratification keys (a collapsing
    ``entropy_bits`` means the mixture is degenerating).  NULLs count
    as their own category.

    Scale design: one hash aggregate to category counts (tiny), then
    a 1-row summary aggregate over it — the fact table is read once.
    """
    counts = df.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    n = F.sum("__c")
    p = F.col("__c") / F.col("__n")
    return (
        counts.crossJoin(
            F.broadcast(counts.agg(n.alias("__n")))
        )
        .agg(
            F.first("__n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                -F.sum(p * F.log2(p)), 6
            ).alias("entropy_bits"),
            F.round(F.lit(1.0) - F.sum(p * p), 6).alias("gini_impurity"),
            F.round(F.max("__c") / F.first("__n"), 6).alias("top_share"),
        )
    )


def join_skew_report(
    left: DataFrame,
    right: DataFrame,
    on: str,
    top_n: int = 20,
) -> DataFrame:
    """Pre-flight join diagnostics: for the ``top_n`` keys by output
    fan-out, ``(key, n_left, n_right, n_out)`` where ``n_out =
    n_left · n_right`` is exactly how many rows that key contributes
    to the join — the planning step that decides broadcast vs salt
    vs AQE BEFORE a hot key melts a reducer at 100 TB.  Keys missing
    from one side report 0/0 output (full outer over the two count
    tables, so one-sided keys are visible too).

    Scale design: one hash aggregate per side (key counts), a keyed
    join of the two SMALL count tables, and a distributed TakeOrdered
    for the top-N — the fact tables are each read once and never
    joined to each other.
    """
    lc = left.groupBy(F.col(on).alias("key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    rc = right.groupBy(F.col(on).alias("key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    both = (
        lc.join(rc, on="key", how="full_outer")
        .select(
            "key",
            F.coalesce("n_left", F.lit(0)).alias("n_left"),
            F.coalesce("n_right", F.lit(0)).alias("n_right"),
        )
        .withColumn("n_out", F.col("n_left") * F.col("n_right"))
    )
    return both.orderBy(
        F.desc("n_out"), F.desc("n_left"), F.asc("key")
    ).limit(top_n)


def numeric_histogram(
    df: DataFrame,
    col: str,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column: ``(bin, lo_edge,
    hi_edge, n)`` for ``bins`` buckets over ``[lo, hi)`` (the last
    bucket closes at ``hi``; out-of-range rows clamp into the edge
    buckets so totals always reconcile).  Bounds default to the
    column min/max (one extra 1-row aggregate).  Edges round to 6 dp.

    Scale design: binning is pure integer arithmetic on a map-side
    expression feeding ONE hash aggregate on the tiny bin key; when
    bounds are given the whole thing is a single pass with no
    preliminary scan.
    """
    if bins < 1:
        raise ValueError("numeric_histogram: bins must be >= 1")
    if lo is None or hi is None:
        row = df.agg(
            F.min(F.col(col)).alias("lo"), F.max(F.col(col)).alias("hi")
        ).collect()[0]
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if not hi > lo:
        raise ValueError("numeric_histogram: need hi > lo")
    w = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col(col) - F.lit(lo)) / F.lit(w))
        ),
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(w), 6).alias("lo_edge"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(w), 6).alias(
                "hi_edge"
            ),
            "n",
        )
    )


def pairwise_corr(
    df: DataFrame,
    cols: list,
    scale: int = 6,
) -> DataFrame:
    """Pearson correlation for every column pair: ``(col_a, col_b,
    n, r)`` with ``col_a < col_b`` lexicographically and ``r`` at
    6 dp (NULL for degenerate variance).  Rows with a NULL in either
    column of a pair are excluded pairwise.  The feature-redundancy
    screen before training — near-|1| pairs are candidates to drop.

    Numerics: values quantize to ``scale`` decimal places and the
    five moments per pair accumulate as exact DECIMALs (order-
    independent, engine-portable); only the final ``r`` is floating.
    Magnitude bound: the squared-moment sums live in DECIMAL(38,0),
    so ``n * (max|v| * 10^scale)^2`` must stay under 1e38 — about
    |v| ≤ 1e9 at the default scale with 1e8 rows.  Values beyond the
    bound (e.g. raw epoch-micros timestamps) RAISE rather than let
    Spark's non-ANSI mode null the sum silently; rescale or lower
    ``scale`` for such columns.

    Scale design: ONE aggregate computes all pairs' moments in a
    single pass over the fact table (conditional decimal sums per
    pair — no per-pair scans, no shuffle beyond the 1-row result).
    """
    pairs = [
        (a, b)
        for i, a in enumerate(sorted(cols))
        for b in sorted(cols)[i + 1 :]
    ]
    if not pairs:
        raise ValueError("pairwise_corr: need at least 2 columns")
    m = 10**scale
    aggs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        xa = F.round(F.col(a).cast("double") * m).cast("decimal(28,0)")
        xb = F.round(F.col(b).cast("double") * m).cast("decimal(28,0)")
        z = F.lit(0).cast("decimal(28,0)")
        z2 = F.lit(0).cast("decimal(38,0)")
        # try_multiply/try_sum: overflow yields NULL in BOTH ANSI and
        # non-ANSI modes (instead of an unbranded ANSI throw or a
        # silent non-ANSI null mid-aggregate), so the magnitude guard
        # below is what surfaces the failure — loudly and portably
        aggs += [
            F.count(F.when(both, 1)).alias(f"__n_{tag}"),
            F.try_sum(F.when(both, xa).otherwise(z)).alias(f"__sa_{tag}"),
            F.try_sum(F.when(both, xb).otherwise(z)).alias(f"__sb_{tag}"),
            F.try_sum(F.when(both, F.try_multiply(xa, xb)).otherwise(z2)).alias(
                f"__sab_{tag}"
            ),
            F.try_sum(F.when(both, F.try_multiply(xa, xa)).otherwise(z2)).alias(
                f"__saa_{tag}"
            ),
            F.try_sum(F.when(both, F.try_multiply(xb, xb)).otherwise(z2)).alias(
                f"__sbb_{tag}"
            ),
        ]
    for c in sorted(set(cols)):
        aggs.append(
            F.max(F.abs(F.col(c).cast("double"))).alias(f"__ma_{c}")
        )
        aggs.append(F.count(F.col(c)).alias(f"__nc_{c}"))
    # checkpoint the 1-row moment table: the per-pair union branches
    # below would otherwise each re-execute the full aggregate
    # (Catalyst has no cross-branch common-subtree elimination)
    wide = df.agg(*aggs).localCheckpoint(eager=False)
    outs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n = F.col(f"__n_{tag}").cast("double")
        sa = F.col(f"__sa_{tag}").cast("double")
        sb = F.col(f"__sb_{tag}").cast("double")
        sab = F.col(f"__sab_{tag}").cast("double")
        saa = F.col(f"__saa_{tag}").cast("double")
        sbb = F.col(f"__sbb_{tag}").cast("double")
        cov = n * sab - sa * sb
        va = n * saa - sa * sa
        vb = n * sbb - sb * sb
        # loud-failure overflow guard: sum(x²) ≤ n·(max|v|·10^scale)²,
        # so if that bound reaches DECIMAL(38,0)'s ceiling the silent
        # non-ANSI null is possible — raise instead (cheap: evaluated
        # on the 1-row moment table)
        overflow = F.lit(False)
        for c in (a, b):
            overflow = overflow | (
                F.pow(F.col(f"__ma_{c}") * m, 2)
                * F.col(f"__nc_{c}").cast("double")
                >= 1e38
            )
        outs.append(
            wide.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__n_{tag}").alias("n"),
                F.when(
                    overflow,
                    F.raise_error(
                        F.lit(
                            "pairwise_corr: column magnitude * 10^scale "
                            "overflows DECIMAL(38,0) moment sums for pair "
                            f"({a}, {b}); rescale the column or lower "
                            "`scale`"
                        )
                    ).cast("double"),
                )
                .when(
                    (va > 0) & (vb > 0),
                    F.round(cov / F.sqrt(va) / F.sqrt(vb), 6),
                )
                .alias("r"),
            )
        )
    out = outs[0]
    for o_ in outs[1:]:
        out = out.unionAll(o_)
    return out


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    group_col: str | None = None,
    approx: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Percentile clamping (winsorization): values below the
    ``lower`` quantile or above the ``upper`` quantile of
    ``value_col`` — per group when ``group_col`` is given — are
    replaced by the fence values; everything else passes through.
    Adds ``out_col`` (default ``{col}_wins``) plus a ``was_clamped``
    flag, keeping the raw column — the standard heavy-tail taming
    step before scaling/normalizing features.  NULL values stay NULL
    and are never flagged; a NULL ``group_col`` key forms its own
    group (null-safe fence join) rather than dropping the rows.  Fences round to 6 dp before clamping so
    both engines gate on the identical boundary (same convention as
    :func:`robust_outliers`).

    Scale design: one percentile aggregate (tiny result) broadcast
    back; the clamp itself is a map-side ``when`` chain — the fact
    table is never shuffled.  ``approx=True`` swaps the exact
    sort-based percentile for the mergeable ``percentile_approx``
    sketch (the 100 TB path).
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("winsorize: need 0 <= lower < upper <= 1")
    out_col = out_col or f"{value_col}_wins"
    pf = (
        (lambda c, p: F.percentile_approx(c, F.lit(p)))
        if approx
        else (lambda c, p: F.percentile(c, F.lit(p)))
    )
    v = F.col(value_col)
    gcols = [group_col] if group_col else []
    fences = df.groupBy(*gcols).agg(
        F.round(pf(v, lower), 6).alias("__lo"),
        F.round(pf(v, upper), 6).alias("__hi"),
    )
    if gcols:
        # eqNullSafe so rows whose group key IS NULL winsorize within
        # their own NULL group instead of silently vanishing from the
        # output (same convention as pipeline.group_rare_categories)
        joined = df.join(
            F.broadcast(fences.withColumnRenamed(group_col, "__g")),
            on=F.col(group_col).eqNullSafe(F.col("__g")),
        ).drop("__g")
    else:
        joined = df.crossJoin(F.broadcast(fences))
    clamped = (
        F.when(v < F.col("__lo"), F.col("__lo"))
        .when(v > F.col("__hi"), F.col("__hi"))
        .otherwise(v)
    )
    return joined.withColumn(out_col, clamped).withColumn(
        "was_clamped",
        v.isNotNull() & ((v < F.col("__lo")) | (v > F.col("__hi"))),
    ).drop("__lo", "__hi")


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-squared test of independence between two categorical
    columns, plus Cramér's V effect size — the standard QA check for
    "is my quality label independent of source domain?" before
    stratified sampling or mixing.  Rows with a NULL in either column
    are dropped.  Returns one row ``(chi2, dof, cramers_v, n)``.

    Determinism: the statistic is assembled from the identity
    ``chi2 = N * (sum_cells o^2/(ra*cb)) - N`` (``e = ra*cb/N``), which
    needs no enumeration of zero-observed cells, and the per-cell term
    is computed as an exact scaled-integer quotient
    ``floor(o^2 * 1e15 / (ra*cb))`` summed as DECIMAL(38,0) — the sum
    is order-independent and engine-portable (same trick as
    :func:`~networkframe_spark.algorithms.pagerank`); the only float
    ops are two final divisions of exact integers.  Quotients are
    bounded by 1e15 (``o <= ra, o <= cb``) so nothing overflows.

    Scale design: one hash aggregate over the fact table produces the
    contingency cells; everything downstream (marginals, the scaled
    sum) is cell-count-sized with broadcast joins — the fact table is
    touched exactly once.
    """
    a, b = F.col(col_a), F.col(col_b)
    obs = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    ra = obs.groupBy(col_a).agg(F.sum("__o").alias("__ra"))
    cb = obs.groupBy(col_b).agg(F.sum("__o").alias("__cb"))
    cells = obs.join(F.broadcast(ra), on=col_a).join(
        F.broadcast(cb), on=col_b
    )
    SCALE = 10**15
    term = F.expr(
        f"CAST(__o AS DECIMAL(38,0)) * CAST(__o AS DECIMAL(38,0))"
        f" * {SCALE} div (CAST(__ra AS DECIMAL(38,0)) * __cb)"
    )
    agg = cells.agg(
        F.sum(term.cast("decimal(38,0)")).alias("__s"),
        F.sum("__o").alias("__n"),
        F.countDistinct(col_a).alias("__r"),
        F.countDistinct(col_b).alias("__c"),
    )
    n = F.col("__n").cast("double")
    chi2 = n * (F.col("__s").cast("double") / F.lit(float(SCALE))) - n
    dof = (F.col("__r") - 1) * (F.col("__c") - 1)
    mindim = F.least(F.col("__r"), F.col("__c")) - 1
    v = F.when(
        (F.col("__n") > 0) & (mindim > 0),
        F.sqrt(F.greatest(chi2, F.lit(0.0)) / (n * mindim)),
    )
    return agg.select(
        F.round(chi2, 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(v, 6).alias("cramers_v"),
        F.col("__n").cast("bigint").alias("n"),
    )


def ks_test_2samp(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: the max ECDF gap between
    ``value_col`` restricted to ``group_col == group_a`` vs
    ``== group_b`` — the standard "did this feature's distribution
    shift between two slices?" check.  Returns one row
    ``(d_stat, n_a, n_b, p_value)`` with the asymptotic two-sided
    p-value ``2 * sum_k (-1)^(k-1) exp(-2 k^2 lambda^2)`` (first 100
    terms, ``lambda = D * sqrt(n_a n_b / (n_a + n_b))``).

    Determinism: per-distinct-value counts and their running sums are
    exact BIGINTs, so every evaluated ECDF gap is a division of exact
    integers; the max over distinct values is order-independent.  The
    p-value series is evaluated in fixed k-order via ``F.aggregate``
    over a literal sequence.

    Scale design: the fact table collapses to one hash aggregate over
    distinct values; the running sums use the two-phase
    range-partition scheme (local window per partition + a
    partition-count-sized offsets manifest — same shape as
    :func:`~networkframe_spark.algorithms._dense_rank_distributed`),
    so there is NO single-partition global window even when the value
    column is near-unique.
    """
    g = F.col(group_col)
    v = F.col(value_col)
    counts = (
        df.filter(v.isNotNull() & g.isin([group_a, group_b]))
        .groupBy(value_col)
        .agg(
            F.sum(F.when(g == F.lit(group_a), 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(g == F.lit(group_b), 1).otherwise(0)).alias("__cb"),
        )
    )
    spark = df.sparkSession
    n_part = max(2, shuffle_partitions(spark))
    part = counts.repartitionByRange(n_part, v.asc()).withColumn(
        "_pid", F.spark_partition_id()
    )
    lw = (
        Window.partitionBy("_pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.select(
        value_col,
        "__ca",
        "__cb",
        "_pid",
        F.sum("__ca").over(lw).alias("__la"),
        F.sum("__cb").over(lw).alias("__lb"),
    ).localCheckpoint(eager=True)
    totals = {
        r["_pid"]: (r["ta"], r["tb"])
        for r in local.groupBy("_pid")
        .agg(F.sum("__ca").alias("ta"), F.sum("__cb").alias("tb"))
        .collect()
    }
    off_a, off_b, acc_a, acc_b = {}, {}, 0, 0
    for pid in sorted(totals):
        off_a[pid], off_b[pid] = acc_a, acc_b
        acc_a += totals[pid][0] or 0
        acc_b += totals[pid][1] or 0
    n_a, n_b = acc_a, acc_b
    if n_a == 0 or n_b == 0:
        raise ValueError(
            f"ks_test_2samp: empty sample (n_a={n_a}, n_b={n_b})"
        )
    oa = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(off_a.items()) for x in kv]
            ),
            F.col("_pid"),
        )
        if off_a
        else F.lit(0)
    )
    ob = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(off_b.items()) for x in kv]
            ),
            F.col("_pid"),
        )
        if off_b
        else F.lit(0)
    )
    gaps = local.select(
        F.abs(
            (F.col("__la") + oa).cast("double") / F.lit(float(n_a))
            - (F.col("__lb") + ob).cast("double") / F.lit(float(n_b))
        ).alias("__gap")
    )
    d = gaps.agg(F.max("__gap").alias("__d"))
    lam = F.col("__d") * F.lit(
        float((n_a * n_b / (n_a + n_b)) ** 0.5)
    )
    # Kolmogorov survival fn, two classic regimes: the alternating
    # series 2*sum (-1)^(k-1) exp(-2 k^2 L^2) converges fast for
    # large L but degenerates to 1-1+1-... as L -> 0; below the
    # standard ~1.18 crossover use the Jacobi-theta transform
    # p = 1 - sqrt(2*pi)/L * sum exp(-(2k-1)^2 pi^2 / (8 L^2))
    # (both truncated at 100 terms, far past double precision).
    pi2 = math.pi * math.pi
    big = F.lit(2.0) * F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.pow(F.lit(-1.0), (k - 1).cast("double"))
        * F.exp(F.lit(-2.0) * k.cast("double") * k.cast("double") * lam * lam),
    )
    small = F.lit(1.0) - (F.sqrt(F.lit(2.0 * math.pi)) / lam) * F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.exp(
            -F.pow(F.lit(2.0) * k.cast("double") - F.lit(1.0), F.lit(2.0))
            * F.lit(pi2)
            / (F.lit(8.0) * lam * lam)
        ),
    )
    p_raw = (
        F.when(F.col("__d") <= F.lit(0.0), F.lit(1.0))
        .when(lam < F.lit(1.18), small)
        .otherwise(big)
    )
    return d.select(
        F.round("__d", 6).alias("d_stat"),
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.round(F.least(F.greatest(p_raw, F.lit(0.0)), F.lit(1.0)), 6).alias(
            "p_value"
        ),
    )


def psi_drift(
    df_base: DataFrame,
    df_cur: DataFrame,
    value_col: str,
    bins: int = 10,
    approx: bool = False,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a baseline sample and a
    current sample of ``value_col`` — the standard drift monitor for
    "has this feature's distribution moved since the snapshot I
    trained on?".  Bin edges are the baseline's ``i/bins`` quantiles
    (rounded to 6 dp so both engines gate on identical boundaries);
    each sample is histogrammed into those bins and
    ``PSI = sum_bins (p_cur - p_base) * ln(p_cur / p_base)`` with
    shares floored at ``eps`` (zero-bin smoothing, documented
    convention).  NULLs are dropped.  Returns one row per bin
    ``(bin, base_count, cur_count, base_share, cur_share,
    contribution, psi)`` — ``psi`` is the total, repeated per row so
    the result is a single hash-checkable frame.  Rule of thumb:
    psi < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 action.

    Scale design: one exact (or ``approx=True`` sketch — the 100 TB
    path) percentile aggregate on the baseline produces a
    (bins-1)-sized edge manifest (bounded driver collect, same class
    as the kmeans centroid manifests); bin assignment is a map-side
    literal comparison chain; each side then collapses via one hash
    aggregate to ``bins`` rows, where the PSI arithmetic is free.
    """
    if bins < 2:
        raise ValueError(f"psi_drift: bins must be >= 2, got {bins}")
    v = F.col(value_col)
    fracs = [i / bins for i in range(1, bins)]
    pf = F.percentile_approx if approx else F.percentile
    row = (
        df_base.filter(v.isNotNull())
        .agg(
            F.transform(
                pf(v, F.array(*[F.lit(p) for p in fracs])),
                # rounded ENGINE-side: F.round is half-away-from-zero
                # like DuckDB round(); Python round() is half-even and
                # would desync the bin boundaries
                lambda c: F.round(c, 6),
            ).alias("q")
        )
        .collect()[0]
    )
    if row["q"] is None:
        raise ValueError("psi_drift: baseline sample is empty")
    edges = sorted({float(x) for x in row["q"]})

    def binned(sdf: DataFrame, name: str) -> DataFrame:
        idx = F.lit(1)
        for e in edges:
            idx = idx + F.when(v > F.lit(e), 1).otherwise(0)
        return (
            sdf.filter(v.isNotNull())
            .groupBy(idx.cast("int").alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    base = binned(df_base, "base_count")
    cur = binned(df_cur, "cur_count")
    spark = df_base.sparkSession
    all_bins = spark.range(1, len(edges) + 2).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        all_bins.join(F.broadcast(base), on="bin", how="left")
        .join(F.broadcast(cur), on="bin", how="left")
        .select(
            "bin",
            F.coalesce("base_count", F.lit(0)).alias("base_count"),
            F.coalesce("cur_count", F.lit(0)).alias("cur_count"),
        )
    )
    tot = joined.agg(
        F.sum("base_count").alias("__tb"), F.sum("cur_count").alias("__tc")
    )
    pb = F.greatest(
        F.col("base_count").cast("double") / F.col("__tb"), F.lit(eps)
    )
    pc = F.greatest(
        F.col("cur_count").cast("double") / F.col("__tc"), F.lit(eps)
    )
    contrib = (pc - pb) * F.log(pc / pb)
    per_bin = joined.crossJoin(F.broadcast(tot)).select(
        "bin",
        "base_count",
        "cur_count",
        F.round(F.col("base_count") / F.col("__tb"), 6).alias("base_share"),
        F.round(F.col("cur_count") / F.col("__tc"), 6).alias("cur_share"),
        F.round(contrib, 6).alias("contribution"),
    )
    # total = sum of the ROUNDED per-bin terms: both engines sum the
    # identical 6-dp values, so the 6-dp total can't be perturbed by
    # sub-ulp ln()/ordering noise (error << 5e-7 over <= bins terms)
    psi_tot = per_bin.agg(
        F.round(F.sum("contribution"), 6).alias("psi")
    )
    return per_bin.crossJoin(F.broadcast(psi_tot))


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: the nonparametric
    "did group A's values shift vs group B's?" companion to the
    parametric ``ab_test_report`` — robust to outliers and skew,
    the usual choice for heavy-tailed metrics (latency, revenue,
    token counts).  Returns one row ``(u_stat, n_a, n_b, z, p_value)``
    with midrank tie handling, the tie-corrected normal
    approximation, and a continuity correction of 0.5.

    Determinism: ranks never materialize per row — per-distinct-value
    counts and their running sums are exact BIGINTs, midranks are
    kept in exact HALF units (``2*cum_before + n_v + 1``), so
    ``U`` and every moment of the null distribution are assembled
    from exact integers; the only floats are the final z and the
    normal-CDF polynomial (Abramowitz-Stegun 7.1.26, identical
    expression in the SQL twin).

    Scale design: identical shape to :func:`ks_test_2samp` — one
    hash aggregate over distinct values, two-phase range-partitioned
    running sums (no single-partition window), then one scalar row.
    """
    g = F.col(group_col)
    v = F.col(value_col)
    counts = (
        df.filter(v.isNotNull() & g.isin([group_a, group_b]))
        .groupBy(value_col)
        .agg(
            F.sum(F.when(g == F.lit(group_a), 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(g == F.lit(group_b), 1).otherwise(0)).alias("__cb"),
        )
    )
    spark = df.sparkSession
    n_part = max(2, shuffle_partitions(spark))
    part = counts.repartitionByRange(n_part, v.asc()).withColumn(
        "_pid", F.spark_partition_id()
    )
    lw = (
        Window.partitionBy("_pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.select(
        value_col,
        "__ca",
        "__cb",
        "_pid",
        (F.sum(F.col("__ca") + F.col("__cb")).over(lw)).alias("__lcum"),
    ).localCheckpoint(eager=True)
    totals = {
        r["_pid"]: (r["ta"], r["tb"])
        for r in local.groupBy("_pid")
        .agg(F.sum("__ca").alias("ta"), F.sum("__cb").alias("tb"))
        .collect()
    }
    off, acc_a, acc_b, acc = {}, 0, 0, 0
    for pid in sorted(totals):
        off[pid] = acc
        acc_a += totals[pid][0] or 0
        acc_b += totals[pid][1] or 0
        acc += (totals[pid][0] or 0) + (totals[pid][1] or 0)
    n_a, n_b = acc_a, acc_b
    if n_a == 0 or n_b == 0:
        raise ValueError(
            f"mann_whitney_u: empty sample (n_a={n_a}, n_b={n_b})"
        )
    n = n_a + n_b
    o_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(off.items()) for x in kv]
            ),
            F.col("_pid"),
        )
        if off
        else F.lit(0)
    )
    nv = F.col("__ca") + F.col("__cb")
    cum_before = F.col("__lcum") + o_expr - nv
    # midrank in exact HALF units: 2*(cum_before) + (n_v + 1)
    midrank2 = 2 * cum_before + nv + 1
    agg = local.agg(
        F.sum(F.col("__ca") * midrank2).alias("__r2a"),
        F.sum(nv * nv * nv - nv).alias("__ties"),
    )
    # U_a = R_a - n_a(n_a+1)/2, in half units: U2 = R2a - n_a(n_a+1)
    u2 = F.col("__r2a") - F.lit(n_a * (n_a + 1))
    mu2 = F.lit(n_a * n_b)  # 2 * n_a n_b / 2
    # var = (n_a n_b / 12) * ((n+1) - ties/(n(n-1)))
    var = (
        F.lit(n_a * n_b / 12.0)
        * (F.lit(float(n + 1)) - F.col("__ties") / F.lit(float(n * (n - 1))))
    )
    # continuity correction 0.5 (1.0 in half units), toward the mean
    diff2 = u2 - mu2
    cc2 = F.when(diff2 > 0, diff2 - 1).when(diff2 < 0, diff2 + 1).otherwise(
        F.lit(0)
    )
    z = F.when(var > 0, cc2.cast("double") / (F.lit(2.0) * F.sqrt(var)))
    az = F.abs(z)
    # Abramowitz-Stegun 7.1.26: 1 - Phi(|z|), absolute error < 7.5e-8
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        F.lit(0.319381530) * t
        - F.lit(0.356563782) * t * t
        + F.lit(1.781477937) * t * t * t
        - F.lit(1.821255978) * t * t * t * t
        + F.lit(1.330274429) * t * t * t * t * t
    )
    phi = F.exp(F.lit(-0.5) * az * az) / F.lit(2.5066282746310002)
    p = F.least(F.lit(1.0), F.lit(2.0) * phi * poly)
    return agg.select(
        (u2.cast("double") / 2).alias("u_stat"),
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def _poisson1_thresholds(max_w: int = 6) -> list[str]:
    """Cumulative Poisson(1) CDF mapped to 32-hex-digit md5 string
    thresholds: a uniform md5 hex string compares < threshold[w] with
    probability CDF(w).  String comparison is engine-identical, so
    the replicate weights need no float arithmetic anywhere."""
    import math

    cdf, acc = [], 0.0
    for w in range(max_w):
        acc += math.exp(-1.0) / math.factorial(w)
        cdf.append(acc)
    return [format(int(c * 16**32), "032x") for c in cdf]


def bootstrap_ci_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean of
    ``value_col``: ``n_boot`` Poisson(1) resamples (the standard
    streaming/distributed bootstrap — per-row multiplicities instead
    of materialized resamples), deterministic from
    ``md5(seed:id:replicate)``.  Returns one row ``(mean, ci_lo,
    ci_hi, n, n_boot)`` at the ``alpha`` level.  NULL values drop.

    Determinism: replicate weights come from comparing the md5 hex
    string against precomputed Poisson-CDF hex thresholds — pure
    string comparisons, identical in any engine; per-replicate sums
    accumulate 6-dp-quantized values as exact DECIMALs, so every
    replicate mean (and the percentile fences over them) is
    engine-portable.

    Scale design: the replicate dimension explodes map-side
    (``n_boot`` copies per row) and collapses immediately into the
    per-replicate partial aggregate — the shuffle carries
    ``n_boot x partitions`` rows, never ``n_boot x data``; the
    replicate-mean table is ``n_boot`` rows, so the final percentile
    is driver-trivial.  Cost is one pass over the data amplified by
    the CASE-chain weight lookup (no Python, no RNG state).
    """
    if n_boot < 10:
        raise ValueError(f"bootstrap_ci_mean: n_boot must be >= 10, got {n_boot}")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"bootstrap_ci_mean: alpha must be in (0,1), got {alpha}")
    thresholds = _poisson1_thresholds()
    v6 = F.col(value_col).cast("decimal(28,6)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).alias("__id"), v6.alias("__v")
    )
    rep = base.select(
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("__b"),
        F.col("__id"),
    ).withColumn(
        "__h",
        F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.col("__id").cast("string"),
                F.col("__b").cast("string"),
            )
        ),
    )
    w = F.lit(len(thresholds))
    for i in reversed(range(len(thresholds))):
        w = F.when(F.col("__h") < F.lit(thresholds[i]), F.lit(i)).otherwise(w)
    # both sums are exact (decimal / integer); the single
    # double-by-double division is correctly rounded and therefore
    # engine-identical — decimal DIVISION rules are not portable, so
    # never divide decimals directly
    means = (
        rep.withColumn("__w", w)
        .groupBy("__b")
        .agg(
            (
                F.sum(F.col("__w") * F.col("__v")).cast("double")
                / F.sum(F.col("__w")).cast("double")
            ).alias("__m")
        )
    )
    fences = means.agg(
        F.round(F.percentile("__m", F.lit(alpha / 2)), 6).alias("ci_lo"),
        F.round(F.percentile("__m", F.lit(1 - alpha / 2)), 6).alias("ci_hi"),
    )
    overall = base.agg(
        F.round(
            F.sum("__v").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )
    return overall.crossJoin(F.broadcast(fences)).select(
        "mean",
        "ci_lo",
        "ci_hi",
        F.col("n").cast("bigint").alias("n"),
        F.lit(n_boot).cast("bigint").alias("n_boot"),
    )
