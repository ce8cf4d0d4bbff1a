"""Temporal joins: as-of and range — operators the reference lacks but
a large-scale event/training-data pipeline needs (pandas analog:
``merge_asof``; kdb/TimescaleDB staples).

Both are pure DataFrame plans:

- ``asof_join``: the classic distributed sort-merge formulation —
  union-tag both sides, one window sort per key, ``last(...,
  ignorenulls)`` carries the most recent right row forward.  ONE
  shuffle on the key, one sort; no UDF, no range explosion.
- ``range_join``: equi-key join + interval predicate.  Catalyst plans
  the equi part as a hash/sort-merge join and applies the band filter
  post-join; for highly skewed keys AQE's skew-join splitting applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_table
from ..sources import normalize_event_time


def _ts(col) -> "F.Column":
    """Safety-net coercion to ``TimestampType``.

    The public ops normalize their inputs with
    :func:`~networkframe_spark.sources.normalize_event_time` (NTZ →
    instants via session-tz-independent wall-clock-as-UTC arithmetic),
    so by the time these expressions run the column is already
    TimestampType and this cast is a no-op.  It stays as a guard for
    expression-level callers that bypass the DataFrame entry points —
    note that for those, a raw NTZ column would be interpreted in the
    SESSION timezone."""
    c = col if not isinstance(col, str) else F.col(col)
    return c.cast("timestamp")


def _epoch_s(col) -> "F.Column":
    return _ts(col).cast("long")


def _epoch_us(col) -> "F.Column":
    """Microsecond epoch — the precision Spark timestamps actually
    carry.  The as-of nearest/tolerance decisions compare on this
    (a whole-second cast decides ties and bounds on TRUNCATED deltas
    and can pick the strictly farther match when events have
    sub-second timestamps)."""
    return F.unix_micros(_ts(col))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    right_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach one right row with the same ``on``
    key, chosen by ``direction``: ``"backward"`` (default) takes the
    latest right row with ``right.ts <= left.ts``; ``"forward"`` the
    earliest with ``right.ts >= left.ts``; ``"nearest"`` whichever of
    the two sits closer in time (exact ties prefer the backward
    match) — the pandas ``merge_asof`` direction contract.

    Returns all left columns plus ``{col}{suffix}`` for each requested
    right column and ``{ts_col}{suffix}`` (the matched right event
    time, null when no candidate exists in the direction / outside
    ``tolerance_seconds``, which bounds ``|left.ts - right.ts|``).

    Scale design: no join at all — both sides union into one stream,
    ONE hash exchange on the key + one in-partition sort serve every
    direction (backward = a last-ignorenulls running frame, forward
    = the mirrored first-ignorenulls frame, nearest = both frames
    from the same sort); per-key state is the frame, so hub keys
    never materialize a pairwise product the way an inequality join
    would.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "asof_join: direction must be 'backward', 'forward', or 'nearest'"
        )
    left = normalize_event_time(left, ts_col)
    right = normalize_event_time(right, ts_col)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, ts_col)]
    lcols = [c for c in left.columns if c not in (on, ts_col)]

    tagged_l = left.select(
        F.col(on),
        F.col(ts_col),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
        F.lit(None).cast(right.schema[ts_col].dataType).alias("__r_ts"),
    )
    tagged_r = right.select(
        F.col(on),
        F.col(ts_col),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        F.col(ts_col).alias("__r_ts"),
    )
    unioned = tagged_l.unionByName(tagged_r)
    # backward: right rows sort BEFORE left rows at equal ts
    # (__is_left asc), so a right event at exactly left.ts matches —
    # inclusive semantics.  forward is the same running last-non-null
    # over the REVERSED sort (ts desc; right first at equal ts): the
    # last right row seen scanning ts-descending is the earliest one
    # with right.ts >= left.ts.  Both frames are therefore GROWING
    # (unboundedPreceding..current), which Spark's WindowExec
    # evaluates incrementally in O(n) per key — the naive mirrored
    # frame (current..unboundedFollowing) is a SHRINKING frame that
    # WindowExec re-aggregates from scratch per row, O(n^2) on a hub
    # key (measured: a 10M-event stress with a 10%-hub user never
    # finished; this formulation runs it in seconds).
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).desc(), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sides = []
    if direction in ("backward", "nearest"):
        sides.append(("b", wb, lambda c: F.last(c, ignorenulls=True)))
    if direction in ("forward", "nearest"):
        sides.append(("f", wf, lambda c: F.last(c, ignorenulls=True)))
    filled = unioned.select(
        "*",
        *[
            agg(f"__r_{c}").over(w).alias(f"__{tag}_{c}")
            for tag, w, agg in sides
            for c in right_cols
        ],
        *[
            agg("__r_ts").over(w).alias(f"__{tag}_ts")
            for tag, w, agg in sides
        ],
    )
    out = filled.filter(F.col("__is_left") == 1)

    def _matched(tag: str):
        m = F.col(f"__{tag}_ts").isNotNull()
        if tolerance_seconds is not None:
            dt = _epoch_us(ts_col) - _epoch_us(f"__{tag}_ts")
            # multiply BEFORE int(): comparisons run at microsecond
            # precision, so fractional tolerances (0.5 s -> 500_000 us)
            # must survive the conversion; round() (not truncation)
            # keeps nominal tolerances inclusive at the exact boundary
            # (0.29 s float-represents as 289_999.999... us -- int()
            # would silently exclude an exactly-0.29s-apart match)
            m = m & (F.abs(dt) <= F.lit(int(round(tolerance_seconds * 1_000_000))))
        return m

    if direction in ("backward", "forward"):
        tag = direction[0]
        matched = _matched(tag)
        picks = [
            F.when(matched, F.col(f"__{tag}_{c}")).alias(f"{c}{suffix}")
            for c in right_cols
        ] + [F.when(matched, F.col(f"__{tag}_ts")).alias(f"{ts_col}{suffix}")]
    else:
        mb, mf = _matched("b"), _matched("f")
        bdt = _epoch_us(ts_col) - _epoch_us("__b_ts")
        fdt = _epoch_us("__f_ts") - _epoch_us(ts_col)
        use_b = mb & (~mf | (bdt <= fdt))  # tie -> backward
        picks = [
            F.when(use_b, F.col(f"__b_{c}"))
            .when(mf, F.col(f"__f_{c}"))
            .alias(f"{c}{suffix}")
            for c in right_cols
        ] + [
            F.when(use_b, F.col("__b_ts"))
            .when(mf, F.col("__f_ts"))
            .alias(f"{ts_col}{suffix}")
        ]
    return out.select(
        F.col(on),
        F.col(ts_col),
        *[F.col(c) for c in lcols],
        *picks,
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    window_seconds: float = 300,
    suffix: str = "_right",
) -> DataFrame:
    """Pairs (left, right) sharing ``on`` with
    ``0 <= right.ts - left.ts <= window_seconds`` — "right happened
    within the window after left"."""
    left = normalize_event_time(left, ts_col)
    right = normalize_event_time(right, ts_col)
    r = right.select(
        F.col(on),
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns if c != on],
    )
    lt = _epoch_us(ts_col)
    rt = _epoch_us(f"{ts_col}{suffix}")
    return left.join(r, on=on).filter(
        (rt >= lt) & (rt - lt <= F.lit(int(round(window_seconds * 1_000_000))))
    )


def inter_event_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-entity inter-arrival statistics: ``(user_id, n_events,
    mean_gap_s, max_gap_s)`` over consecutive event gaps — burstiness
    / engagement-cadence profiling of a temporal stream.

    One window pass (lag over ``(user, ts, tiebreak)`` ordering) + one
    hash aggregate on the SAME key, so Catalyst reuses the window's
    hash partitioning and the whole thing is a single shuffle.  Gaps
    are integer microseconds end-to-end; the mean divides two exact
    integers once, so results are engine-portable (rounded 6 dp).
    Entities with one event report zero gaps (n_events=1, nulls).
    """
    from pyspark.sql import Window

    events = normalize_event_time(events, ts_col)
    us = F.unix_micros(_ts(ts_col))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    gapped = events.select(
        F.col(user_col), (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gapped.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("gap_us") / F.count("gap_us") / F.lit(1e6), 6).alias(
            "mean_gap_s"
        ),
        F.round(F.max("gap_us") / F.lit(1e6), 6).alias("max_gap_s"),
    )


def funnel_counts(
    events: DataFrame,
    step1: str,
    step2: str,
    within_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-step funnel conversion: one row ``(n_step1_users,
    n_converted, conversion_rate)`` — users who did ``step1`` and then
    ``step2`` within ``within_minutes``.

    Both sides filter-push to the scan; the conversion test is one
    equi-join on the user key with a band predicate (same shape as
    :func:`range_join` — AQE splits skewed users), then two distinct
    counts.  Rate rounds to 6 dp.
    """
    events = normalize_event_time(events, ts_col)
    a = events.filter(F.col(type_col) == step1).select(
        F.col(user_col).alias("u"), F.unix_micros(_ts(ts_col)).alias("ta")
    )
    b = events.filter(F.col(type_col) == step2).select(
        F.col(user_col).alias("u"), F.unix_micros(_ts(ts_col)).alias("tb")
    )
    lim = within_minutes * 60 * 1_000_000
    conv = (
        a.join(b, on="u")
        .filter((F.col("tb") > F.col("ta")) & (F.col("tb") - F.col("ta") <= lim))
        .select("u")
        .distinct()
    )
    n1 = a.select("u").distinct().count()
    nc = conv.count()
    spark = events.sparkSession
    base = local_table(
        spark, [(n1, nc)], "n_step1_users long, n_converted long"
    )
    # HALF_UP rounding via F.round — matches the SQL twin (Python's
    # round() is half-even and would drift on exact .5 boundaries)
    rate = (
        F.round(F.col("n_converted") / F.col("n_step1_users"), 6)
        if n1
        else F.lit(0.0)
    )
    return base.select("*", rate.alias("conversion_rate"))


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the period of
    their FIRST event, and each ``(cohort_period, period_offset)``
    cell counts how many of that cohort were active ``offset`` periods
    later — the classic growth-analytics triangle.  Returns
    ``(cohort_period, period_offset, n_users, retention)`` where
    ``cohort_period`` is an integer period index (days since epoch
    div ``period_days``) and ``retention`` = cell users / cohort size
    at offset 0, rounded to 6 dp.

    Engine-portable periods: the period index is pure integer
    arithmetic on days-since-epoch (``datediff`` from 1970-01-01 then
    integer division) — no reliance on any engine's ``date_trunc``
    week-start convention.

    Scale design: one hash aggregate per stage — (user, period)
    distinct activity, a per-user min for the cohort, and the cell
    count — every shuffle keyed on the uniform user id or the small
    (cohort, offset) composite.  The cohort-size join is on the tiny
    cells table (broadcast), not on users.
    """
    events = normalize_event_time(events, ts_col)
    period = F.floor(
        F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01").cast("date"))
        / period_days
    ).alias("period")
    active = (
        events.select(F.col(user_col).alias("u"), period)
        .distinct()
    )
    cohort = active.groupBy("u").agg(F.min("period").alias("cohort_period"))
    cells = (
        active.join(cohort, on="u")
        .groupBy(
            "cohort_period",
            (F.col("period") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.countDistinct("u").alias("n_users"))
    )
    base = cells.filter(F.col("period_offset") == 0).select(
        "cohort_period", F.col("n_users").alias("__base")
    )
    return (
        cells.join(F.broadcast(base), on="cohort_period")
        .select(
            "cohort_period",
            "period_offset",
            "n_users",
            F.round(F.col("n_users") / F.col("__base"), 6).alias("retention"),
        )
    )


def rolling_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    n_rows: int = 5,
) -> DataFrame:
    """Per-entity trailing-window features: for each event, the count
    / mean / min / max of ``value_col`` over the last ``n_rows`` rows
    of the same ``user_col`` (current row inclusive), ordered by
    ``(ts, id_col)`` — the standard rolling-feature primitive for
    sessionized training data (pandas analog:
    ``groupby().rolling(n)``).  Returns ``(user, event_id, n_window,
    mean_v, min_v, max_v)`` with the mean at 6 dp.

    Determinism: the frame is ROWS-based over a total order (ts plus
    the unique event id as tie-break), and the windowed sum runs on
    DECIMAL(18,6) — exact within the frame regardless of evaluation
    order; only the final mean division is floating.

    Scale design: ONE shuffle (hash-partition by user) + one in-
    partition sort serves all four features — Catalyst evaluates the
    sliding frame incrementally per partition.  Skewed users are
    bounded by the frame (state is O(n_rows)), not by user size.
    """
    events = normalize_event_time(events, ts_col)
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-(n_rows - 1), 0)
    )
    v = F.col(value_col).cast("decimal(18,6)")
    return events.select(
        F.col(user_col),
        F.col(id_col),
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(
            F.sum(v).over(w).cast("double") / F.count(F.lit(1)).over(w), 6
        ).alias("mean_v"),
        F.min(v).over(w).cast("double").alias("min_v"),
        F.max(v).over(w).cast("double").alias("max_v"),
    )


def anomaly_zscore(
    events: DataFrame,
    n_rows: int = 20,
    threshold: float = 3.0,
    min_periods: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Trailing z-score anomaly flags: each event's ``value`` compared
    to the mean/sample-std of the PRECEDING ``n_rows`` events of the
    same entity (current row excluded — the score must not see
    itself), ordered by ``(ts, id)``.  Returns ``(user, event_id,
    value, n_window, z, is_anomaly)`` with ``z`` at 6 dp;
    ``is_anomaly = |z| >= threshold``.  ``z`` is NULL (and the flag
    false) when fewer than ``min_periods`` prior events exist, the
    trailing window has zero variance, or the value itself is NULL —
    an uncomputable score is not evidence of an anomaly.

    Numerics: the two windowed moments accumulate as exact
    DECIMAL(18,6)/(38,12) sums within the ROWS frame; the variance is
    the numerically-safe ``(n*sumsq - sum²) / (n*(n-1))`` form
    evaluated in floating point only at the end, so results are
    engine-portable and order-independent.

    Scale design: ONE shuffle (hash-partition by entity) + one
    in-partition sort serves both moments — the sliding frame is
    evaluated incrementally, so a hub entity costs O(n_rows) state,
    never its own row count.
    """
    events = normalize_event_time(events, ts_col)
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(-n_rows, -1)
    )
    v = F.col(value_col).cast("decimal(18,6)")
    n = F.count(v).over(w)
    s1 = F.sum(v).over(w).cast("double")
    s2 = F.sum((v * v).cast("decimal(38,12)")).over(w).cast("double")
    nn = n.cast("double")
    var = (nn * s2 - s1 * s1) / (nn * (nn - 1))
    mean = s1 / nn
    z = F.when(
        (n >= min_periods) & (var > 0) & F.col(value_col).isNotNull(),
        F.round((F.col(value_col) - mean) / F.sqrt(var), 6),
    )
    return events.select(
        F.col(user_col),
        F.col(id_col),
        F.col(value_col).cast("double").alias(value_col),
        n.alias("n_window"),
        z.alias("z"),
        F.coalesce(F.abs(z) >= threshold, F.lit(False)).alias("is_anomaly"),
    )


def resample_events(
    events: DataFrame,
    minutes: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-entity time-bucket downsampling (OHLC resample — the
    pandas ``groupby().resample().agg()`` staple): events are bucketed
    into ``minutes``-wide windows per ``key_col`` and each bucket
    reports ``(n_events, open_v, close_v, min_v, max_v, sum_v)``,
    where open/close are the chronologically first/last values (ties
    broken by the unique ``id_col``).  Returns one row per
    ``(key_col, bucket_start)``; ``sum_v`` runs on DECIMAL(18,6) and
    is cast back to double (exact, order-independent), 6 dp.

    Bucketing is integer epoch arithmetic (``epoch div (60*minutes)``)
    — engine-portable, no window-function frames needed.

    Scale design: ONE shuffle total — open/close come from min/max of
    a ``(ts, id, value)`` STRUCT (lexicographic struct ordering is the
    deterministic arg-min trick, and min/max are partial-aggregable,
    so the map side combines before the exchange; a row_number window
    would shuffle the same data but cannot combine map-side).
    """
    events = normalize_event_time(events, ts_col)
    bucket = (F.floor(_epoch_s(ts_col) / (60 * minutes)) * (60 * minutes)).alias(
        "__bs"
    )
    first_s = F.min(F.struct(ts_col, id_col, value_col))
    last_s = F.max(F.struct(ts_col, id_col, value_col))
    v = F.col(value_col).cast("decimal(18,6)")
    return (
        events.select(
            F.col(key_col), bucket, F.col(ts_col), F.col(id_col), F.col(value_col)
        )
        .groupBy(key_col, "__bs")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            first_s.getField(value_col).alias("open_v"),
            last_s.getField(value_col).alias("close_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.round(F.sum(v).cast("double"), 6).alias("sum_v"),
        )
        .select(
            key_col,
            F.to_timestamp(F.col("__bs")).alias("bucket_start"),
            "n_events",
            "open_v",
            "close_v",
            "min_v",
            "max_v",
            "sum_v",
        )
    )


def funnel_steps(
    events: DataFrame,
    steps: list,
    within_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """K-step ordered funnel (generalizes :func:`funnel_counts`):
    a user reaches step ``i`` when an event of type ``steps[i]``
    occurs strictly after their step ``i-1`` completion and within
    ``within_minutes`` of it — greedy earliest-completion semantics
    (each step pins its EARLIEST qualifying event; deterministic and
    exactly SQL-expressible, the convention most funnel engines
    implement).  Returns one row per step: ``(step, event_type,
    n_users, conversion_overall, conversion_from_prev)`` with rates
    at 6 dp.

    Scale design: one filtered equi-join + min-aggregate per step —
    the per-step state is one (user, ts) row per reached user,
    monotonically shrinking; type filters push to the scan.  The
    final rate decoration is a window over the K-row summary only.
    """
    from pyspark.sql import Window

    if len(steps) < 2:
        raise ValueError("funnel_steps: need at least 2 steps")
    events = normalize_event_time(events, ts_col)
    lim = within_minutes * 60 * 1_000_000
    typed = events.select(
        F.col(type_col).alias("__t"),
        F.col(user_col).alias("u"),
        F.unix_micros(_ts(ts_col)).alias("ts"),
    )
    reached = (
        typed.filter(F.col("__t") == steps[0])
        .groupBy("u")
        .agg(F.min("ts").alias("ts"))
        .localCheckpoint(eager=False)
    )
    counts = [
        reached.agg(
            F.lit(1).alias("step"),
            F.lit(steps[0]).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
        )
    ]
    for i, s in enumerate(steps[1:], start=2):
        cand = typed.filter(F.col("__t") == s).withColumnRenamed("ts", "tb")
        reached = (
            reached.join(cand.select("u", "tb"), on="u")
            .filter(
                (F.col("tb") > F.col("ts"))
                & (F.col("tb") - F.col("ts") <= F.lit(lim))
            )
            .groupBy("u")
            .agg(F.min("tb").alias("ts"))
            .localCheckpoint(eager=False)
        )
        counts.append(
            reached.agg(
                F.lit(i).alias("step"),
                F.lit(s).alias("event_type"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    # rate decoration over the K-row summary — bounded window
    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wp = Window.orderBy("step")
    first_n = F.first("n_users").over(w)
    prev_n = F.lag("n_users").over(wp)
    return out.select(
        "step",
        "event_type",
        "n_users",
        F.when(first_n == 0, 0.0)
        .otherwise(F.round(F.col("n_users") / first_n, 6))
        .alias("conversion_overall"),
        F.when(prev_n.isNull(), 1.0)
        .when(prev_n == 0, 0.0)
        .otherwise(F.round(F.col("n_users") / prev_n, 6))
        .alias("conversion_from_prev"),
    )


def fill_gaps(
    events: DataFrame,
    minutes: int = 60,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    max_buckets: int = 100_000,
) -> DataFrame:
    """Per-entity regular time grid with forward fill (the pandas
    ``resample().ffill()`` / gap-filling staple): each entity gets one
    row per ``minutes``-wide bucket between its first and last event,
    carrying the last observed value forward through empty buckets.
    Returns ``(key, bucket_start, v_filled, is_gap)`` where ``is_gap``
    marks buckets with NO EVENTS (tracked by a per-bucket event
    count, not value NULLness — a bucket whose events carry a NULL
    ``value_col`` is a real observation, not a gap).  ``v_filled`` is
    the chronologically-last value of the latest non-empty bucket at
    or before this one (ties broken by ``id_col``); it is NULL exactly
    when that observation itself was NULL.

    Scale design: the grid is generated DISTRIBUTED — a per-key
    min/max hash aggregate, then ``sequence()`` + ``explode`` on the
    workers (no driver-side date range, no cross join with a global
    calendar table).  The bucket aggregate, the grid join, and the
    forward-fill window all key on the entity (the join on the
    composite (key, bucket)), so AQE coalesces them into uniform
    keyed shuffles.  A pathological entity spanning more than
    ``max_buckets`` grid points fails loudly (``raise_error``) on the
    workers instead of exploding rows silently.
    """
    events = normalize_event_time(events, ts_col)
    step = 60 * minutes
    bucket = (F.floor(_epoch_s(ts_col) / step) * step).alias("__b")
    # chronologically-last value per non-empty bucket: max of a
    # (ts, id, value) STRUCT — lexicographic struct ordering is the
    # deterministic arg-max, and min/max combine map-side
    per_bucket = (
        events.select(F.col(key_col), bucket, F.col(ts_col), F.col(id_col), F.col(value_col))
        .groupBy(key_col, "__b")
        .agg(
            F.max(F.struct(ts_col, id_col, value_col)).getField(value_col).alias("__v_last"),
            F.count(F.lit(1)).alias("__cnt"),
        )
    )
    span = per_bucket.groupBy(key_col).agg(
        F.min("__b").alias("__b0"), F.max("__b").alias("__b1")
    )
    n_buckets = (F.col("__b1") - F.col("__b0")) / step + 1
    grid = span.select(
        F.col(key_col),
        F.explode(
            F.when(
                n_buckets <= max_buckets,
                F.sequence(F.col("__b0"), F.col("__b1"), F.lit(step)),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("fill_gaps: entity "),
                        F.col(key_col).cast("string"),
                        F.lit(f" spans more than max_buckets={max_buckets} grid "
                              "points; raise max_buckets or coarsen `minutes`"),
                    )
                )
            )
        ).alias("__b"),
    )
    w = Window.partitionBy(key_col).orderBy(F.col("__b").asc())
    # the fill skips GAP buckets, not NULL VALUES: wrapping the
    # observation in a struct makes ignorenulls see non-empty buckets
    # as non-null even when the observed value itself is NULL
    obs = F.when(F.col("__cnt").isNotNull(), F.struct(F.col("__v_last").alias("v")))
    return (
        grid.join(per_bucket, on=[key_col, "__b"], how="left")
        .select(
            F.col(key_col),
            F.to_timestamp(F.col("__b")).alias("bucket_start"),
            F.last(obs, ignorenulls=True).over(w).getField("v").alias("v_filled"),
            F.col("__cnt").isNull().alias("is_gap"),
        )
    )


def ewma(
    events: DataFrame,
    n_rows: int = 8,
    decay_num: int = 1,
    decay_den: int = 2,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-entity trailing exponentially-weighted moving average over
    the last ``n_rows`` events (current inclusive), ordered by
    ``(ts, id_col)``: ``ewma_i = Σ_j w^j·x_{i-j} / Σ_j w^j`` with
    ``w = decay_num/decay_den`` (default 1/2 — a halving EWMA).
    Returns ``(key, event_id, n_window, ewma_v)`` with the EWMA at
    6 dp — the standard recency-weighted rolling feature
    (pandas ``ewm(...).mean()`` restricted to a bounded window).

    Numerics: the decay is a RATIONAL, so both numerator and
    denominator are computed as exact 64-bit integers — every term is
    ``round(x·1e6) · num^j · den^(k-1-j)`` (``value`` is honored to
    6 dp) — and only the single final division is floating.  Exact,
    order-independent, engine-portable; no pow() drift.

    Scale design: ONE shuffle + one in-partition sort; the window
    evaluates ``n_rows`` ``lag()`` expressions per row inside
    whole-stage codegen — no arrays, no collect_list state, skewed
    entities bounded by the frame.  Bounds: |x|·1e6 ≤ ~1e12 and
    weights ≤ den^(k-1), so ``n_rows``·``decay_den`` combinations
    with ``den^(k-1) ≤ ~1e5`` stay clear of int64 overflow; the
    default (8, 1/2) peaks at ~1e15.
    """
    if n_rows < 1 or n_rows > 16:
        raise ValueError("ewma: n_rows must be in [1, 16]")
    if decay_num <= 0 or decay_den <= 0 or decay_num >= decay_den:
        raise ValueError("ewma: decay must be a rational in (0, 1)")
    if decay_den ** (n_rows - 1) > 10**5:
        raise ValueError("ewma: decay_den**(n_rows-1) too large for exact int64 arithmetic")
    events = normalize_event_time(events, ts_col)
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    # x_j scaled to exact integer micro-units; weight for lag j is
    # num^j * den^(k-1-j)  (all terms share the implicit den^(k-1))
    xi = F.round(F.col(value_col) * 1_000_000).cast("long")
    lags = [F.lag(xi, j).over(w) for j in range(n_rows)]
    wts = [
        decay_num**j * decay_den ** (n_rows - 1 - j) for j in range(n_rows)
    ]
    num = sum(
        (F.coalesce(lg, F.lit(0)) * F.lit(wt) for lg, wt in zip(lags, wts)),
        F.lit(0),
    )
    den = sum(
        (F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0)) for lg, wt in zip(lags, wts)),
        F.lit(0),
    )
    n_window = sum(
        (F.when(lg.isNotNull(), F.lit(1)).otherwise(F.lit(0)) for lg in lags),
        F.lit(0),
    )
    return events.select(
        F.col(key_col),
        F.col(id_col),
        n_window.alias("n_window"),
        F.round(num / den / F.lit(1e6), 6).alias("ewma_v"),
    )


def trend_slope(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-entity least-squares trend: slope of ``value`` against
    event time — ``(user, n_events, slope_per_hour, intercept)`` with
    slope in value-units per HOUR (6 dp; NULL when fewer than 2
    distinct timestamps).  The standard "is this metric drifting"
    feature for monitoring and per-user behavioral drift.

    Numerics at scale: time is CENTERED per entity (t - min t) before
    the moment sums — raw epoch-seconds moments lose the slope to
    catastrophic cancellation (n*stt and st^2 agree to ~12 digits),
    and their squares overflow 64-bit longs anyway.  The centered
    moments accumulate as DECIMALs — exact and order-independent —
    and only the final slope/intercept division is floating.  Two
    hash aggregates + one keyed join on the entity.
    """
    events = normalize_event_time(events, ts_col)
    te = _epoch_s(ts_col)
    tmin = events.groupBy(F.col(user_col)).agg(
        F.min(te).alias("__t0")
    )
    centered = events.join(tmin, on=user_col)
    t = (te - F.col("__t0")).cast("decimal(20,0)")
    v = F.col(value_col).cast("decimal(18,6)")
    m = (
        centered.groupBy(F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(t).alias("__st"),
            F.sum(v).alias("__sv"),
            F.sum(t * v).alias("__stv"),
            F.sum(t * t).alias("__stt"),
        )
    )
    n = F.col("n_events").cast("double")
    st = F.col("__st").cast("double")
    sv = F.col("__sv").cast("double")
    stv = F.col("__stv").cast("double")
    stt = F.col("__stt").cast("double")
    den = n * stt - st * st
    slope = (n * stv - st * sv) / den
    return m.select(
        user_col,
        "n_events",
        F.when(den <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope * 3600, 6))
        .alias("slope_per_hour"),
        F.when(den <= 0, F.lit(None).cast("double"))
        .otherwise(F.round((sv - slope * st) / n, 6))
        .alias("intercept"),  # intercept at the entity's first event
    )


def top_event_paths(
    events: DataFrame,
    path_len: int = 3,
    top_n: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Most common event-type sequences: per entity, every run of
    ``path_len`` consecutive events (ordered by ``(ts, id_col)``)
    becomes a path string ``a > b > c``; paths are counted across the
    corpus and the ``top_n`` returned as ``(path, n_paths)`` — the
    funnel-DISCOVERY primitive (what sequences actually happen),
    complementing :func:`funnel_steps` (how a chosen sequence
    converts).  Ties at the cutoff break by path ascending, so the
    result is deterministic.

    Scale design: one window (hash-partition by entity + in-partition
    sort) evaluates all ``path_len - 1`` ``lead()`` terms; the path
    count is a partial+final hash aggregate on the path string; the
    final top-N is a distributed TakeOrdered (``orderBy().limit()``),
    never a global sort.  Skewed entities cost O(rows), not O(rows²)
    — no self-joins.
    """
    if path_len < 2:
        raise ValueError("top_event_paths: path_len must be >= 2")
    events = normalize_event_time(events, ts_col)
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, j).over(w) for j in range(1, path_len)
    ]
    complete = steps[-1].isNotNull()
    path = F.concat_ws(" > ", *steps)
    return (
        events.select(F.when(complete, path).alias("path"))
        .filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(top_n)
    )


def time_profile(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-day activity profile per event type: ``(event_type,
    hour, n_events, share)`` with the share of that type's events
    falling in each UTC hour at 6 dp — the periodicity fingerprint
    behind bot detection (flat profiles), timezone inference, and
    load forecasting.  Hours derive from INTEGER epoch arithmetic
    (``epoch div 3600 mod 24``) — engine- and session-timezone-
    independent by construction.

    Scale design: one partial+final hash aggregate on the tiny
    (type, hour) key; the per-type totals broadcast back from the
    aggregate itself (no second scan).
    """
    events = normalize_event_time(events, ts_col)
    hour = F.pmod(F.floor(_epoch_s(ts_col) / 3600), F.lit(24)).cast("int")
    cells = events.groupBy(
        F.col(type_col).alias("event_type"), hour.alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    totals = cells.groupBy("event_type").agg(
        F.sum("n_events").alias("__tot")
    )
    return cells.join(F.broadcast(totals), on="event_type").select(
        "event_type",
        "hour",
        "n_events",
        F.round(F.col("n_events") / F.col("__tot"), 6).alias("share"),
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
    approx: bool = False,
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    customer-value grid): per entity, seconds since its last event
    (relative to the corpus max timestamp), event count, and exact
    decimal value sum, each scored 1..``n_tiles`` against corpus-wide
    percentile cutpoints (higher = better: more recent, more
    frequent, higher spend).  Returns ``(user, recency_s, frequency,
    monetary, r_score, f_score, m_score)`` with monetary at 6 dp.

    Scale design: one per-entity hash aggregate; the cutpoints are a
    1-row percentile aggregate over the ENTITY table (not the event
    stream) broadcast back as when-chains — no global ntile window
    (the single-partition scale-killer the two-phase rankers exist to
    avoid; percentile fences give the same quintile semantics without
    any global sort).  ``approx=True`` swaps in the mergeable
    ``percentile_approx`` sketch for the 100 TB path.  Boundary ties
    score HIGH (``value <= cut`` moves to the next tile only when
    strictly above), deterministically in both engines.
    """
    events = normalize_event_time(events, ts_col)
    per = events.groupBy(F.col(user_col)).agg(
        F.max(_epoch_s(ts_col)).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double"), 6
        ).alias("monetary"),
    )
    corpus_max = events.agg(F.max(_epoch_s(ts_col)).alias("__cmax"))
    per = per.crossJoin(F.broadcast(corpus_max)).select(
        F.col(user_col),
        (F.col("__cmax") - F.col("__last")).alias("recency_s"),
        "frequency",
        "monetary",
    )
    pf = F.percentile_approx if approx else F.percentile
    pcts = [i / n_tiles for i in range(1, n_tiles)]
    cuts = per.agg(
        *[
            pf(F.col(c), F.lit(p)).alias(f"__{c}_{i}")
            for c in ("recency_s", "frequency", "monetary")
            for i, p in enumerate(pcts)
        ]
    )

    def score(c: str, invert: bool) -> "F.Column":
        # tiles from when-chains over the broadcast cutpoints; ties at
        # a fence stay in the lower tile index (then inverted for
        # recency, where LOW values are good)
        s = F.lit(1)
        for i in range(len(pcts)):
            s = F.when(F.col(c) > F.col(f"__{c}_{i}"), i + 2).otherwise(s)
        return (n_tiles + 1 - s) if invert else s

    return per.crossJoin(F.broadcast(cuts)).select(
        F.col(user_col),
        "recency_s",
        "frequency",
        "monetary",
        score("recency_s", invert=True).alias("r_score"),
        score("frequency", invert=False).alias("f_score"),
        score("monetary", invert=False).alias("m_score"),
    )
