"""Temporal event-stream operators, batch/streaming dual-use.

Written against plain DataFrames: in batch they are ordinary window /
aggregate plans (and get DuckDB oracles); the same logic runs under
Structured Streaming readStream for the production path (tumbling
windows via ``F.window``; sessionization via gap detection).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import normalize_event_time


def _epoch_s(col) -> Column:
    """Epoch seconds; safety net for either timestamp flavor.

    The public ops normalize inputs via
    :func:`~networkframe_spark.sources.normalize_event_time`
    (session-tz-independent), so this is normally a no-op double cast
    on TimestampType.  For expression-level callers bypassing the
    entry points, a raw NTZ column would fall back to session-tz
    interpretation here."""
    c = col if isinstance(col, Column) else F.col(col)
    return c.cast("timestamp").cast("long")


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sums per event type.

    Batch form of the canonical streaming aggregation; epoch-aligned
    windows (``F.window``) so DuckDB's ``date_trunc`` reproduces the
    bucketing for whole-unit durations.
    Output: (event_type, window_start, n_events, sum_value).
    """
    events = normalize_event_time(events, ts_col)
    return (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.window(F.col(ts_col), window_duration)["start"].alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-exact sum -> double: deterministic across engines
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


def windowed_edge_condense(
    events: DataFrame,
    window_duration: str = "1 hour",
    cohorts: int = 10,
    ts_col: str = "ts",
) -> DataFrame:
    """Edge-stream → quotient-graph-per-window: each event is an edge
    ``user_id → event_type`` weighted by ``value``; users group into
    ``user_id mod cohorts`` cohorts and the output is the condensed
    edge list per tumbling window — ``(window_start, source_group,
    target_group, n_edges, sum_weight)``.

    This is :meth:`NetworkFrame.condense` (frame.py, quotient-graph
    aggregation) applied to a windowed edge stream: building the
    per-window frame and condensing it yields exactly these rows
    (asserted in tests), but expressing the composition as ONE
    windowed aggregate keeps it a single-exchange plan that runs
    identically under ``readStream`` (see
    :func:`~networkframe_spark.streaming.stream.stream_edge_condense`).
    Sums are decimal-exact then cast to double — deterministic across
    engines and micro-batch orders.
    """
    events = normalize_event_time(events, ts_col)
    return (
        events.groupBy(
            F.window(F.col(ts_col), window_duration)["start"].alias(
                "window_start"
            ),
            F.pmod(F.col("user_id"), F.lit(cohorts)).alias("source_group"),
            F.col("event_type").alias("target_group"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_weight"),
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Assign session ids per user by inactivity gap: a new session
    starts when the time since the previous event exceeds the gap.

    Classic lag + cumulative-sum-over-boundary pattern (one shuffle on
    user_id; the two windows share the same partitioning so Catalyst
    plans a single sort).  Output: events + ``session_id`` (1-based
    per user).
    """
    events = normalize_event_time(events, ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    gap = _epoch_s(ts_col) - F.lag(_epoch_s(ts_col)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-session summary via Spark's native ``session_window`` —
    the stateful merging-window primitive (works identically under
    Structured Streaming with a watermark, where state-store-backed
    windows merge incrementally as events arrive).

    Semantics match :func:`sessionize` (a session extends while
    inter-event gaps are <= ``gap``); ``session_start`` is the min
    event time of the session.
    Output: (user_id, session_start, n_events, sum_value).
    """
    events = normalize_event_time(events, ts_col)
    return (
        events.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col(user_col).alias("user_id"),
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def session_stats(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-session summary: event count, duration seconds, value sum.

    Output: (user_id, session_id, n_events, duration_s, sum_value).
    """
    s = sessionize(events, gap_minutes, user_col, ts_col)
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(_epoch_s(ts_col)) - F.min(_epoch_s(ts_col))).alias("duration_s"),
        # round(6) after the decimal-exact sum: hash-stable across engines
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


def user_event_sequences(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    sep: str = ">",
) -> DataFrame:
    """Reconstruct each user's ordered action sequence — the
    behavioral-modeling / next-event-prediction training shape:
    ``(user_id, n_events, first_ts, last_ts, sequence)`` where
    ``sequence`` is the time-ordered ``event_type`` trail joined by
    ``sep`` (ties broken by event_id for determinism).

    One hash aggregate: ``collect_list`` of (ts, event_id, type)
    structs, sorted per group with ``array_sort`` (struct comparison
    is lexicographic on the fields, JVM-side), then projected to the
    type trail.  No window, no second shuffle — the sort happens
    inside each group's collected array, which is exactly the
    per-entity-bounded state a sequence builder needs at corpus scale
    (a user's history fits in memory; the corpus doesn't have to).
    """
    return (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("ts"),
                                F.col("event_id").alias("eid"),
                                F.col(type_col).alias("et"),
                            )
                        )
                    ),
                    lambda x: x["et"],
                ),
                sep,
            ).alias("sequence"),
        )
    )


def neardup_increment(
    batch: DataFrame,
    docs: DataFrame | None,
    bands: DataFrame | None,
    pairs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One incremental MinHash-LSH near-dup step: fold a micro-batch of
    documents into the three-state tuple ``(docs, bands, pairs)`` and
    return the new state.  ``docs`` is the corpus so far (first arrival
    of an id wins — band rows are a pure function of the text, so a
    replayed id contributes nothing new), ``bands`` the accumulated LSH
    band-bucket table (:func:`~networkframe_spark.functions.dedup.
    minhash_band_table`), ``pairs`` the verified near-dup pairs emitted
    so far.  Pass ``None`` for the empty initial state.

    Equivalence contract (tested): folding any partition of a corpus
    through this function in any order yields exactly
    :func:`~networkframe_spark.functions.dedup.minhash_lsh_duplicates`
    of the whole corpus (verify=True, ``max_df=None`` — a document-
    frequency cap would depend on the corpus-so-far and break
    order-independence, so it is deliberately not exposed here).  A
    pair is discovered in the step where its LATER document arrives:
    the new band rows join the merged band table, covering (new, old)
    and (new, new) collisions; (old, old) pairs were emitted earlier.
    Jaccard depends only on the two documents' own shingle sets, so
    verifying against the corpus-so-far equals verifying against the
    final corpus.  Replay-idempotent: the id anti-join drops redelivered
    docs, the pair anti-join drops rediscovered pairs.

    Scale design: per batch, band computation touches batch rows only;
    the candidate join is (batch band rows) x (band table) on the
    uniform (band, key) bucket key — never corpus x corpus; Jaccard
    verification explodes only candidate pairs' shingles.  State lives
    in the returned DataFrames — the streaming wrapper
    (:func:`~networkframe_spark.streaming.stream.stream_neardup_parquet`)
    persists them as parquet tables, so executor state is zero.

    ``materialize=True`` eagerly checkpoints the returned state IN
    DEPENDENCY ORDER (batch survivors first, then docs+bands
    concurrently, then pairs), so each materialization reads the
    previous checkpoint instead of re-deriving it.  This is for
    callers that materialize every fold anyway (the parquet sink, the
    batch twin): the naive "checkpoint the returned tuple" pays the
    batch's banding TWICE (once in the bands write, once inside the
    pairs plan) and re-runs the dedup/anti-join three times — measured
    20 jobs for the pairs materialization alone vs 8 with the ordered
    form, identical state bit-for-bit (checkpointing is semantically
    the identity).
    """
    from ..functions.dedup import jaccard_verify, minhash_band_table

    new_docs = batch.select(id_col, text_col).dropDuplicates([id_col])
    if docs is not None:
        new_docs = new_docs.join(docs.select(id_col), on=id_col, how="left_anti")
    if materialize:
        # batch-sized; both docs2 and bands2 below read it
        new_docs = new_docs.localCheckpoint(eager=True)
    docs2 = new_docs if docs is None else docs.unionByName(new_docs)
    nb = minhash_band_table(
        new_docs, text_col, id_col, n_perm, n_bands, shingle_n
    )
    bands2 = nb if bands is None else bands.unionByName(nb)
    if materialize:
        # independent jobs — overlap them (guide: actions are only
        # sequential because the driver calls them sequentially).  In
        # pinned-thread mode a pool thread runs on a fresh JVM thread;
        # inheritable_thread_target carries the caller's local
        # properties (job group, description, SparkContext job tags)
        # over to it.
        import warnings
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with warnings.catch_warnings():
            # "Tags will not be inherited" names SparkSession tags only;
            # the wrapper's SparkSession form fails outside pinned mode
            warnings.simplefilter("ignore", UserWarning)
            checkpoint = inheritable_thread_target(
                lambda d: d.localCheckpoint(eager=True)
            )
        with ThreadPoolExecutor(max_workers=2) as pool:
            docs2, bands2 = pool.map(checkpoint, (docs2, bands2))
        # the batch's band rows, re-sliced from the checkpointed band
        # table instead of re-hashing the batch: new ids were
        # anti-joined against the old docs, and band ids are a subset
        # of doc ids, so "bands2 rows with a new id" IS nb.  The one
        # exception is the replay of a torn write (bands persisted,
        # docs not): the old bands then already hold the batch's rows,
        # nb comes out with duplicate rows, and the pairs they yield
        # are absorbed by cand.distinct() and the pairs anti-join.
        nb = bands2.join(
            new_docs.select(id_col).withColumnRenamed(id_col, "id"),
            on="id",
            how="left_semi",
        )
    cand = (
        nb.alias("a")
        .join(bands2.alias("b"), on=["band", "key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    if pairs is not None:
        cand = cand.join(pairs.select("id_a", "id_b"), on=["id_a", "id_b"], how="left_anti")
    new_pairs = jaccard_verify(
        cand, docs2, text_col, id_col, shingle_n, threshold
    )
    pairs2 = new_pairs if pairs is None else pairs.unionByName(new_pairs)
    if materialize:
        pairs2 = pairs2.localCheckpoint(eager=True)
    return docs2, bands2, pairs2
