"""Structured Streaming entry points for the event stream.

Drives the batch-defined transformations of :mod:`.ops` under
``readStream``: parquet-directory source (driver fixtures) → watermark
→ windowed aggregation → memory/foreachBatch sink.  At scale the source
becomes Kafka and the sink a Delta/parquet table — the transformation
plan is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import normalize_event_time
from ..store import exists, index_family


def stream_events_windowed(
    spark: SparkSession,
    source_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "events_windowed",
):
    """Streaming tumbling-window counts with late-data watermarking.

    Returns the started StreamingQuery writing to an in-memory sink
    (for tests, ``query.processAllAvailable()`` then read
    ``spark.table(query_name)``).
    """
    events = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("event_type"),
            F.window(F.col("ts"), window_duration)["start"].alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_edge_condense(
    spark: SparkSession,
    source_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    cohorts: int = 10,
    query_name: str = "edge_condense",
):
    """Streaming graph ingestion → windowed condense: events arrive as
    edges (``user_id → event_type``, weight ``value``) and each
    tumbling window emits its quotient graph — the same
    ``(window_start, source_group, target_group, n_edges,
    sum_weight)`` rows as the batch twin
    :func:`~networkframe_spark.streaming.ops.windowed_edge_condense`
    (that is, ``add_edges`` + :meth:`NetworkFrame.condense` per
    window, expressed as one watermarked streaming aggregate so the
    state store holds only per-(window, cohort, type) partial sums —
    never the edges themselves).

    Returns the started StreamingQuery writing to an in-memory sink
    (for tests, ``query.processAllAvailable()`` then read
    ``spark.table(query_name)``).  At scale: Kafka source, append
    mode + parquet/Delta sink keyed by window — the aggregate plan is
    identical.
    """
    events = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window(F.col("ts"), window_duration)["start"].alias(
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
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def user_running_totals(events: DataFrame):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user cumulative event count and value sum, updated each
    micro-batch from state-store-backed per-key state.

    This is the escape hatch for stateful logic ``session_window`` /
    windowed aggregates can't express (arbitrary per-key accumulators);
    the state schema is explicit and the state store shuffles on the
    group key exactly once.  Streaming-only (requires update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            (cnt, total) = state.get
        else:
            cnt, total = 0, 0.0
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": cnt, "sum_value": total}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n_events long, sum_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_session_windows(
    spark: SparkSession,
    source_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "session_windows",
):
    """Streaming sessionization with the native ``session_window``:
    state-store-backed merging windows per user, closed (emitted) once
    the watermark passes the session gap.  Append output mode — each
    session row is final when it leaves the state store.
    """
    events = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_range_join(
    spark: SparkSession,
    source_dir: str,
    schema,
    left_type: str = "click",
    right_type: str = "error",
    window_seconds: int = 600,
    watermark: str = "1 hour",
    query_name: str = "stream_range_join",
):
    """Watermarked stream-stream interval join: left events joined to
    right events of the same user arriving within ``window_seconds``
    after them.  Both sides carry watermarks so the state store can
    evict rows once no in-range partner can still arrive — the bounded-
    state form of the batch :func:`...functions.temporal.range_join`.
    """
    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 4)
        .load(source_dir)
    )
    left = (
        src.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        src.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")),
    ).select("user_id", "l_id", "r_id")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def user_sequence_builder(events: DataFrame):
    """Streaming twin of :func:`networkframe_spark.streaming.ops.
    user_event_sequences`: per-user ordered event-type trail maintained
    in state-store-backed per-key state via ``applyInPandasWithState``.

    Robust to cross-micro-batch disorder: state holds the (ts,
    event_id, event_type) triples seen so far and the trail is
    re-sorted at every emit, so the final update equals the batch
    aggregate regardless of arrival order.  State is per-key bounded by
    that user's history — unbounded over time by construction (a
    sequence builder must remember the sequence); production use pairs
    this with a state TTL/timeout or a windowed restriction on how much
    trail to keep.  Streaming-only (update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            ts_list, eid_list, et_list = state.get
            ts_list = list(ts_list)
            eid_list = list(eid_list)
            et_list = list(et_list)
        else:
            ts_list, eid_list, et_list = [], [], []
        for pdf in pdfs:
            ts_list += [int(t) for t in pdf["ts"].astype("int64")]
            eid_list += [int(x) for x in pdf["event_id"]]
            et_list += [str(x) for x in pdf["event_type"]]
        state.update((ts_list, eid_list, et_list))
        order = sorted(range(len(ts_list)), key=lambda i: (ts_list[i], eid_list[i]))
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": len(et_list),
                    "sequence": ">".join(et_list[i] for i in order),
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sequence string",
        stateStructType="ts array<long>, eid array<long>, et array<string>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_deduplicate(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    within_watermark: bool = True,
):
    """Streaming exact deduplication — the streaming twin of the batch
    ``event_dedup`` query (``dropDuplicates`` over key columns).

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``:
    per-key state is EVICTED once the watermark passes the first-seen
    event time, so state is bounded by (key cardinality within the
    watermark horizon), not by stream lifetime — the only formulation
    that survives an unbounded 100 TB/day stream.  Set it ``False``
    for the classic exact-forever ``dropDuplicates`` (state grows with
    distinct keys; only for bounded key domains).

    Takes the streaming DataFrame (caller owns source + sink wiring),
    returns the deduplicated streaming DataFrame.
    """
    keys = keys or ["user_id", "event_type"]
    # withWatermark requires TimestampType; NTZ-encoded fixtures are
    # normalized here so caller-built streams can't hit the illegal type
    wm = normalize_event_time(events, "ts").withWatermark("ts", watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def stream_unique_users(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.05,
):
    """Approximate distinct users per event-time window —
    ``approx_count_distinct`` (HyperLogLog++) is the only distinct
    aggregate Structured Streaming supports, and the right one at
    scale anyway: mergeable fixed-size sketches, no per-user state.
    Exact ``countDistinct`` would need unbounded per-window sets.

    Returns the aggregated streaming DataFrame ``(window_start,
    n_events, approx_users)``; caller wires the sink.  The batch twin
    (same expression on a batch frame) gives the sketch-identical
    answer for bounds testing.
    """
    return (
        normalize_event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window_duration)["start"].alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        )
    )


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
    query_name: str = "to_parquet",
):
    """Durable streaming sink: append the streaming DataFrame to a
    parquet table with exactly-once file commits (checkpointed WAL +
    idempotent file manifest — Spark's parquet sink contract).

    This is the batch-layer handoff of a production pipeline: windowed
    aggregates / sessionized events land as parquet partitions that the
    batch ops in this package read back with the ordinary scan path.
    ``trigger_seconds=None`` processes as fast as micro-batches arrive;
    set it to trade latency for fewer, larger output files.  At scale,
    pair with a downstream compaction job — streaming sinks produce a
    file per partition per micro-batch.

    Returns the started StreamingQuery (caller stops it).
    """
    w = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def stream_upsert_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
    query_name: str = "upsert_parquet",
):
    """Latest-wins streaming upsert into a parquet table: every
    micro-batch merges into the target via
    :func:`~networkframe_spark.functions.pipeline.merge_incremental`
    (one struct-max aggregate; incoming beats existing on exact
    ties), so the table always holds exactly one — the newest — row
    per key.  The Delta-less CDC materialization: keyed state lives
    in the TABLE, not the state store, so it survives restarts and
    is readable by any batch scan mid-stream.

    Restart semantics: the checkpoint makes batch REPLAY possible
    after a crash; because the merge is idempotent (replaying a batch
    against a table that already absorbed it changes nothing), the
    table converges to exactly-once CONTENT even though foreachBatch
    itself is at-least-once.

    Scale note: each micro-batch rewrites the table (read + merge +
    eager-checkpoint + overwrite — the checkpoint materializes the
    merged rows BEFORE the overwrite deletes the input files).  That
    is the right shape for keyed TABLES (dimensions, sessions,
    feature snapshots), not for append-only fact streams — use
    :func:`stream_to_parquet` there.

    Returns the started StreamingQuery (caller stops it).
    """
    from ..functions.pipeline import merge_incremental

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        latest_batch = merge_incremental(
            batch_df.limit(0),
            batch_df,
            key_col=key_col,
            ts_col=ts_col,
            tiebreak_col=tiebreak_col,
        )
        # probed through the Hadoop FileSystem (store.exists): a
        # driver-local os.path check is always false for a remote URI
        # and would silently discard the table's state after a restart
        if exists(spark, path):
            existing = spark.read.parquet(path)
            merged = merge_incremental(
                existing,
                latest_batch,
                key_col=key_col,
                ts_col=ts_col,
                tiebreak_col=tiebreak_col,
            )
        else:
            merged = latest_batch
        # materialize BEFORE overwrite: the plan must not reference
        # the files the write is about to delete
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def stream_anomaly_zscore(
    events: DataFrame,
    n_rows: int = 20,
    threshold: float = 3.0,
    min_periods: int = 5,
):
    """Streaming twin of
    :func:`networkframe_spark.functions.temporal.anomaly_zscore`:
    per-entity trailing z-score flags computed as events arrive, with
    the last ``n_rows`` (ts, id, value) per user in state-store-backed
    per-key state via ``applyInPandasWithState`` — the live-alerting
    form of the batch detector.

    Semantics contract: scores equal the batch op exactly when each
    user's events arrive in (ts, id) order across micro-batches (the
    equivalence test feeds chronological files); a late event is
    scored against the state AS OF its arrival — trailing windows are
    not retroactively repaired (standard streaming caveat, same class
    as the sequence builder).

    Numerics match the batch twin bit-for-bit on ordered input:
    values quantize to 1e-6 integer units (Spark's DECIMAL(18,6)
    half-up cast, via ``Decimal(repr(v))`` — the same shortest-string
    convention ``F.round`` uses), both moments are exact integer
    sums, and z rounds HALF_UP at 6 dp.

    Scale design: state per key is ``n_rows`` scalars (bounded — a
    hub user costs the same as anyone); one state-store shuffle on
    the entity key per micro-batch, Arrow-batched Python.
    """
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    MICRO = 10**6
    PICO = 10**12
    Q6 = decimal.Decimal("0.000001")

    def _q6(x: float) -> int:
        return int(
            decimal.Decimal(repr(x)).quantize(
                Q6, rounding=decimal.ROUND_HALF_UP
            )
            * MICRO
        )

    def fn(key, pdfs, state: GroupState):
        # state mirrors the batch ROWS frame: the last n_rows ROWS
        # (null-valued ones included, masked out of the moments —
        # exactly F.count(v)/F.sum(v) over a rowsBetween(-n, -1)
        # frame that spans null rows)
        if state.exists:
            tss, ids, us, mk = (list(c) for c in state.get)
        else:
            tss, ids, us, mk = [], [], [], []
        out = []
        # Materialize ALL Arrow chunks and sort ONCE: the groupBy
        # shuffle does not preserve arrival order, and a key whose
        # micro-batch rows span multiple chunks would otherwise be
        # scored out of (ts, id) order, breaking the documented
        # batch-equivalence.  Per-key micro-batch data is bounded, so
        # the concat is safe.
        chunks = [c for c in pdfs]
        merged = (
            [pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])]
            if chunks
            else []
        )
        for pdf in merged:
            for ts, eid, v in zip(
                pdf["ts"].astype("int64"),
                pdf["event_id"],
                pdf["value"],
            ):
                vals = [u for u, m in zip(us, mk) if m]
                n = len(vals)
                z = None
                v_null = pd.isna(v)
                if n >= min_periods and not v_null:
                    s1 = sum(vals) / MICRO
                    s2 = sum(u * u for u in vals) / PICO
                    var = (n * s2 - s1 * s1) / (n * (n - 1))
                    if var > 0:
                        raw = (float(v) - s1 / n) / var**0.5
                        z = float(
                            decimal.Decimal(repr(raw)).quantize(
                                Q6, rounding=decimal.ROUND_HALF_UP
                            )
                        )
                out.append(
                    {
                        "user_id": key[0],
                        "event_id": int(eid),
                        "value": None if v_null else float(v),
                        "n_window": n,
                        "z": z,
                        "is_anomaly": (
                            z is not None and abs(z) >= threshold
                        ),
                    }
                )
                tss.append(int(ts))
                ids.append(int(eid))
                us.append(0 if v_null else _q6(float(v)))
                mk.append(not v_null)
                if len(us) > n_rows:
                    tss, ids, us, mk = (
                        tss[-n_rows:],
                        ids[-n_rows:],
                        us[-n_rows:],
                        mk[-n_rows:],
                    )
        state.update((tss, ids, us, mk))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "event_id",
                "value",
                "n_window",
                "z",
                "is_anomaly",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, event_id long, value double,"
            " n_window long, z double, is_anomaly boolean"
        ),
        stateStructType=(
            "tss array<long>, ids array<long>, us array<long>,"
            " mk array<boolean>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_neardup_parquet(
    docs: DataFrame,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    query_name: str = "neardup",
):
    """Streaming MinHash-LSH near-duplicate detection: each micro-batch
    folds through :func:`~networkframe_spark.streaming.ops.
    neardup_increment` and the three state tables persist as parquet
    under ``out_dir`` (``docs/`` corpus-so-far, ``bands/`` LSH band
    buckets, ``pairs/`` verified near-dup pairs) — the streaming twin
    of :func:`~networkframe_spark.functions.dedup.
    minhash_lsh_duplicates`: once the stream drains, ``pairs/`` equals
    the batch op on the full corpus (equivalence-tested).

    State lives in the TABLES (same design as
    :func:`stream_upsert_parquet`): readable by any batch scan
    mid-stream, survives restarts, zero state-store bytes.  Replay
    after a crash is absorbed by ``neardup_increment``'s two
    anti-joins (redelivered ids and rediscovered pairs no-op), so the
    tables converge to exactly-once content under foreachBatch's
    at-least-once contract — provided the per-batch writes complete
    through the final (docs) table.  Parquet overwrite is not atomic;
    the fold writes bands and pairs BEFORE docs so that a crash
    mid-batch leaves the batch fully replayable (docs absent => the
    anti-join does not absorb it) rather than silently half-absorbed.

    Scale note: each micro-batch rewrites the three tables (read +
    fold + eager-checkpoint + overwrite).  The rewrite is the price of
    Delta-less persistence — on a real deployment the band and pair
    tables would be append-only partitions instead; the candidate join
    itself is batch-rows x band-table on the bucket key, so per-batch
    cost scales with arrivals, not corpus size.

    Returns the started StreamingQuery (caller stops it).
    """
    import os

    from .ops import neardup_increment

    paths = {k: os.path.join(out_dir, k) for k in ("docs", "bands", "pairs")}

    def _read(spark, key: str) -> DataFrame | None:
        if not exists(spark, paths[key]):
            return None
        return spark.read.parquet(paths[key])

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        state = {k: _read(spark, k) for k in paths}
        # materialize=True checkpoints the state BEFORE the overwrites
        # delete the files the plans reference (same rule as
        # stream_upsert) — and in dependency order, so the pairs job
        # reads the docs/bands checkpoints instead of re-deriving the
        # whole fold (r17)
        docs2, bands2, pairs2 = neardup_increment(
            batch_df,
            state["docs"],
            state["bands"],
            state["pairs"],
            text_col=text_col,
            id_col=id_col,
            n_perm=n_perm,
            n_bands=n_bands,
            shingle_n=shingle_n,
            threshold=threshold,
            materialize=True,
        )
        out = {"docs": docs2, "bands": bands2, "pairs": pairs2}
        # Write order matters for crash recovery: docs LAST.  The
        # doc-id anti-join in neardup_increment absorbs a replayed
        # micro-batch entirely once its ids are in the docs table — so
        # if docs were written first and the job died before bands,
        # the replay would skip band computation for those documents
        # forever (silently lost near-dup pairs).  Writing bands and
        # pairs first is safe the other way around: a replay after a
        # partial write recomputes and re-overwrites them, and any
        # duplicate band rows from the torn state are harmless
        # (candidates are distinct()-ed, pairs anti-joined).  Parquet
        # overwrite is not atomic, so this ordering narrows — not
        # closes — the window; state converges under at-least-once
        # replay provided the docs write is the last to complete.
        for k in ("bands", "pairs", "docs"):
            out[k].write.mode("overwrite").parquet(paths[k])

    return (
        docs.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def stream_index_add(
    df: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str | None = None,
    emb_col: str = "embedding",
    text_col: str = "text",
    query_name: str = "index_add",
    maintain_every: int | None = None,
    max_files_per_partition: int = 32,
):
    """Streaming ingestion into a persisted ANN or text index: every
    micro-batch is absorbed by the incremental add of the index family
    stored under ``path``, so the index a batch search probes is
    always current without an offline rebuild.  The family is read
    from the store once, when the query starts
    (:func:`~networkframe_spark.store.index_family`) — it is a fact
    of the store, not a choice for the caller.  The embedding families
    (``lsh`` / ``ivf`` / ``ivf_sq`` / ``ivfpq``) take ``(id,
    embedding)`` rows —
    :func:`~networkframe_spark.functions.similarity.lsh_index_add`
    and siblings; ``minhash`` and ``text`` take ``(id, text)``
    documents —
    :func:`~networkframe_spark.functions.dedup.minhash_index_add`
    (the decontamination/self-dedup store) and
    :func:`~networkframe_spark.functions.search.text_index_add`
    (the BM25 inverted index).  ``id_col`` defaults per family:
    ``vec_id`` for the embedding indexes, ``doc_id`` for ``minhash``
    and ``text``.  At streaming cadence each
    partition directory accumulates a file per touched micro-batch —
    pass ``maintain_every=N`` to run
    :func:`~networkframe_spark.functions.similarity.index_maintain`
    every N micro-batches: a pure file-listing check that compacts
    ONLY the stores whose files-per-partition breached
    ``max_files_per_partition`` (measured 12.7× probe restoration
    after 30 adds, SCALE.md r13; search is bit-identical across the
    swap).  The cadence is opt-in because compaction rewrites data
    the next micro-batch would otherwise append next to — on object
    stores without atomic rename, run it under the add's own
    maintenance lock (here it IS under it: foreachBatch serializes
    batches, so the compact runs between adds, never concurrent with
    one).

    Restart semantics: foreachBatch is at-least-once, but every add
    carries the partition-pruned retry guard (the batch anti-joins
    ids already present in the cells/buckets it would land in), so a
    replayed micro-batch appends ZERO rows — the index converges to
    exactly-once CONTENT, the same argument as
    :func:`stream_upsert_parquet`, with keyed state living in the
    INDEX, not the state store.

    Scale note: per micro-batch cost is the add's — one
    encode/assign pass over the batch plus an append of only new
    files into the touched partition directories; nothing existing
    is read beyond the pruned id columns, nothing is rewritten.
    The index must exist (built offline via ``build_*_index``);
    centroid/plane manifests stay fixed — rebuild when
    :func:`~networkframe_spark.functions.similarity.embedding_drift`
    says the distribution moved.

    Returns the started StreamingQuery (caller stops it).
    """
    from ..functions.dedup import minhash_index_add
    from ..functions.search import text_index_add
    from ..functions.similarity import (
        ivf_index_add,
        ivf_sq_index_add,
        ivfpq_index_add,
        lsh_index_add,
    )

    family = index_family(df.sparkSession, path)
    add = {
        "lsh": lsh_index_add,
        "ivf": ivf_index_add,
        "ivf_sq": ivf_sq_index_add,
        "ivfpq": ivfpq_index_add,
        "minhash": minhash_index_add,
        "text": text_index_add,
    }[family]
    if family in ("minhash", "text"):
        rid, cols = id_col or "doc_id", {"text_col": text_col}
    else:
        rid, cols = id_col or "vec_id", {"emb_col": emb_col}

    def _absorb(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            add(
                batch_df.sparkSession, path, batch_df, id_col=rid,
                dedupe=True, **cols,
            )
        if maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            from ..functions.similarity import index_maintain

            index_maintain(
                batch_df.sparkSession,
                path,
                max_files_per_partition=max_files_per_partition,
            )

    return (
        df.writeStream.foreachBatch(_absorb)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )
