"""Graph construction from tabular sources.

The reference has no scan layer — "the user hands us two DataFrames"
(SURVEY §2.1).  Here ingestion is Spark-native: parquet/csv/json scans
with predicate pushdown and column pruning, plus the canonical
graph-shaping of the driver's TPC-H-ish star schema (FIXTURES.md §4):

    nodes = customer ∪ supplier   (id = key, attrs = acctbal/nation)
    edges = lineitem ⋈ orders  →  (o_custkey as source,
                                   l_suppkey as target,
                                   l_extendedprice as weight)

a directed multigraph with duplicate pairs and realistic skew.
Customer and supplier key spaces overlap, so IDs are namespaced:
customer keys stay positive, supplier keys are negated (both int64,
collision-free, order-preserving within each class).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .frame import NetworkFrame
from .store import read_manifest, write_manifest

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _tune(spark: SparkSession) -> None:
    """Runtime-settable safety pins for sessions we didn't build (the
    driver harness constructs its own): AQE gives broadcast-conversion
    and partition coalescing at runtime sizes — the engine's plans
    assume it.

    SIDE EFFECT: mutates the CALLER's SparkSession conf globally (AQE
    flags here; ``read_events`` additionally pins the session timezone
    to UTC and nanosAsLong).  Deliberate — the driver contract needs
    identical plans and window boundaries regardless of who built the
    session — but it does reconfigure subsequent unrelated queries on
    an externally-owned session.  Snapshot ``spark.conf`` before
    calling if the prior values matter."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def read_table(
    spark: SparkSession, sf_dir: str, name: str, fmt: str = "parquet"
) -> DataFrame:
    """Read one fixture table (parquet by default; csv/json for
    interchange dumps — csv reads with header + schema inference,
    which costs an extra pass; pass an explicit schema via
    :func:`read_table_at` for production csv).

    NOTE: pins AQE on in the caller's session as a side effect (see
    :func:`_tune`)."""
    return read_table_at(spark, os.path.join(sf_dir, f"{name}.{fmt}"), fmt)


def read_table_at(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Format-dispatching scan: parquet (native, pushdown + pruning),
    csv (header; schema inferred unless given — inference is a full
    extra read at scale), or json (lines).  Filters and projections on
    the result push into the scan for all three.

    NOTE: pins AQE on in the caller's session as a side effect (see
    :func:`_tune`)."""
    _tune(spark)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        r = spark.read.option("header", "true")
        r = r.schema(schema) if schema is not None else r.option(
            "inferSchema", "true"
        )
        return r.csv(path)
    if fmt == "json":
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(path)
    if fmt == "orc":
        # native columnar like parquet: pushdown, pruning, and
        # vectorized reads all apply
        return spark.read.orc(path)
    raise ValueError(f"unsupported format: {fmt!r}")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with a proper timestamp column.

    The fixture parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark
    rejects by default; read it as long nanos and convert losslessly to
    a microsecond timestamp (fixture values are micro-precision).

    SIDE EFFECT: the CALLER's session timezone is pinned to UTC here
    (plus ``nanosAsLong`` and the :func:`_tune` AQE flags), globally
    and for all subsequent queries on that session:
    window/date_trunc results and collected timestamps are
    session-timezone-dependent, and the DuckDB oracles are
    timezone-naive — a caller session in another zone would silently
    shift every window boundary.  Snapshot/restore
    ``spark.conf.get("spark.sql.session.timeZone")`` around this call
    if your session needs a different zone afterwards."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_table(spark, sf_dir, "events")
    return normalize_event_time(df, "ts")


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-tz ``TimestampType``
    regardless of how the parquet writer encoded it.

    Fixture regenerations have shipped ``ts`` three ways so far:

    * ``timestamp[ns]`` — rejected by Spark unless ``nanosAsLong`` is
      set, then read as ``bigint`` epoch-nanos;
    * ``timestamp[us]`` tz-naive — read as ``TIMESTAMP_NTZ``, which is
      illegal for ``withWatermark`` and for direct ``cast(bigint)``;
    * ``timestamp[us]`` tz-aware — already ``TimestampType``.

    All three collapse to the same wall-clock instants under the UTC
    session timezone :func:`read_events` pins, so every downstream
    window boundary and epoch extraction is bit-identical to the
    timezone-naive DuckDB oracles.  Idempotent; no-op when the column
    is absent or already ``timestamp``.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":  # epoch nanos via nanosAsLong
        # The bigint branch exists for the nanosAsLong fixture encoding
        # ONLY.  A caller-supplied epoch-seconds (~1e9) or epoch-millis
        # (~1e12) column would be silently collapsed to ~1970 by the
        # div-1000 nanos interpretation, so gate on plausibility: any
        # nonzero value under 1e15 (|ns| < 1e15 is before 1970-01-12 —
        # no real event stream) raises instead of converting.  Callers
        # with second/milli epochs must convert explicitly
        # (timestamp_seconds / timestamp_millis) before this call.
        ns = F.col(ts_col)
        plausible = ns.isNull() | (ns == 0) | (F.abs(ns) >= F.lit(10**15))
        df = df.withColumn(
            ts_col,
            F.when(
                F.assert_true(
                    plausible,
                    F.concat(
                        F.lit(
                            f"normalize_event_time: bigint `{ts_col}` value "
                        ),
                        ns.cast("string"),
                        F.lit(
                            " is not plausible epoch-nanoseconds; convert "
                            "seconds/millis explicitly before calling"
                        ),
                    ),
                ).isNull(),
                F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")),
            ),
        )
    elif dtype == "timestamp_ntz":
        # wall-clock-as-UTC via pure NTZ arithmetic (timestampdiff has
        # no timezone input), NOT cast("timestamp"): the cast reads the
        # SESSION timezone, and in a non-UTC session its DST
        # transitions would silently distort gaps/durations computed
        # downstream.  This form gives the same instants in every
        # session timezone.
        df = df.withColumn(
            ts_col,
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
                )
            ),
        )
    return df


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with the vector cast to array<double>: similarity
    math then runs in double precision end-to-end, matching what any
    SQL oracle computes (float32 dot products diverge at ~1e-7)."""
    return read_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def supplier_node_id(col):
    """Suppliers live in negative ID space: -(s_suppkey) - 1."""
    return (-F.col(col).cast("long") - F.lit(1)).alias("id")


def tpch_graph(
    spark: SparkSession, sf_dir: str, validate: bool = False
) -> NetworkFrame:
    """Canonical t2 graph over the driver fixtures (FIXTURES.md §4)."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    cust_nodes = customer.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.lit("customer").alias("kind"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp_nodes = supplier.select(
        supplier_node_id("s_suppkey"),
        F.lit("supplier").alias("kind"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    nodes = cust_nodes.unionByName(supp_nodes)

    # lineitem ⋈ orders on orderkey; orders side is the smaller one but
    # both are fact tables — sort-merge/shuffled-hash with AQE; the
    # projection prunes the parquet scans to the join keys + payload.
    edges = (
        lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            on=F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").cast("long").alias("source"),
            (-F.col("l_suppkey").cast("long") - F.lit(1)).alias("target"),
            F.col("l_extendedprice").alias("weight"),
        )
    )
    return NetworkFrame(nodes, edges, directed=True, validate=validate)


def nation_region_graph(spark: SparkSession, sf_dir: str) -> NetworkFrame:
    """Tiny hierarchy graph: nation → region edges (broadcast-scale)."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    nodes = nation.select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_name").alias("name"),
        F.lit("nation").alias("kind"),
    ).unionByName(
        region.select(
            (-F.col("r_regionkey").cast("long") - F.lit(1)).alias("id"),
            F.col("r_name").alias("name"),
            F.lit("region").alias("kind"),
        )
    )
    edges = nation.select(
        F.col("n_nationkey").cast("long").alias("source"),
        (-F.col("n_regionkey").cast("long") - F.lit(1)).alias("target"),
    )
    return NetworkFrame(nodes, edges, directed=True)


def save_graph(
    nf: NetworkFrame,
    path: str,
    mode: str = "error",
    edge_buckets: int | None = None,
    partition_edges_by: str | None = None,
) -> None:
    """Distributed graph sink: nodes/ and edges/ parquet plus a
    _graph.json manifest (directed flag, schema fingerprint).

    This is the scale-native serde — ``to_dict``/``to_json`` are
    driver-side escape hatches (reference: networkframe.py:1156-1191).
    ``edge_buckets`` pre-shuffles edges by ``source`` into that many
    files, so a reload followed by source-keyed joins reads
    hash-clustered files (full co-location needs ``bucketBy`` +
    ``saveAsTable`` in a warehouse deployment — same layout, managed
    metadata).  ``partition_edges_by`` hive-partitions the edge table
    on a column (a layer/date key) so reads with a filter on it prune
    whole directories.
    """
    edges = nf.edges
    if edge_buckets:
        edges = edges.repartition(edge_buckets, "source")
    nf.nodes.write.mode(mode).parquet(os.path.join(path, "nodes"))
    ew = edges.write.mode(mode)
    if partition_edges_by:
        ew = ew.partitionBy(partition_edges_by)
    ew.parquet(os.path.join(path, "edges"))
    manifest = {
        "directed": nf.directed,
        "node_columns": nf.nodes.columns,
        "edge_columns": nf.edges.columns,
        "edge_buckets": edge_buckets,
        "partition_edges_by": partition_edges_by,
    }
    write_manifest(nf.spark, path, "_graph", manifest, mode)


def load_graph(spark: SparkSession, path: str, validate: bool = False) -> NetworkFrame:
    """Load a graph written by :func:`save_graph`."""
    manifest = read_manifest(spark, path, "_graph")
    nodes = spark.read.parquet(os.path.join(path, "nodes"))
    edges = spark.read.parquet(os.path.join(path, "edges"))
    return NetworkFrame(
        nodes, edges, directed=manifest.get("directed", True), validate=validate
    )


def save_graph_table(
    nf: NetworkFrame,
    name: str,
    n_buckets: int = 32,
    mode: str = "errorifexists",
) -> None:
    """Managed bucketed-table sink: ``<name>_nodes`` bucketed+sorted by
    ``id``, ``<name>_edges`` bucketed+sorted by ``source``, both with
    the same bucket count.

    This is the co-location layout for a warehouse deployment: the
    node-decoration join (``nodes.id = edges.source`` — the hot join in
    ``apply_node_features``/``condense``) becomes a bucket-aligned
    sort-merge join with NO shuffle exchange on either side, verified
    by a plan-shape test.  At 100 TB that turns every per-source
    operation from a full shuffle into a local merge per bucket file.
    Uses ``saveAsTable`` (bucket metadata lives in the session catalog
    / metastore — plain ``parquet(path)`` cannot carry it).
    """
    (
        nf.nodes.write.mode(mode)
        .bucketBy(n_buckets, "id")
        .sortBy("id")
        .saveAsTable(f"{name}_nodes")
    )
    (
        nf.edges.write.mode(mode)
        .bucketBy(n_buckets, "source")
        .sortBy("source")
        .saveAsTable(f"{name}_edges")
    )


def load_graph_table(
    spark: SparkSession, name: str, directed: bool = True, validate: bool = False
) -> NetworkFrame:
    """Load a graph written by :func:`save_graph_table`; joins keyed on
    ``nodes.id`` / ``edges.source`` then use the bucket layout (no
    Exchange)."""
    return NetworkFrame(
        spark.table(f"{name}_nodes"),
        spark.table(f"{name}_edges"),
        directed=directed,
        validate=validate,
    )




def compact_parquet(
    spark: SparkSession,
    src,
    dest: str,
    target_records_per_file: int = 1_000_000,
    sort_by: list | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Small-files compaction: rewrite a parquet dataset (path or
    DataFrame) into ``ceil(n / target_records_per_file)`` evenly
    sized files and return the compacted dataset.  The background
    maintenance job every long-lived 100 TB table needs — streaming
    sinks and fine-grained partitioned writes accumulate thousands of
    KB-scale files whose per-file open/footer cost dominates scans.

    Scale design: one count (bounded scalar driver value), then a
    single shuffle — ``repartitionByRange`` on ``sort_by`` when given
    (keeps the output range-clustered so min/max footer pruning works
    on the sort key), plain round-robin ``repartition`` otherwise —
    and ``maxRecordsPerFile`` as the hard cap so no task ever writes
    an oversized file.  Nothing touches the driver but the row count.
    """
    import math

    df = spark.read.parquet(src) if isinstance(src, str) else src
    n = df.count()
    n_files = max(1, math.ceil(n / target_records_per_file))
    out = (
        df.repartitionByRange(n_files, *sort_by)
        if sort_by
        else df.repartition(n_files)
    )
    (
        out.write.option("maxRecordsPerFile", target_records_per_file)
        .mode(mode)
        .parquet(dest)
    )
    return spark.read.parquet(dest)
