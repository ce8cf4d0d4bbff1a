"""SparkSession factory tuned for this engine.

Local-mode defaults match the driver environment (local[32], 128 GiB,
single JVM); on a real cluster the same settings are sane starting
points — AQE handles runtime re-planning (skew joins on hub nodes,
partition coalescing), and shuffle partitions should be overridden to
~2-3x total cores.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(
    app_name: str = "networkframe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Python workers must be able to import this package by name:
    # cloudpickle serializes module-level helpers referenced from
    # mapInPandas closures (e.g. round_half_up in pq_encode) BY
    # REFERENCE, so a driver launched from any cwd other than the repo
    # root used to die with ModuleNotFoundError in the worker.  Export
    # the package's parent dir on PYTHONPATH before the JVM (and its
    # python worker daemons) start; on a real cluster the package ships
    # via --py-files / a wheel and this is a no-op addition.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(
    spark: SparkSession,
    rows: Iterable[tuple],
    schema: Union[str, StructType],
    columns: Sequence | None = None,
) -> DataFrame:
    """A driver-built table of Python ``rows`` (tuples in ``schema``
    order; ``schema`` a DDL string or a ``StructType``), shipped as ONE
    Arrow table.  ``columns``, one array per field (numpy arrays
    included), replaces ``rows`` for a table built column-wise: each
    array goes to Arrow as it is, with no Python loop over its rows.

    Every Python-row table the engine builds goes through here: id
    lists, query terms, probe lists, partition offsets, manifests and
    typed empty results.  A ``pa.Table`` plans as a ``LocalRelation``
    that carries its real size, so Catalyst can broadcast it up front
    and fold projections over it.  A list of rows would instead go
    through ``parallelize`` and a JVM unpickle into a ``LogicalRDD``
    with no statistics (``sizeInBytes`` = Long.MaxValue), and AQE
    would first run its scan and every exchange above it as query
    stages of their own.  An empty ``rows`` gives an empty
    ``LocalRelation``; a table past Spark's own
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) is
    scanned as an RDD of Arrow batches.  Values must already be of the
    column's Python type (``str`` for a string column, ``float`` for a
    double column): Arrow converts, it does not coerce.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    if columns is None:
        columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an int, tolerating
    platforms where ``spark.sql.shuffle.partitions`` is the literal
    string ``"auto"`` (AQE auto-coalescing) — falls back to the
    cluster's default parallelism.  Use this anywhere an operator
    needs an explicit partition count for ``repartitionByRange`` /
    salting fan-out instead of int()-ing the conf directly."""
    raw = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism
