import pytest
from pyspark.sql import SparkSession

from networkframe_spark import NetworkFrame


@pytest.fixture(scope="session")
def spark():
    # Four task threads, not eight: the fixture graphs are a few rows,
    # so every job is scheduling overhead, and eight threads on a
    # 4-core host measured ~40% slower on a mix of graph and index
    # calls.  Shuffle partitions stay at 8 so every shuffle still
    # spreads rows over more partitions than there are threads.
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("networkframe_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def scan_partition_counts(df) -> list[dict]:
    """Execute ``df`` and return each file-scan's SQL metrics (one
    dict per FileSourceScan node, with ``numPartitions`` /
    ``numFiles`` when partition pruning applied) — the real
    partitions-READ count, so plan tests can assert
    ``scanned < total`` instead of grepping for a 'PartitionFilters'
    substring that an empty filter list would also satisfy."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node, acc):
        if "FileSourceScan" in node.getClass().getSimpleName():
            m, it, vals = node.metrics(), None, {}
            it = m.iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            acc.append(vals)
            return acc
        # AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec)
        # expose the materialized inner plan behind these getters
        for attr in ("executedPlan", "plan"):
            try:
                walk(getattr(node, attr)(), acc)
                return acc
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), acc)
        return acc

    return walk(plan, [])


@pytest.fixture()
def letter_frame(spark):
    """Reference unit-test fixture (FIXTURES.md §1): A→B, A→C, B→C, C→D."""
    nodes = spark.createDataFrame(
        [("A", "red", 1), ("B", "blue", 2), ("C", "blue", 3), ("D", "red", 4)],
        "id string, color string, size long",
    )
    edges = spark.createDataFrame(
        [("A", "B", 1), ("A", "C", 2), ("B", "C", 3), ("C", "D", 4)],
        "source string, target string, weight long",
    )
    return NetworkFrame(nodes, edges)


@pytest.fixture()
def readme_frame(spark):
    """Reference README fixture (FIXTURES.md §2): ids 0-4."""
    nodes = spark.createDataFrame(
        [(0, "A", "red"), (1, "B", "blue"), (2, "C", "red"), (3, "D", "blue"), (4, "E", "red")],
        "id long, name string, color string",
    )
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 2), (2, 3, 3), (2, 1, 4), (3, 0, 5)],
        "source long, target long, weight long",
    )
    return NetworkFrame(nodes, edges)
