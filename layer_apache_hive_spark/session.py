"""SparkSession factory.

The reference's entire deployment lifecycle (Juju charm wiring
HiveServer2 + metastore + MySQL; SURVEY.md §3.1) collapses in Spark to
session construction: catalog + SQL engine live in-process.

Scale posture (SURVEY.md §7 step 7): AQE on (runtime re-plan, skew-join
split, post-shuffle coalesce), broadcast threshold for dimension
tables, ANSI off to match Hive's null-on-error cast semantics.
On a real cluster the same builder is used with ``master()`` /
``spark.sql.shuffle.partitions`` sized to the data (rule of thumb:
~128 MB per shuffle partition → 100 TB scan ⇒ O(100k) partitions,
set via config not code).

Python workers: the session starts each executor's Python daemon from
the engine's own entry module, ``__spark_worker__`` at the checkout
root (put on the workers' ``PYTHONPATH`` here, so it is importable
whatever the working directory). PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and
before CPython 3.12 (gh-103200) that makes every cached ``zipimporter``
re-read its archive's directory: with ``pyspark.zip``, the py4j zip and
the spark-core jar first on the workers' path, about 0.2 s of CPU per
task. The entry module drops those archives from ``sys.path`` when an
unzipped pyspark and py4j of the same versions are importable (a
pip-installed pyspark), and keeps the two zips otherwise (a host with
only the Spark distribution), dropping only the jar; then it runs
``pyspark.daemon``. Sessions built outside :func:`get_spark` (e.g.
``metastore.py``, ``scripts/verify_driver_session.py``) keep Spark's
default worker daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the checkout root, which holds the worker daemon module
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "layer-apache-hive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Defaults target the test harness (local[$SPARK_GRAFT_CPUS]); on a
    cluster pass ``master=None`` and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism / Hive-parity semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")  # Hive: null-on-error casts
        # Adaptive execution: runtime re-plan at shuffle boundaries,
        # skew-join splitting, post-shuffle partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/supplier) are broadcast-able.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: vectorized reader + pushdown are default-on; keep
        # sane split sizing for the local harness.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.ts is INT64 TIMESTAMP(NANOS) parquet, which Spark's
        # µs TimestampType rejects outright; read as long and let
        # catalog.read_table normalize to µs (FIXTURES.md ns note).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver hosts executors + caches + broadcasts for
        # the whole 90-query bench; small heaps GC-thrash late in the
        # run (observed 3x slowdowns). On a cluster this is per-node
        # executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # managed-table location (saveAsTable without explicit path);
        # kept under the gitignored scratch dir
        .config("spark.sql.warehouse.dir", "/root/repo/.tmp/warehouse")
        # Python workers start without re-reading pyspark.zip per task
        # (module docstring)
        .config("spark.python.daemon.module", "__spark_worker__")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    return builder.getOrCreate()
