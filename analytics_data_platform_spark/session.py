"""SparkSession construction tuned for this engine.

The reference platform forces a UTC session timezone at the query engine
(reference: infra/local/trino/etc/config.properties, sql.forced-session-time-zone=UTC);
we do the same engine-wide (SURVEY.md §2.8 F10/F16).

Scale notes (100 TB design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast demotion are essential once real data skew appears.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  1000-executor cluster raise it to ~2-4x total cores and let AQE coalesce.
- Arrow enabled for any pandas_udf/applyInPandas path so Python stages are
  batch-vectorized, not row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reads of parquet files containing TIMESTAMP(NANOS) columns (the driver's
# `events` table) need this; Spark then surfaces them as LongType nanos which
# sources.testdata converts to a microsecond TIMESTAMP.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Scan-split sizing: openCostInBytes models the cost of opening one file as
# scan-byte-equivalents. The 4 MB default is tuned for remote/object storage;
# on local NVMe (or page-cached test data) a file open costs well under 1 MB
# of scan time, and the 4 MB floor collapses small tables to 1-3 splits — an
# expression-heavy scan then runs on 1-3 of N cores. With a small open cost,
# Spark's own bytesPerCore = totalBytes / defaultParallelism drives the split
# size, so scan parallelism adapts to BOTH input size and core count (the
# scale-adaptive behavior the 100 TB story needs: production-size files hit
# the maxPartitionBytes ceiling and this knob is inert; deployments on object
# stores raise it back via SPARK_GRAFT_OPEN_COST).
OPEN_COST = "spark.sql.files.openCostInBytes"
_OPEN_COST_DEFAULT = str(128 * 1024)

# Snapshot tables take string min/max from parquet-mr footers
# (tables/snapshots.py::footer_datafiles), which the manifest records as
# EXACT bounds. parquet-mr truncates footer string bounds to this many
# bytes; its default (Integer.MAX_VALUE) truncates nothing, and pinning it
# keeps a future default from truncating silently. Set as a Hadoop conf
# (every write of a session built here) and as a runtime SQL conf (which
# Spark copies into each write's Hadoop conf, for sessions built elsewhere).
STATS_TRUNCATE = "parquet.statistics.truncate.length"
_NO_TRUNCATE = str(2**31 - 1)


def get_spark(
    app_name: str = "analytics-data-platform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    persistent_catalog: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine-wide defaults.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``).
    On a real cluster pass ``master=None`` with an external master URL in the
    environment and these confs still apply.

    ``persistent_catalog=True`` backs the catalog with a durable local
    metastore under ``$SPARK_GRAFT_WAREHOUSE`` (default ``~/.adps_warehouse``)
    so tables and their watermark properties survive across processes — the
    CLI uses this; on a cluster the Iceberg REST catalog plays this role.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(OPEN_COST, os.environ.get("SPARK_GRAFT_OPEN_COST", _OPEN_COST_DEFAULT))
        .config(NANOS_AS_LONG, "true")
        .config("spark.hadoop." + STATS_TRUNCATE, _NO_TRUNCATE)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if persistent_catalog:
        root = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", os.path.join(os.path.expanduser("~"), ".adps_warehouse")
        )
        os.makedirs(root, exist_ok=True)
        b = (
            b.config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.system.home={os.path.join(root, 'derby')}",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_session_defaults(spark)
    return spark


def ensure_session_defaults(spark: SparkSession) -> None:
    """Apply runtime-settable defaults to an externally-created session.

    The verification driver owns its own SparkSession; every public query
    entry point calls this so behavior does not depend on who built the
    session. Only runtime-mutable SQL confs belong here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_AS_LONG, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.conf.set(OPEN_COST, os.environ.get("SPARK_GRAFT_OPEN_COST", _OPEN_COST_DEFAULT))
    spark.conf.set(STATS_TRUNCATE, _NO_TRUNCATE)
