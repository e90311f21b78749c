"""SparkSession factory with scale-appropriate defaults.

The collector tunes throughput with batch sizes and queue consumers
(processor/batchprocessor, exporterhelper/queued_retry.go ~approx); the Spark
analog is AQE + Arrow batching + shuffle-partition sizing, set once here so
every entry point (tests, bench, driver contract) gets identical physics.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# One shuffle partition per core by default; at cluster scale this is
# overridden (rule of thumb: 2-3x total cores, or let AQE coalesce from a
# high initial number).  local[32] box => 32.
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "otel-collector-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the pipeline.

    ``cores=None`` → ``local[*]``.  All knobs chosen for 100 TB-scale
    behavior expressed at local scale:

    - AQE on (runtime coalesce + skew-join splitting — the explicit skew
      story for the zipf-skewed ``source`` key, SURVEY.md §4).
    - Arrow on (every UDF in this repo is a vectorized pandas UDF; per-row
      Python is banned by the input contract).
    - broadcast threshold left at default 10 MB; dimension tables here are
      tiny and explicitly wrapped in ``F.broadcast`` anyway.
    """
    master = f"local[{cores}]" if cores else os.environ.get("SPARK_MASTER", "local[*]")
    nparts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # catalog tables (bucketed co-located joins) live outside the repo;
        # pid-scoped by default so concurrent sessions can't clobber each
        # other's saveAsTable data (set SPARK_GRAFT_WAREHOUSE to share)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark_graft_warehouse_{os.getpid()}"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-built table as a local relation (``LocalTableScan``).

    ``createDataFrame(list)`` plans as ``Scan ExistingRDD``, a Python RDD:
    every action that reads it starts Python-worker tasks.  An Arrow table
    is shipped to the JVM once at creation and planned as a
    ``LocalRelation``, so reading it (a broadcast, a collect, a write) runs
    no Python.  ``schema`` is a DDL string or a ``StructType``; its types
    and nullability are kept exactly.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
