"""Tuned SparkSession factory.

One place for the physical-execution knobs the engine relies on at scale:
AQE (runtime re-plan + skew-join splitting for hot hosts), Arrow for the
pandas-UDF extraction path, and a shuffle-partition count sized to the
sandbox (local[32]); on a real cluster this is set per-job via spark-submit.
Also the one constructor for frames built on the driver (``local_frame``).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType | str
) -> DataFrame:
    """A driver-built frame that plans as a ``LocalTableScan``.

    ``createDataFrame`` over a Python list plans as a Python-RDD scan, so
    every job that reads the frame forks Python tasks to re-read it
    (measured ~0.3 s per read at local[4]). A ``pyarrow.Table`` is shipped
    to the JVM once and always takes the Arrow path, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. ``rows`` are tuples
    in ``schema`` order; an empty list gives a typed empty frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "fs-crawler-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 1x cores locally; on a cluster ~2-3x total cores, or rely on AQE
        # coalescing from a higher initial number.
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pinned (both are the defaults, but load-bearing at the saturated
        # 4N level): worker reuse keeps one long-lived Python proc per slot
        # instead of fork-per-stage churn, and the bounded Arrow batch caps
        # the per-slot pandas working set while a JVM thread + Python worker
        # share each core during extraction stages
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Scan-split sizing (guide §6): the test tables are single parquet
        # files with ~20-30 MB row groups (lineitem at sf1.0: 132 MB, 6 row
        # groups), so the 128m default puts a whole-table scan on 1-2 cores.
        # 16m aligns splits with row groups -> one task per row group. This
        # is file-layout-adaptive, not core-count-tuned: a cluster reading
        # properly sized multi-file tables should override upward via
        # SPARK_GRAFT_MAX_PARTITION_BYTES (or per-job spark-submit conf).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # Small-file packing: files-per-split ~= maxPartitionBytes/openCost,
        # so the 16m split size above would cut packing of the crawl's tiny
        # per-round delta files from 32/task to 4/task with the 4m default
        # open cost. 512k keeps tiny-file scans dense (local disk opens are
        # cheap) while big row groups still split 16m-wide.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
