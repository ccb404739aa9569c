"""SparkSession factory tuned for this engine.

Local mode here, but every config is chosen to also be correct on a
multi-executor cluster at 100 TB: AQE (runtime coalesce + skew-join
splitting), Arrow for pandas UDFs, UTC session timezone (so parquet
timestamps compare bit-identically against the DuckDB oracle), and
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nametag3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan split size, parameterised (guide §6.1): the bench inputs
        # are a handful of single-file tables far below the 128m default,
        # so default splits collapse every scan to one task; 16m lets a
        # multi-row-group file (e.g. a larger driver-generated SF) scan
        # in parallel, and a single-row-group file still costs one task
        # either way (empty splits are free). At warehouse scale set
        # SPARK_GRAFT_MAX_PARTITION_BYTES to 256m-1g: there the input is
        # thousands of files and LARGER splits cut task-scheduling
        # overhead and the map-side shuffle block count (§2.2).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # one model / tokenizer instance per reused Python worker
        # (reference shares model instances per checkpoint path,
        #  nametag3_server.py:437-444 — here: worker reuse + module cache)
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small driver-side table (``rows`` of tuples in ``ddl`` column
    order) as a Spark local relation.

    ``createDataFrame`` over a Python list parallelizes an RDD and
    re-pickles it through a Python ``map``: every action that scans the
    table starts Python tasks, and its size estimate is Long.MaxValue,
    so Spark never broadcasts it on its own. A ``pyarrow.Table`` plans
    as a ``LocalTableScan`` with real stats that runs no Spark job,
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says. Not
    pandas: an empty pandas frame falls back to the RDD path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    struct = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    for i, field in enumerate(struct.fields):
        if isinstance(field.dataType, TimestampType):
            # epoch micros as the Python-list path computes them (a naive
            # datetime is local time); Arrow would read its wall clock as UTC
            columns[i] = [field.dataType.toInternal(v) for v in columns[i]]
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)
