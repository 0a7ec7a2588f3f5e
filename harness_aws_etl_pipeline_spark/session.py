"""SparkSession factory with scale-minded defaults.

The reference engine runs in a single 256 MB Lambda process
(reference: infrastructure/terraform/main.tf:317) — its only knobs are
file-size caps. Here the session is configured for Spark's distributed
execution model instead: AQE for runtime re-planning (skew joins,
partition coalescing), snappy parquet, UTC session time, Arrow for any
pandas interchange.

Local test/bench runs use ``local[N]``; on a real cluster the same
builder config applies unchanged (master comes from spark-submit).

:func:`local_frame` is how driver-held rows become a frame: one Arrow
table, planned as a ``LocalRelation``.
"""

from __future__ import annotations

import os
from datetime import timezone
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "harness-aws-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are chosen for the 100 TB design point but scale down to
    local mode:

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      and dynamic join-strategy switching — the engine never
      hand-schedules what the optimizer re-plans better with runtime
      stats.
    - ``spark.sql.shuffle.partitions`` defaults to the local core count
      (not Spark's legacy 200); on a cluster AQE coalesces upward from
      a high initial value, so set it to ~2-3× total cores there.
    - Arrow enabled: every pandas_udf / mapInPandas crossing is
      columnar-batched, never row-at-a-time pickling.
    - UTC session timezone: timestamp semantics independent of host tz.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Scan-split sizing (guide §6): Spark charges every file
    # ``openCostInBytes`` (default 4 MB) when packing splits, which
    # floors the split size at 4 MB — on small inputs that caps scan
    # parallelism at totalBytes/4MB tasks no matter how many cores are
    # idle (an 11 MB table scans with 3 tasks on 32 cores). 128 KB
    # models a local-SSD/parquet open cost honestly and lets the split
    # size follow bytes-per-core (totalBytes / defaultParallelism), so
    # the setting adapts to SPARK_GRAFT_CPUS instead of hard-coding a
    # parallelism. At production scale files are >= maxPartitionBytes
    # and the open-cost term never binds — the knob is inert there.
    open_cost = int(os.environ.get("SPARK_GRAFT_OPEN_COST", 128 * 1024))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.openCostInBytes", str(open_cost))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame over rows the driver already holds, as a ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans a ``LogicalRDD`` of pickled
    rows, so every action on it is a Spark job that starts Python
    workers. Here the rows go into the JVM as one Arrow table instead:
    collecting the frame runs no Spark job, and writing it runs one
    job with no Python worker (pinned by ``tests/test_local_frame.py``).

    ``rows`` are tuples in ``schema`` order; ``schema`` is a DDL string
    or a ``StructType``. Values are those ``createDataFrame(rows,
    schema)`` gives: a naive ``datetime`` in a timestamp column is read
    in Python's local zone (as ``time.mktime`` does there, whatever
    ``spark.sql.session.timeZone`` says), a ``Decimal`` is rounded
    half-up to its column's scale, and a NULL in a non-nullable column
    raises ``ValueError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        DecimalType,
        StructType,
        TimestampType,
        _parse_datatype_string,
    )

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            values = [
                v.astimezone(timezone.utc) if v is not None and v.tzinfo is None else v
                for v in values
            ]
        elif isinstance(field.dataType, DecimalType):
            step = Decimal(1).scaleb(-field.dataType.scale)
            values = [
                v if v is None else v.quantize(step, ROUND_HALF_UP)
                for v in values
            ]
        arrays.append(pa.array(values, type=arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
