"""SparkSession factory with scale-aware defaults.

Local test sessions use ``local[N]``; the same builder config is what a
``spark-submit --py-files`` cluster deployment would use (AQE on, Arrow
on, skew-join handling on).  Nothing here is local-mode specific except
the master URL.  ``driver_table`` builds the small tables the library
assembles on the driver (audit headers, rejection markers, lineage
rows, profiles) over Arrow instead of through Python workers.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "data-reconciliation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so shuffle partition counts self-tune at scale and
    skewed sort-merge joins are split at runtime; explicit salting of
    blocking keys (operators/blocking.py) covers the skew AQE cannot see
    (hot *logical* keys before the shuffle exists).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (the only Python in the hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep broadcast autodetection on; AQE may upgrade SMJ->BHJ.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def driver_table(
    spark: SparkSession, rows: Iterable[tuple], schema: str | T.StructType
) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    loaded on the JVM from one Arrow table.

    ``createDataFrame(list, schema)`` pickles the rows, parallelizes them
    and converts them in a Python-worker ``map``: a worker round trip
    even for a single row.  A ``pyarrow.Table`` instead goes straight to
    the JVM (``_create_from_arrow_table``), whatever the session's Arrow
    setting.  Timestamps are converted exactly as the list path converts
    them (a naive ``datetime`` is process-local time), so the stored
    instant is the same on either path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, atype, values in zip(schema.fields, arrow_schema.types, columns):
        if isinstance(field.dataType, T.TimestampType):
            micros = [field.dataType.toInternal(v) for v in values]
            arrays.append(pa.array(micros, pa.int64()).cast(atype))
        else:
            arrays.append(pa.array(values, atype))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
