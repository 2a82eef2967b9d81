"""Sources: the file-event stream, the XLSX reader, and the one way a
frame is built from rows the driver holds."""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def rows_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A frame of driver-held `rows` (tuples in `ddl`'s column order),
    shipped to the JVM as one Arrow table.

    It plans as a LocalTableScan, which no Python worker evaluates. A
    ``createDataFrame`` of the plain list is a Python RDD instead, and
    every task that scans it starts a Python worker of its own (about
    0.2 s of CPU each on a 4-core host, see SCALING.md). The scan is
    sliced like ``sc.parallelize``: ``min(len(rows),
    defaultParallelism)`` contiguous slices."""
    schema = StructType.fromDDL(ddl)
    table = pa.table(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    )
    return spark.createDataFrame(table, schema)
