"""Sources: the file-event stream, the XLSX reader, the one way a frame
is built from rows the driver holds, and the Python worker's zip
import-cache guard that the XLSX parse task installs."""

from __future__ import annotations

import functools
import os
import sys
import zipimport

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


def reload_zips_only_when_changed() -> None:
    """Make ``importlib.invalidate_caches()`` in this process re-read a
    zip archive's directory only when the archive changed since that
    importer last read it. Idempotent; a no-op on Python 3.13+.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and before 3.13 each ``zipimporter`` then
    re-reads its whole archive directory in pure Python: 0.10–0.18 s
    per task for the 16 importers of a warm worker (``pyspark.zip``,
    the ``spark-core`` jar, py4j; see SCALING.md). The replacement
    stats the archive first and calls the original only when
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken
    before that importer's last read, so a rewritten archive is still
    re-read. A ``sys.path`` entry added later (``addPyFile``) gets a
    new importer, whose first call reads. Installing re-reads every
    live importer's archive once, so each has a stat to compare."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(zi.invalidate_caches, "__wrapped__"):
        return
    reload = zi.invalidate_caches

    @functools.wraps(reload)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_stat", None):
            reload(self)
            self._read_stat = key

    zi.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            finder.invalidate_caches()
