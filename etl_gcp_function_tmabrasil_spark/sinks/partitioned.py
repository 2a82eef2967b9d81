"""Date-partitioned parquet sink for the `events` stream (SURVEY.md
§7.3 "partition-by-date on events"; reference's folder-prefix routing,
`/root/reference/main.py:12`, generalized to hive-style partitions).

At 100 TB the events table is append-only and time-ordered; laying it
out as `event_date=YYYY-MM-DD/` directories makes every time-bounded
query prune at the *directory* level — the scan never opens files
outside the predicate's date range (static partition pruning; dynamic
partition pruning covers the join-driven case). `tests/
test_partitioned_sink.py` pins the pruning behavior via the plan's
PartitionFilters.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_events_partitioned(
    events: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Write events parquet partitioned by event_date (derived from ts).

    maxRecordsPerFile bounds file sizes so a hot date still splits into
    parallel-scannable files at cluster scale.
    """
    (
        events.withColumn("event_date", F.to_date("ts"))
        .repartition("event_date")
        .write.mode(mode)
        .option("maxRecordsPerFile", 5_000_000)
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned layout back; filters on event_date prune
    directories before any file is opened."""
    return spark.read.parquet(path)


#: A swapped-out directory waits under this prefix between the two
#: renames of a swap. The leading dot hides it (and the staging dir)
#: from Spark's file listing and partition discovery, so a crash can
#: never surface either as data or as a bogus partition value.
_DISPLACED = ".swap_old__"


def displaced(name: str) -> str:
    """The hidden name directory `name` waits under mid-swap."""
    return _DISPLACED + name


def heal_and_swap(target: str, build: Callable[[str], None]) -> None:
    """The one crash-healing directory swap: heal `target`, let
    ``build(staging)`` write the replacement dirs into a hidden staging
    dir inside it, then swap each visible staged dir into place.

    Heal: a displaced dir whose visible twin is missing is the residue
    of a crash between the two renames below — its data is intact, so
    it is renamed back; one whose twin exists is the residue of a crash
    after the swap, and is deleted. `build` runs after the heal, so it
    reads the healed target. Swap, per staged dir: rename the current
    dir to its displaced name, rename the staged dir into place, delete
    the displaced one. Untouched dirs never move.

    Crash-safety is rename-granular, not transactional: a crash between
    the two renames leaves that one dir absent from listings until the
    next call heals it, and even crash-free a concurrent reader can
    list `target` mid-swap and miss the dir for one scan. Renames are
    local-filesystem renames (this repo's local warehouse substitute);
    on HDFS the same protocol runs on FileSystem.rename, and on object
    stores the swap belongs to a table format's commit."""
    if os.path.isdir(target):
        for entry in os.listdir(target):
            if entry.startswith(_DISPLACED):
                hidden = os.path.join(target, entry)
                visible = os.path.join(target, entry[len(_DISPLACED) :])
                if os.path.isdir(visible):
                    shutil.rmtree(hidden)
                else:
                    os.rename(hidden, visible)
    staging = os.path.join(target, ".stage")
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    build(staging)
    if not os.path.isdir(staging):
        return
    for entry in os.listdir(staging):
        src = os.path.join(staging, entry)
        if entry.startswith(("_", ".")) or not os.path.isdir(src):
            continue  # _SUCCESS and other Spark bookkeeping
        dst = os.path.join(target, entry)
        old = os.path.join(target, displaced(entry))
        if os.path.isdir(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        if os.path.isdir(old):
            shutil.rmtree(old)
    shutil.rmtree(staging)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "event_date",
    target_records_per_file: int = 5_000_000,
) -> None:
    """Rewrite a partitioned parquet layout into few large files per
    partition — the small-files remedy every long-running 100 TB ingest
    needs: streaming appends and per-batch writes accrete thousands of
    KB-sized files per date, and scan cost becomes file-open bound
    (footer reads, listing, task scheduling) instead of byte bound.

    Shape: ONE shuffle keyed on the partition column (repartition by
    `partition_col` co-locates each partition's rows onto one task, so
    each rewritten partition emits ceil(rows/target) files) into the
    staging dir of :func:`heal_and_swap` — Spark rightly refuses to
    overwrite a path it is simultaneously reading — then its
    per-partition swap: readers of untouched partitions are unaffected,
    and a crashed run's hidden displaced partition is restored by the
    next run's heal before the rewrite reads the layout, so it is never
    dropped from the rewrite."""

    def rewrite(staging: str) -> None:
        (
            spark.read.parquet(path)
            .repartition(F.col(partition_col))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", target_records_per_file)
            .partitionBy(partition_col)
            .parquet(staging)
        )

    heal_and_swap(path, rewrite)
