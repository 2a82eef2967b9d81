"""Partition-pruning guardrail for the date-partitioned events sink:
a date predicate must show up as a PartitionFilter (directory-level
skip), not just a row-level filter."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table
from etl_gcp_function_tmabrasil_spark.plans.inspect import explain_str
from etl_gcp_function_tmabrasil_spark.sinks.partitioned import (
    read_events_partitioned,
    write_events_partitioned,
)


def test_partitioned_write_prunes_and_roundtrips(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_date")
    write_events_partitioned(ev, path)

    back = read_events_partitioned(spark, path)
    assert back.count() == ev.count()

    day = ev.select(F.to_date("ts").alias("d")).orderBy("d").first().d
    q = back.filter(F.col("event_date") == F.lit(day))

    plan = explain_str(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), (
        "date predicate did not become a partition filter:\n" + plan
    )

    expected = ev.filter(F.to_date("ts") == F.lit(day)).count()
    assert q.count() == expected


def test_compaction_reduces_files_and_preserves_values(spark, sf_dir, tmp_path):
    """compact_partitions: a deliberately fragmented layout (8 writers
    x 50-record cap) collapses to one file per partition via the
    staging-write + per-partition-swap protocol, values untouched."""
    import glob
    import os

    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import compact_partitions

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_fragmented")
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .repartition(8)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 50)
        .partitionBy("event_date")
        .parquet(path)
    )

    def nfiles() -> int:
        return len(glob.glob(os.path.join(path, "event_date=*", "*.parquet")))

    before_files = nfiles()
    before = sorted(map(tuple, read_events_partitioned(spark, path).collect()))
    compact_partitions(spark, path)
    after_files = nfiles()
    assert after_files < before_files, (before_files, after_files)
    ndates = len(glob.glob(os.path.join(path, "event_date=*")))
    assert after_files == ndates, "expected exactly one file per partition"
    hidden = [
        e for e in os.listdir(path)
        if e.startswith(".") and os.path.isdir(os.path.join(path, e))
    ]
    assert not hidden, f"staging or displaced dir left behind: {hidden}"
    after = sorted(map(tuple, read_events_partitioned(spark, path).collect()))
    assert after == before, "compaction changed values"


def test_compaction_crash_residue_is_invisible_to_readers(spark, sf_dir, tmp_path):
    """ADVICE r5 regression pin: a crash between compact_partitions'
    two renames must never corrupt READS. The displaced original is
    renamed to a dot-prefixed dir, which Spark's file listing and
    partition discovery skip entirely — so the worst crash residue is
    one missing partition (recoverable by hand from the hidden dir),
    never a bogus `…__old` partition VALUE that flips event_date
    inference to string and silently passes lexicographic filters."""
    import os
    import shutil

    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import displaced

    path = str(tmp_path / "events_part")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_events_partitioned(ev, path)
    parts = sorted(
        d for d in os.listdir(path) if d.startswith("event_date=")
    )
    assert len(parts) >= 3
    victim = parts[0]
    victim_date = victim.split("=", 1)[1]
    # simulate the crash point: old renamed aside, new not yet in place
    hidden = os.path.join(path, displaced(victim))
    os.rename(os.path.join(path, victim), hidden)

    back = read_events_partitioned(spark, path)
    # partition column type must NOT degrade to string (the failure
    # mode of a visible non-date dir name under the path)
    assert dict(back.dtypes)["event_date"] == "date"
    dates = {str(r[0]) for r in back.select("event_date").distinct().collect()}
    assert victim_date not in dates          # absent, not corrupted
    assert all(not d.startswith(".") for d in dates)
    # the hidden dir still holds the data — manual recovery restores it
    os.rename(hidden, os.path.join(path, victim))
    restored = {
        str(r[0])
        for r in read_events_partitioned(spark, path)
        .select("event_date")
        .distinct()
        .collect()
    }
    assert victim_date in restored
    shutil.rmtree(path)


def test_compaction_self_heals_crash_residue(spark, sf_dir, tmp_path):
    """r7: the next compact_partitions run must RESTORE a crashed
    predecessor's hidden displaced partition (the heal_and_swap step the
    streaming CDC merges share) — recovery is no longer manual, and the
    healed partition's rows survive the rewrite."""
    import os

    from etl_gcp_function_tmabrasil_spark.sinks.partitioned import (
        compact_partitions,
        displaced,
    )

    path = str(tmp_path / "events_part")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_events_partitioned(ev, path)
    total = spark.read.parquet(path).count()
    parts = sorted(d for d in os.listdir(path) if d.startswith("event_date="))
    victim = parts[0]
    victim_date = victim.split("=", 1)[1]
    # simulate the crash point: old renamed aside, new not yet in place
    os.rename(os.path.join(path, victim), os.path.join(path, displaced(victim)))
    compact_partitions(spark, path)
    back = spark.read.parquet(path)
    assert back.count() == total, "healed partition's rows were lost"
    dates = {str(r[0]) for r in back.select("event_date").distinct().collect()}
    assert victim_date in dates
    assert not any(
        e.startswith(".") and os.path.isdir(os.path.join(path, e))
        for e in os.listdir(path)
    ), "hidden residue left behind after a successful compaction"
