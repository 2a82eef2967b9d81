"""operators/reuse — the session-scoped reuse slots behind
managed_persist and load_table: re-invoking a call site frees its
previous generation, bounding a long session, and a slot never reaches
across sessions."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark import catalog
from etl_gcp_function_tmabrasil_spark.operators import reuse
from etl_gcp_function_tmabrasil_spark.queries._util import load_table, managed_persist


def test_previous_generation_is_released(spark):
    key = "test.managed_persist.gen"
    a = managed_persist(spark.range(10).withColumn("x", F.col("id") * 2), key)
    a.count()  # materialize generation 1
    assert a.storageLevel != StorageLevel.NONE
    b = managed_persist(spark.range(10).withColumn("x", F.col("id") * 3), key)
    b.count()
    # generation 1 was unpersisted when generation 2 registered
    assert a.storageLevel == StorageLevel.NONE, "previous generation leaked"
    assert b.storageLevel != StorageLevel.NONE
    assert reuse._SLOTS[spark][key][1] is b
    reuse.release(spark, key)
    assert b.storageLevel == StorageLevel.NONE


def test_same_lineage_reinvocation_is_safe(spark):
    key = "test.managed_persist.same"

    def build():
        return managed_persist(spark.range(5).withColumn("y", F.lit(1)), key)

    first = build()
    assert first.count() == 5
    second = build()  # identical lineage: must not raise or corrupt
    assert second is not first  # never a previous invocation's frame
    assert second.count() == 5
    assert second.storageLevel != StorageLevel.NONE
    reuse.release(spark, key)


def test_one_key_in_two_sessions_keeps_both_generations(spark):
    key = "test.managed_persist.sessions"
    other = spark.newSession()
    a = managed_persist(spark.range(7).withColumn("x", F.col("id") * 5), key)
    a.count()
    b = managed_persist(other.range(7).withColumn("x", F.col("id") * 7), key)
    b.count()
    # a slot belongs to its session: the second session's call under the
    # same key must not release the first session's frame
    assert a.storageLevel != StorageLevel.NONE, "another session released it"
    assert b.storageLevel != StorageLevel.NONE
    assert reuse._SLOTS[spark][key][1] is a
    assert reuse._SLOTS[other][key][1] is b
    reuse.release(spark, key)
    reuse.release(other, key)


def test_load_table_reuses_until_the_file_is_rewritten(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = catalog.table_path(sf_dir, "region")
    pq.write_table(pa.table({"r": [1, 2]}), path)
    first = load_table(spark, sf_dir, "region")
    assert load_table(spark, sf_dir, "region") is first
    pq.write_table(pa.table({"r": [3, 4, 5]}), path)  # rewritten in place
    second = load_table(spark, sf_dir, "region")
    assert second is not first
    assert sorted(r.r for r in second.collect()) == [3, 4, 5]
    assert load_table(spark, sf_dir, "region") is second
    slots = [k for k in reuse._SLOTS[spark] if k[:2] == ("load_table", path)]
    assert slots == [("load_table", path, None)]
    reuse.release(spark, slots[0])
    reuse.release(spark, ("parquet_layout", path))
