"""Guardrails for the catalog's scan-rebalance guard (catalog.load_table).

The driver's parquet files are written as ONE row group per file, so a
plain scan decodes on one task no matter how many cores the cluster has.
The guard repairs that only when it is catastrophic (multi-GB inputs);
at bench scale the extra exchange costs more than it buys, so it must
stay off by default there.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark import catalog
from etl_gcp_function_tmabrasil_spark.operators import reuse
from etl_gcp_function_tmabrasil_spark.plans.inspect import explain_str


def _has_roundrobin(df) -> bool:
    return "RoundRobinPartitioning" in explain_str(df, "simple")


def test_no_rebalance_at_test_scale(spark, sf_dir):
    df = catalog.load_table(spark, sf_dir, "lineitem")
    assert not _has_roundrobin(df), (
        "rebalance fired on a small table — the exchange costs more than "
        "the parallelism it buys at this size"
    )


def test_explicit_rebalance_inserts_roundrobin(spark, sf_dir):
    df = catalog.load_table(spark, sf_dir, "lineitem", rebalance=True)
    assert _has_roundrobin(df)
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == par


def test_auto_rebalance_fires_on_big_single_rowgroup_input(spark, sf_dir, tmp_path):
    # A huge table written as one row group: seed the footer cache with
    # the pathological layout (5M rows, 1 split unit) over a real file so
    # the decision path runs without generating 5M rows.
    fake_dir = str(tmp_path)
    shutil.copyfile(
        catalog.table_path(sf_dir, "lineitem"),
        os.path.join(fake_dir, "lineitem.parquet"),
    )
    path = catalog.table_path(fake_dir, "lineitem")
    slot = ("parquet_layout", path)
    reuse.reuse(spark, slot, catalog._file_stamp(path), lambda: (5_000_000, 1))
    try:
        df = catalog.load_table(spark, fake_dir, "lineitem")
        assert _has_roundrobin(df), "guard did not fire on 5M rows / 1 row group"
    finally:
        reuse.release(spark, slot)


def test_filter_pushes_through_rebalance(spark, sf_dir):
    # The whole design hinges on predicates reaching the scan through the
    # repartition node — otherwise the rebalance would shuffle pre-filter
    # rows and break PushedFilters.
    df = catalog.load_table(spark, sf_dir, "lineitem", rebalance=True).filter(
        F.col("l_quantity") < 10
    )
    plan = explain_str(df)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200], (
        "filter did not push below the round-robin repartition to the scan"
    )
