"""Measured data-skipping pins for sink_zorder_layout. The oracle gate
proves the bucket derivation + Morton interleave + roundtrip are
value-exact; these pins prove the LAYOUT property the operator exists
for — each z-range file covers a small rectangle of (user, day) space,
so a narrow single-dimension predicate intersects few files' min/max
ranges, while the same rows sorted by time alone are useless for a
user predicate (every file spans the full user range).

The z layout writes one directory per curve prefix, so every file's
(user, day) rectangle is EXACT — for a predicate window at most 2
buckets wide the worst case is two user-quadrants × all day-quadrants
= half the files, and the typical case (window inside one quadrant) is
a quarter. The asserts use the deterministic worst case; the predicate
window is derived from the data so the property holds at every sf
(sf0.001 has ~15 users where sf0.01 has 150).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir
from etl_gcp_function_tmabrasil_spark.queries.sources_gate import (
    _Z_FILES,
    sink_zorder_layout,
)

def _window(spark, path: str) -> tuple[int, int]:
    """A ~10%-of-distinct-user-buckets predicate window derived from
    the data, so the test holds at any scale factor (sf0.001 has ~15
    users where sf0.01 has 150 — a fixed bucket range matches nothing
    at the smaller scale)."""
    xs = sorted(
        r.xb for r in spark.read.parquet(path).select("xb").distinct().collect()
    )
    lo_i = (4 * len(xs)) // 10
    hi_i = min(lo_i + max(1, len(xs) // 10) - 1, len(xs) - 1)
    return xs[lo_i], xs[hi_i]


def _touched(spark, path: str, lo: int, hi: int) -> tuple[int, int]:
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("xb").alias("lo"), F.max("xb").alias("hi"))
        .collect()
    )
    touched = sum(1 for r in stats if r.lo <= hi and r.hi >= lo)
    return touched, len(stats)


def test_zorder_files_skip_on_the_second_dimension(spark, sf_dir):
    sink_zorder_layout(spark, sf_dir).collect()  # ensure fixture
    root = fixture_dir(sf_dir, "zorder")
    lo, hi = _window(spark, os.path.join(root, "zorder"))

    z_touched, z_files = _touched(spark, os.path.join(root, "zorder"), lo, hi)
    t_touched, t_files = _touched(spark, os.path.join(root, "tsorted"), lo, hi)

    assert z_files == _Z_FILES and t_files == _Z_FILES
    # time-sorted baseline: user buckets are uniform within every file,
    # so (nearly) all files intersect the window
    assert t_touched >= int(0.75 * t_files), (t_touched, t_files)
    # z layout: only files whose rectangle covers the window
    assert z_touched <= t_files // 2, (z_touched, t_touched)
    assert z_touched < t_touched


def test_zorder_predicate_results_are_unchanged(spark, sf_dir):
    """Skipping must be a layout property, not a semantic one: the
    filtered row set over the z layout equals the baseline's."""
    sink_zorder_layout(spark, sf_dir).collect()
    root = fixture_dir(sf_dir, "zorder")
    lo, hi = _window(spark, os.path.join(root, "zorder"))
    pred = (F.col("xb") >= lo) & (F.col("xb") <= hi)
    z = {
        r.event_id
        for r in spark.read.parquet(os.path.join(root, "zorder"))
        .filter(pred)
        .select("event_id")
        .collect()
    }
    t = {
        r.event_id
        for r in spark.read.parquet(os.path.join(root, "tsorted"))
        .filter(pred)
        .select("event_id")
        .collect()
    }
    assert z == t and z
