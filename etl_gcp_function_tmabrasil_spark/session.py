"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
configs hold, with ``spark.sql.shuffle.partitions`` sized to ~2-3x total
cores and AQE coalescing handling the rest at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_gcp_function_tmabrasil_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
      and dynamic broadcast-join demotion — the knobs that keep the same
      plan healthy from sf0.001 local runs to 100 TB cluster runs.
    - Session timezone pinned to UTC so timestamp semantics match
      timezone-naive engines (DuckDB oracle) and are cluster-invariant.
    - Arrow enabled for every pandas exchange (pandas UDFs, toPandas).
    - Parallel file listing capped at one task per core.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan CONSUMERS of cached frames too: by default a
        # plan reading an InMemoryRelation is compiled without adaptive
        # partition coalescing, so every shuffle fed by a cache runs at
        # the static spark.sql.shuffle.partitions even when the cached
        # frame is tiny (an iterative loop over a persisted graph pays
        # full-width task scheduling per iteration). Measured at sf0.1:
        # PageRank 2.55→1.97 s, robust outliers 2.84→1.68 s. The trade
        # (a cache's output partitioning may no longer be reusable
        # as-is by consumers) is AQE's to re-judge per action — the
        # right default at any scale.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        # ONE timestamp semantics engine-wide: TIMESTAMP_LTZ with the
        # session zone pinned UTC. The driver's parquet declares tz-less
        # micros; without this conf Spark 4 infers TIMESTAMP_NTZ, which
        # (a) splits the engine into two timestamp types at the text/ORC
        # boundary (CSV/JSON writers ignore `timestampFormat` for NTZ) and
        # (b) would need a value-identical but pushdown-blocking cast to
        # match the declared LTZ schemas. Reading tz-less parquet directly
        # as LTZ keeps filters on ts columns pushed to the scan; with the
        # zone pinned UTC the values are bit-identical to the NTZ reading
        # and to the timezone-naive DuckDB oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Broadcast threshold is an ABSOLUTE size knob, and that is the
        # scale story: any side under 64 MB (compressed) is cheap to ship
        # to every executor, so at sf0.1 even "fact" tables (lineitem,
        # 10.8 MB) broadcast — correct locally — while at cluster scale
        # the same tables are GBs-TBs, never qualify, and the identical
        # query text plans as a shuffled join on the same code path.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Generated-code cache: the default 100 classes are fewer than
        # one pass over a handful of queries needs (counted on 4 cores:
        # q5 25-28 compiles per run, the simjoin 34-43), so a session
        # cycling through queries recompiled every query's code on
        # every run. With room for 1,000 classes, each of perfbench
        # `queries_sf01`'s 11 queries had a lower median over 10
        # alternating pairs on 4 cores. Static conf — set at build time.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # local[N] is a single JVM: driver heap == the whole engine's
        # heap. 8g on a 32-core/128 GiB box left ~250 MB/task and, in
        # 90-query bench sessions, drove ~10 s full-GC pauses that the
        # eager-construction guard mistook for eager work (two r14
        # close-out runs each lost one LAZY query to persistent
        # construction stalls — knn_radius_cells then
        # funnel_time_to_convert — neither reproducible standalone).
        # 24g removes the stall class while staying far under the box;
        # on a real cluster driver/executor memory are sized per-role.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Warehouse for bucketed/managed tables (operators/bucketing.py).
        # Static conf — must be set at build time; defaults under /tmp so
        # local runs never litter the repo with spark-warehouse/.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # A read of more than 32 explicit paths (a streaming file source
    # re-resolving its batch's landing files, a multi-path load) lists
    # them in a Spark job of min(paths, this conf) tasks; the default
    # 10000 gives one ~17 ms task per file (a 255-file batch: 255 tasks,
    # 1.1-1.4 s). One task per core lists the same paths with the same
    # result. defaultParallelism is the total executor cores on a
    # cluster too, where listing tasks beyond it would only queue, so
    # the cap loses no concurrency at any scale. Runtime SQL conf: a
    # stream's cloned session copies it at start().
    listing_parallelism = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    if listing_parallelism not in (extra_conf or {}):
        spark.conf.set(
            listing_parallelism, str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("WARN")
    # Reading a path that does not exist yet (the first probe of an
    # output table) makes FileStreamSink log a WARN with an ~80-line
    # Java stack trace before the read fails or falls back; the failure
    # itself still surfaces as the read's exception.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
