"""SparkSession factory tuned for this engine.

Defaults target the driver's harness (local[$SPARK_GRAFT_CPUS]) but every
knob is the one you would set on a real cluster: AQE on (runtime re-plan,
skew-join handling, partition coalescing), Arrow on (fast JVM<->Python for
the grouped-map fit UDF), and a shuffle-partition count sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "woe-monotonic-binning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build the engine's session, or return the one already running.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf: ``getOrCreate``
    ignores it on an existing session, so if you bring your own session,
    set it there (e.g. ``--conf spark.sql.codegen.cache.maxEntries=2000``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # A warm perfbench iteration needs more whole-stage classes
        # (corpus_curation 138, credit 106) than the default 100-entry cache
        # keeps, so each one recompiled 128 / 55 of them; at 2000, none.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master.startswith("local"):
        # The harness reads single small parquet files; at the default 128 MiB
        # split size a ~20 MiB table scans as ONE task and the whole map side
        # (scan -> unpivot -> partial agg) runs on one core.  Shrink the split
        # so local scans parallelise.  Cluster deployments (non-local master)
        # keep Spark's defaults — with many multi-hundred-MiB files the
        # default split is right and this override would over-schedule.
        builder = builder.config("spark.sql.files.maxPartitionBytes", "16m").config(
            "spark.sql.files.openCostInBytes", "2m"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
