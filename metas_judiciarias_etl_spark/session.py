"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness-at-scale first:

* AQE on (runtime re-planning: skew-join splitting, partition coalescing,
  broadcast demotion/promotion) — the reference corpus has a 525x file-size
  spread (SURVEY.md §4.2), and at 100 TB any static plan is wrong somewhere.
* ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable across
  environments (and match the DuckDB oracle, which is TZ-naive).
* Arrow enabled for the few Pandas-UDF paths (multimodal stubs) and fast
  ``toPandas`` at the driver edge.
* Shuffle partitions default to the local core count; on a real cluster this
  is expected to be overridden (AQE coalescing makes over-provisioning cheap:
  set it to ~2-3x total cores and let AQE shrink).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "metas-judiciarias-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's defaults.

    On a cluster, ``master`` is normally left to spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``, or to the number of cores this
    process may run on when the variable is unset. The same count is the
    default shuffle partition count.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Files: pack many small files per task (the reference corpus is 90
        # files, median 2.2 MB) but cap split size so one 118 MB file still
        # splits across tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
