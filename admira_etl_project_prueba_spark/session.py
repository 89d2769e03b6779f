"""SparkSession factory with scale-appropriate defaults.

The reference engine is a single Go process with no execution tuning at all
(see SURVEY.md §4).  Here the "optimizer" is Catalyst; our job is only to
hand it a well-configured session:

* AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion) — essential at 100 TB where static
  ``spark.sql.shuffle.partitions`` guesses are always wrong at one end.
* UTC session timezone so day-grain date math is deterministic and matches
  the (timezone-naive) DuckDB oracle.
* Arrow enabled for any pandas interchange (the multimodal/udf paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (non-static) confs that must hold for engine semantics even on a
# session we did not build (e.g. the verification driver's).  All of these
# are settable via spark.conf.set at runtime.
RUNTIME_CONFS: dict[str, str] = {
    # Day-grain date strings must not depend on the host timezone.
    "spark.sql.session.timeZone": "UTC",
    # A parquet TIMESTAMP(NANOS) column, which vanilla Spark refuses to
    # read, arrives as raw nanos (LongType) instead of failing the scan.
    # The testdata tables store microseconds (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. Safe at every scale; critical at large SF.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Idempotent store: INSERT OVERWRITE of a date-partitioned table must
    # replace only the partitions present in the written batch.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; engine code degrades
            # gracefully.
            pass
    return spark


def get_spark(
    app_name: str = "admira-etl-project-prueba-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) —
    on a real cluster the caller passes the cluster master / lets
    spark-submit decide by passing ``master=""``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core is the sweet spot at
        # test SFs; AQE coalesces below this at runtime. On a cluster this
        # should be ~2-3x total cores (set via extra_conf).
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.maxResultSize", "2g")
        # Static conf, effective only for the session that launches the
        # JVM: the 1g default is absurd for a local[32] driver that IS the
        # whole cluster (broadcast builds + localCheckpoint blocks live in
        # this heap — the scale-experiment suite OOM'd broadcast builds at
        # 1g).  Cluster deployments size executors separately.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # 128 MiB input splits: good parallelism without tiny-task overhead.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session: re-assert the
    # runtime confs so semantics hold either way.
    return apply_runtime_confs(spark)
