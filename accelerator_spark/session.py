"""SparkSession factory for the accelerator_spark engine.

Replaces the reference's server/workdir bootstrap
(/root/reference/accelerator/server.py, accelerator/workspace.py): where the
reference fixes a slice count per workdir and forks one process per slice
(accelerator/launch.py:150-235), we let Spark own parallelism and only pin
the configs that matter for deterministic, scale-ready plans.

Scale posture (100 TB target, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  broadcast decisions survive a 1000-executor scale-up unchanged.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing anyway.
- Arrow enabled for the (rare) pandas-UDF paths.
- Session timezone pinned UTC so timestamp semantics are stable across
  drivers and match the DuckDB oracle.
- Generated-code cache sized to the registry, so a query run again finds
  its compiled classes instead of recompiling them (SCALE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the runtime-settable SQL confs: set on the sessions get_spark creates
# and on a session handed in from outside (tune_for_session)
_RUNTIME_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


def get_spark(app_name: str = "accelerator_spark") -> SparkSession:
    """Create (or get) the session with the engine's standard configs.

    If a session already exists (e.g. the driver passed one in), its
    configs win; we only apply runtime-settable SQL confs on top.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode: driver memory is the ONLY heap knob (executors live
        # in the driver JVM); the 1g default OOMs at ~5M-row shuffles
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Spark's LRU of compiled whole-stage and projection classes
        # holds 100 by default. One sweep of the registry compiles ~2,700
        # distinct classes and the perfbench relational steps ~230, so at
        # 100 a repeated query recompiles all of its classes through
        # Janino. 4096 is the next power of two above the sweep. A static
        # conf, read once per JVM at its first compile.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # on (the default), every Column call walks the Python stack for
        # its call site and makes ~4 extra Py4J round trips. What errors
        # lose: the "== DataFrame ==" context of an analysis or ANSI
        # runtime error names a JVM frame instead of the Python file:line
        # that built the failing column expression
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS:
        builder = builder.config(k, v)
    # master only applies when we are the ones creating the session
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally created
    session (the driver hands us one in ``__spark_entry__.entry``).

    Static confs cannot be set at runtime, so such a session keeps Spark's
    own: its generated-code cache stays at 100 entries and its Column calls
    keep capturing Python call sites."""
    for k, v in _RUNTIME_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session — fine, defaults are sane
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (a running total:
    take the difference across a span of work)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())
