"""SparkSession factory tuned for distributed OLAP.

The reference engine's runtime knobs (segment count, interconnect type,
spill quotas — src/backend/cdb/cdbvars.h) map to Spark confs: shuffle
partitioning, AQE, broadcast thresholds.  Defaults here are chosen so the
same plan shape survives a 1000-executor / 100 TB deployment:

* AQE on (runtime re-plan ≈ ORCA's cost-based choices, but with true stats),
  with skew-join splitting (reference handles skew by hash-distribution
  choice only; AQE is strictly stronger).
* shuffle.partitions sized to cores locally; on a real cluster this should
  be 2-3× total executor cores — AQE coalescing makes over-partitioning
  cheap and under-partitioning is the only fatal choice at 100 TB.
* parquet nanos tolerated (driver testdata writes ns timestamps).
* the codegen cache holds a whole workload's generated classes.  Catalyst
  compiles each plan to bytecode once and keys the class by its source,
  but Spark's default cache keeps 100 classes in four LRU segments: one
  pass of the 15 ``bench.py`` rows at sf0.1 compiles 220 distinct classes,
  so every pass recompiled about 216 of them (Janino plus JIT of the new
  classes).  ``CODEGEN_CACHE_ENTRIES`` leaves about 4x headroom over that
  working set; with it a repeated pass compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (static; default 100), sized in the
# module docstring from the measured working set of 220 classes.
CODEGEN_CACHE_ENTRIES = 1000

# Runtime-settable confs every entry point applies defensively, because the
# driver may hand us a session we didn't build.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.parquet uses INT64 TIMESTAMP(NANOS); Spark 4 refuses
    # them unless read as long (catalog.load_table converts back to ntz).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only sane Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PG standard_conforming_strings: '\s' is backslash-s, not an escape —
    # regex literals ('\s+', '\d{3}') must reach the engine verbatim.
    "spark.sql.parser.escapedStringLiterals": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the confs that are legal to flip on a live session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable in this build — builder path covers it
    return spark


def get_spark(
    app_name: str = "greengage-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
