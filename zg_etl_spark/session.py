"""SparkSession factory.

Defaults are written for correctness tests on ``local[N]`` but chosen so the
same plan shapes survive a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — at 100 TB the static plan is always wrong
  somewhere; AQE is the difference.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden (or left to AQE's coalescing with a high
  initial value).
- session timezone pinned to UTC so results are comparable to the
  DuckDB oracle (naive-UTC timestamps).
- Arrow enabled: every Pandas-UDF operator in this repo moves data in
  Arrow batches, never row-at-a-time.
- the generated-code cache holds the engine's whole working set
  (``CODEGEN_CACHE_ENTRIES``), so a class compiles once per session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of Spark's generated-class cache (CodeGenerator, keyed by the
# generated source; a JVM-wide static conf, default 100). Every batch and
# corpus arrives in a new directory and so gets new plans, which makes this
# cache the only place compiled code is reused. Measured on 4 cores: one
# pass of all 140 queries at sf0.01 (count() plus a full-row
# materialization each) compiles 2,708 distinct classes with an unbounded
# cache; a perfbench ingest batch needs ~430, a curation corpus ~250, an
# analytics round ~1,500. At 100 the LRU cycles and a second pass
# recompiles 3,081 classes (50 s) where an unbounded cache recompiles 28
# (36 s) and 4096 entries 42. 4096 holds the whole working set with
# headroom for the few literal-bearing classes each batch adds. The cost
# is metaspace: after one analytics round, 183-185 MB vs 170-175 MB at 100.
CODEGEN_CACHE_ENTRIES = 4096


def session_key(spark: SparkSession) -> str:
    """Stable per-session memo key. ``id(spark)`` is unsafe for this: a
    GC'd session's id can be reused by a NEW session, which would then
    inherit the dead session's memoized views/paths. applicationId is
    unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


def get_spark(
    app_name: str = "zg_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session. Safe to call repeatedly."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, not bigger: the suite fits comfortably, and an oversized heap
        # makes G1 pauses longer and rarer-but-huger — measured 71s -> 49s
        # suite wall at sf0.1 going 48g -> 16g (pauses randomly inflated
        # queries that run right after allocation-heavy ones)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
