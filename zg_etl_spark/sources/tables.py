"""Parquet table loaders for the driver testdata star schema.

The reference consumes Kafka topics (main/GateJob.java:95-109); in this
engine the batch source is columnar parquet and the streaming source is
``readStream`` (see zg_etl_spark.streaming). Loading stays declarative so
Catalyst keeps predicate pushdown + column pruning into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Confs the engine's RESULTS depend on, set defensively at query time:
    the driver harness constructs its own SparkSession, so correctness
    cannot ride on zg_etl_spark.session defaults.

    - session timezone UTC: every date_format/CAST-to-DATE bucket and
      timestamp-literal comparison must agree with the DuckDB oracle's
      naive-UTC timestamps;
    - parquet nanos-as-long: older driver testdata stored events.ts as
      TIMESTAMP(NANOS); harmless no-op on µs data / newer Spark;
    - shuffle partitions: lowered from the 200 default only (never
      overriding a deliberate setting) — at oracle scale 200-partition
      shuffles are pure task-launch overhead.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events_ts(df)
    return df


# Bytes of source per task when a table fans out (fan_out). Sized for
# EXPRESSION work, not scan bytes: the spine's gated build evaluates ~50
# derived columns per event row (md5, regexps, string builds) and the
# docs lanes run md5-per-shingle minhash and array folds, so 64 KiB is
# still thousands of rows per task. Interleaved A/Bs at sf0.1: the gated
# checkpoint took 2.9 s at 1 partition, 0.9 s at 8, 0.65 s at 32; the
# minhash build 2.8/0.85/0.94 s at 2 partitions vs 0.52/0.45/0.45 at 8.
# A 512 KiB target under-parallelized exactly those builds.
FAN_OUT_BYTES = 64 * 1024


def input_bytes(path: str) -> int:
    """Bytes of a table on disk: the file's size or, when ``path`` is a
    directory (the multi-file parquet layout), the sum of its data files,
    skipping the ``_``/``.``-prefixed metadata files Spark's reader skips.
    ``os.path.getsize`` on the directory itself returns its inode size
    (~4 KB) whatever the table holds. 0 when ``path`` is missing."""
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
        return total
    except OSError:
        return 0


def fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin ``df`` (read from ``path``) over one partition per
    FAN_OUT_BYTES of source, capped at the core count, when its native
    splits are fewer. The testdata ships each table as ONE parquet file,
    which would run every per-row pipeline downstream in a single task;
    a source that already arrives as many files (any cluster-scale
    layout) is left alone."""
    cores = spark.sparkContext.defaultParallelism
    want = max(1, min(cores, -(-input_bytes(path) // FAN_OUT_BYTES)))
    return df.repartition(want) if df.rdd.getNumPartitions() < want else df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Pin the engine-internal contract events.ts = epoch-NANOS BIGINT.

    The driver testdata has shipped both TIMESTAMP(NANOS) (read as a nanos
    BIGINT under nanosAsLong) and timestamp[us] (read as TIMESTAMP_NTZ —
    Spark ≥4.1 ignores nanosAsLong for µs data). Every downstream stage
    derives `ct` as `ts DIV 1_000_000`, so convert the NTZ reading to
    nanos here. Map-side column arithmetic — no shuffle, stays inside
    whole-stage codegen; the µs→ns widening is exact (int64 covers ±292y).
    Session TZ is pinned UTC so the NTZ→TIMESTAMP cast is identity.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt in ("timestamp_ntz", "timestamp"):
        df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
