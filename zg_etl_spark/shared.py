"""The one lifecycle for shared intermediates.

Every relation that several queries (or several references inside one
query) read — the pipeline spine, the docs views, LSH/PQ indexes, the
p52/p54 keyed slice, the stream sources — is built once and then read by
every consumer, the way the reference writes a stage output once to
Kafka/Doris. ``shared`` holds ONE live entry per (session, name): a call
for another ``sf_dir`` rebuilds and replaces it, so a session that walks
many ingest batches or corpora keeps one copy per name, not one per
directory.

Entries are keyed by ``session_key`` (applicationId), never ``id(spark)``.
Calls come from the driver thread that runs the query.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from zg_etl_spark.session import session_key

T = TypeVar("T")

# (session_key, name) -> (sf_dir, value)
_ENTRIES: dict[tuple[str, str], tuple[str, object]] = {}


def shared(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], T]) -> T:
    """Return ``build()``'s value for (session, name, sf_dir), running
    ``build`` only when the live entry for (session, name) is missing or
    was built for another ``sf_dir``."""
    key = (session_key(spark), name)
    hit = _ENTRIES.get(key)
    if hit is not None and hit[0] == sf_dir:
        return hit[1]
    value = build()
    _ENTRIES[key] = (sf_dir, value)
    return value


def shared_view(
    spark: SparkSession, sf_dir: str, name: str, build_df: Callable[[], DataFrame]
) -> DataFrame:
    """``shared`` over ``build_df().localCheckpoint(eager=True)``, registered
    as temp view ``name`` on every call (catalog-only, no job), so a view
    another query re-pointed is restored without a rebuild.

    localCheckpoint, not ``.cache()``: Spark substitutes cached plans
    BEFORE CTE inlining, so a cached view referenced inside a WITH body
    silently recomputes its whole lineage per reference; a checkpoint
    truncates the lineage and every reference scans the materialized
    partitions."""
    df = shared(
        spark, sf_dir, name, lambda: build_df().localCheckpoint(eager=True)
    )
    df.createOrReplaceTempView(name)
    return df
