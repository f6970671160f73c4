"""Generated code: every class compiles once per session, and the wide
table's whole-stage code compiles at all."""

from __future__ import annotations

import shutil
import time

from zg_etl_spark import plans
from zg_etl_spark.operators.domain import ensure_pipeline_views
from zg_etl_spark.oracle import compare
from zg_etl_spark.session import CODEGEN_CACHE_ENTRIES

SF = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
# the ingest outputs plus the p10 sink rows
INGEST = ("p8_wide_table", "p2_identity_mappings", "p4_dictionaries",
          "p12_id_archive", "p10_b_user_upsert")


def _compiled(spark) -> int:
    """Classes this JVM has compiled so far (one compilation-time sample per
    cache miss that compiled)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    # a static conf: getOrCreate on a running context drops it silently
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)


def test_second_batch_reuses_compiled_classes(spark, tmp_path):
    """The same batch in a new directory gets new plans but the same
    generated code: the second pass must hit the cache (at 100 entries it
    recompiled 246 of its 254 classes)."""
    queries = plans.all_queries()
    # the counter counts compilations: a new literal is a new class
    before = _compiled(spark)
    spark.range(1).selectExpr(f"id * {time.time_ns()}").collect()
    assert _compiled(spark) > before
    compiled = []
    for copy in ("batch0", "batch1"):
        sf_dir = str(tmp_path / copy)
        shutil.copytree(SF, sf_dir)
        before = _compiled(spark)
        ensure_pipeline_views(spark, sf_dir)
        for name in INGEST:
            df = queries[name](spark, sf_dir)
            df.count()
            df.localCheckpoint(eager=True)
        compiled.append(_compiled(spark) - before)
    assert compiled[1] <= 10, compiled


def test_p8_full_row_compiles_and_matches_oracle(spark):
    """The full wide row's whole-stage code compiles: with the
    interpreted fallback off, a compile error ("Code grows beyond 64 KB")
    raises instead of silently running the slow path."""
    queries = plans.all_queries()
    key = "spark.sql.codegen.fallback"
    spark.conf.set(key, "false")
    try:
        queries["p8_wide_table"](spark, SF).localCheckpoint(eager=True)
    finally:
        spark.conf.unset(key)
    ok, msg = compare(spark, SF_ORACLE, queries["p8_wide_table"],
                      plans.all_oracles()["p8_wide_table"])
    assert ok, msg
