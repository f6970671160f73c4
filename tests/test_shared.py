"""The shared-intermediate registry (zg_etl_spark/shared.py) and the one
size-derived fan-out rule (sources/tables.py fan_out)."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from zg_etl_spark import shared as S
from zg_etl_spark.session import session_key

SF = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def test_same_sf_dir_builds_once(spark):
    calls = []
    first = S.shared(spark, SF, "test_once", lambda: calls.append(1) or object())
    again = S.shared(spark, SF, "test_once", lambda: calls.append(1) or object())
    assert again is first
    assert len(calls) == 1


def test_new_sf_dir_replaces_the_entry(spark):
    calls = []
    for sf_dir in (SF, SF_ORACLE, SF_ORACLE):
        S.shared(spark, sf_dir, "test_replace", lambda: calls.append(sf_dir))
    assert calls == [SF, SF_ORACLE]
    entries = [v for k, v in S._ENTRIES.items() if k[1] == "test_replace"]
    assert [sf_dir for sf_dir, _ in entries] == [SF_ORACLE]


def test_shared_view_reregisters_a_repointed_view(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    S.shared_view(spark, SF, "test_view", build)
    spark.range(7).createOrReplaceTempView("test_view")
    S.shared_view(spark, SF, "test_view", build)
    assert spark.table("test_view").count() == 3
    assert len(calls) == 1


def test_p52_then_p54_build_the_keyed_slice_once(spark, monkeypatch):
    """p54's replay reads p52's shared `p52_keyed` view instead of parsing
    the UA-keyed slice a second time."""
    from zg_etl_spark.plans import all_queries
    from zg_etl_spark.plans import pipeline as P

    key = session_key(spark)
    for name in ("p52_keyed", "p54_relations", "p54_detail"):
        monkeypatch.delitem(S._ENTRIES, (key, name), raising=False)
    builds = []
    real = P.p52_keyed_sql

    def counting(d):
        builds.append(d)
        return real(d)

    monkeypatch.setattr(P, "p52_keyed_sql", counting)
    queries = all_queries()
    queries["p52_adv_ss_priority"](spark, SF).collect()
    queries["p54_click_consumption"](spark, SF).collect()
    assert len(builds) == 1


def _two_file_layout(src: str, dst: str) -> None:
    """Copy ``src`` into ``dst`` with events and documents rewritten as
    2-file parquet directories (the layout a Spark or Kafka-connect writer
    produces), uncompressed so each table spans several fan-out units."""
    os.makedirs(dst)
    for f in os.listdir(src):
        name = f.removesuffix(".parquet")
        if name in ("events", "documents"):
            table = pq.read_table(os.path.join(src, f))
            os.makedirs(os.path.join(dst, f))
            half = table.num_rows // 2
            for i, part in enumerate((table.slice(0, half), table.slice(half))):
                pq.write_table(part, os.path.join(dst, f, f"part-{i}.parquet"),
                               compression="none")
        else:
            os.symlink(os.path.join(src, f), os.path.join(dst, f))


def test_fan_out_reads_directory_layout_and_keeps_parity(spark, tmp_path):
    from zg_etl_spark.oracle import compare
    from zg_etl_spark.plans import all_oracles, all_queries
    from zg_etl_spark.sources.tables import FAN_OUT_BYTES

    layout = str(tmp_path / "sf0.01_dirs")
    _two_file_layout(SF_ORACLE, layout)
    cores = spark.sparkContext.defaultParallelism

    def want(table):
        path = os.path.join(layout, f"{table}.parquet")
        size = sum(os.path.getsize(os.path.join(path, f))
                   for f in os.listdir(path))
        return min(cores, math.ceil(size / FAN_OUT_BYTES))

    queries, oracles = all_queries(), all_oracles()
    for query, view in (("p2_identity_mappings", "events"),
                        ("l6_lsh_candidates", "documents")):
        ok, msg = compare(spark, SF_ORACLE,
                          lambda s, _, q=query: queries[q](s, layout),
                          oracles[query])
        assert ok, (query, msg)
        # the fan-out fires on the directory layout: its native 2 splits
        # are fewer than the size-derived count
        assert want(view) > 2
        assert spark.table(view).rdd.getNumPartitions() == want(view)
