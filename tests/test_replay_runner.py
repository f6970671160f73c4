"""The s-queries' one replay runner and source writer
(plans/streaming_queries.py ``_replay`` / ``_write_split_files``).

A failed stream must leave nothing behind — no work dir, no memory-sink
view holding rows on the driver, no session conf still at the stream's
state-shard count — and the source-file writes must run under the
caller's job group like every other job a query launches.
"""

from __future__ import annotations

import os
import re
import tempfile

import pytest

from zg_etl_spark.plans import streaming_queries as sq
from zg_etl_spark.shared import shared


def test_source_writes_carry_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("split-source-test", "split source writes")
    try:
        sq._write_split_files(
            spark, [spark.range(5), spark.range(5, 10)], str(tmp_path)
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sorted(os.listdir(tmp_path)) == ["b0.parquet", "b1.parquet"]
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert tracker.getJobIdsForGroup("split-source-test")


@pytest.mark.parametrize(
    "query, source",
    [
        ("s1_streaming_identity", "stream_src"),  # store-backed sink
        ("s6_streaming_dedup", "s6_src"),         # memory sink
    ],
)
def test_failed_stream_cleans_up(spark, sf_dir, tmp_path, monkeypatch,
                                 query, source):
    def fail(q, timeout_s=300):
        q.stop()
        raise RuntimeError("forced stream failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sq, "_await_done", fail)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    with pytest.raises(RuntimeError, match="forced stream failure"):
        sq.QUERIES[query](spark, sf_dir)

    # the source is a shared entry that outlives the run by design (it may
    # have been written under tmp_path by this call); nothing else may
    src = shared(spark, sf_dir, source,
                 lambda: pytest.fail(f"{query} did not share its source"))
    left = [d for d in os.listdir(tmp_path)
            if d.startswith("zg_s") and os.path.join(tmp_path, d) != src]
    assert left == []
    views = [t.name for t in spark.catalog.listTables()
             if re.match(r"s\d+_mem_", t.name)]
    assert views == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert spark.streams.active == []
