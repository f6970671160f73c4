"""Stateful sessionization operator tests (applyInPandasWithState)."""

from __future__ import annotations

import glob
import shutil

import pytest

from zg_etl_spark.streaming.sessions import sessionize

SCHEMA = "app_id BIGINT, zg_did BIGINT, ct BIGINT"
GAP = 60_000  # 1 minute

# batch 1: device 1 has two events 10s apart (one session), device 2 one
# batch 2: device 1 returns 5 minutes later → previous session closes,
#          new session opens; device 2 extends within the gap
B1 = [(1, 1, 0), (1, 1, 10_000), (1, 2, 5_000)]
B2 = [(1, 1, 310_000), (1, 2, 50_000)]


@pytest.fixture
def src(spark, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    for i, rows in enumerate([B1, B2]):
        stage = tmp_path / f"st{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(stage))
        shutil.copy(glob.glob(str(stage / "part-*.parquet"))[0], d / f"b{i}.parquet")
    return d


def test_sessionize_gap_semantics(spark, src, tmp_path):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize(stream, gap_ms=GAP)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    rows = spark.sql("SELECT * FROM sessions_test").collect()

    closed = {(r.app_id, r.zg_did, r.session_start): r
              for r in rows if r.closed}
    # device 1's first session (0→10s, 2 events) closed by the 310s event
    s1 = closed[(1, 1, 0)]
    assert s1.session_end == 10_000 and s1.n_events == 2
    # device 2 never exceeded the gap → no closed session for it
    assert not any(k[1] == 2 for k in closed)

    open_rows = [r for r in rows if not r.closed]
    # device 1's new session and device 2's extended session are open
    d1_open = [r for r in open_rows if r.zg_did == 1 and r.session_start == 310_000]
    assert d1_open and d1_open[-1].n_events == 1
    d2_open = [r for r in open_rows if r.zg_did == 2]
    assert d2_open[-1].n_events == 2 and d2_open[-1].session_end == 50_000
