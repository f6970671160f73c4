"""Checkpoint-recovery / exactly-once tests for the streaming wrapper.

The reference runs Flink with EXACTLY_ONCE checkpointing
(FlinkEnvConfig.java:45-50, GateJob.java:178-179); its recovery contract
is "replaying a batch after a crash re-derives the same state" — KVRocks
HSETNX get-or-create is idempotent, so a re-consumed Kafka record maps to
the id the crashed attempt already claimed (OneIdService.java:312-359).

The Spark translation's equivalent contract (streaming/engine.py):

1. a RESTARTED query resumes from the checkpoint — already-committed
   micro-batches are not reprocessed, batch ids continue, and the union
   of both runs equals the batch-pipeline truth;
2. a batch whose SIDE EFFECTS landed (mapping-store delta, output files)
   but whose checkpoint commit did NOT is replayed on restart, and the
   replay is a no-op: the anti-join sees the crashed attempt's store
   delta, assigns nothing new, and the overwrite-by-batch-id output
   layout rewrites identical rows (same deterministic ids).

These are the properties a 1000-executor deployment leans on every time
an executor or the driver dies mid-job; they were asserted in docstrings
but never exercised until this file.
"""

from __future__ import annotations

import os

import pytest

from test_streaming import ROWS_B1, ROWS_B2, SCHEMA, write_batch_files
from zg_etl_spark.streaming import MappingStore, start_identity_stream

ROWS_B3 = [
    (7, 1, "d2", 700_000, 7, "view"),    # pre-restart mapping must be reused
    (8, 1, "d4", 701_000, 8, "click"),   # new device continues the sequence
    (9, 3, "d1", 702_000, 9, "click"),   # brand-new app starts at the offset
]
ROWS_B4 = [
    (10, 2, "d9", 800_000, 10, "view"),
    (11, 2, "dZ", 801_000, 11, "click"),
]


def _run_identity(spark, src, tmp_path):
    q = start_identity_stream(
        spark,
        source_dir=str(src),
        schema=SCHEMA,
        store_path=str(tmp_path / "store"),
        output_path=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120), "stream did not finish"
    return q


def _read_out(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def _mapping(df):
    return {(r.app_id, r.did): r.zg_did for r in df.collect()}


def _drop_commit(tmp_path, n: int = 0) -> None:
    """Simulate a crash after micro-batch ``n``'s side effects but before
    its checkpoint commit: drop ``commits/n`` AND its ``.crc`` sidecar
    (the local ChecksumFs refuses the replay's rename if the stale
    checksum survives — a real recovery failure mode, not test hygiene)."""
    commit = tmp_path / "ckpt" / "commits" / str(n)
    assert commit.exists()
    os.remove(commit)
    crc = tmp_path / "ckpt" / "commits" / f".{n}.crc"
    if crc.exists():
        os.remove(crc)


def test_restart_resumes_without_reprocessing(spark, tmp_path):
    """Stop after two committed batches, add two more source files,
    start a NEW query on the same checkpoint: the old batches stay
    committed (their output files are not rewritten), batch ids
    continue, and ids across both runs equal the one-shot truth."""
    src = tmp_path / "src"
    src.mkdir()
    write_batch_files(
        [spark.createDataFrame(rows, SCHEMA) for rows in (ROWS_B1, ROWS_B2)],
        src,
    )
    _run_identity(spark, src, tmp_path)

    first = _read_out(spark, tmp_path)
    first_map = _mapping(first)
    assert first.count() == len(ROWS_B1) + len(ROWS_B2)
    first_mtimes = {
        d: os.path.getmtime(os.path.join(tmp_path / "out", d))
        for d in os.listdir(tmp_path / "out")
    }
    assert set(first_mtimes) == {"batch_id=0", "batch_id=1"}

    write_batch_files(
        [spark.createDataFrame(rows, SCHEMA) for rows in (ROWS_B3, ROWS_B4)],
        src,
        start=2,
    )
    _run_identity(spark, src, tmp_path)

    out = _read_out(spark, tmp_path)
    final_map = _mapping(out)
    assert out.count() == 11
    # committed batches were not reprocessed: ids 2,3 appended, 0,1 untouched
    dirs = set(os.listdir(tmp_path / "out"))
    assert dirs == {f"batch_id={i}" for i in range(4)}
    for d, mtime in first_mtimes.items():
        assert os.path.getmtime(os.path.join(tmp_path / "out", d)) == mtime
    # every pre-restart mapping survives verbatim
    for k, v in first_map.items():
        assert final_map[k] == v
    # post-restart rows reuse old mappings and continue each app's sequence
    assert final_map[(1, "d2")] == first_map[(1, "d2")]
    assert final_map[(2, "d9")] == first_map[(2, "d9")]
    app1 = sorted(v for (a, _), v in final_map.items() if a == 1)
    assert app1 == [100_001, 100_002, 100_003, 100_004]   # d1 d2 d3 d4
    assert final_map[(3, "d1")] == 100_001                # new app, fresh base
    # the store holds one row per distinct (app, did) — no replay dups
    store = MappingStore(
        spark, str(tmp_path / "store"), key_col="did", id_col="zg_did"
    )
    state = store.read()
    assert state.count() == state.select("app_id", "did").distinct().count()
    assert state.count() == len(final_map)


def test_replay_after_lost_commit_is_idempotent(spark, tmp_path):
    """Crash window: the micro-batch's side effects landed (store delta
    written, output dir written) but the checkpoint commit did not.
    Deleting ``commits/0`` simulates exactly that crash; the restarted
    query replays batch 0 from ``offsets/0``. The replay must assign the
    SAME ids (the anti-join sees the crashed attempt's delta — HSETNX
    semantics, OneIdService.java:312-359) and leave the store
    duplicate-free."""
    src = tmp_path / "src"
    src.mkdir()
    write_batch_files([spark.createDataFrame(ROWS_B1, SCHEMA)], src)
    _run_identity(spark, src, tmp_path)

    pre_map = _mapping(_read_out(spark, tmp_path))
    store = MappingStore(
        spark, str(tmp_path / "store"), key_col="did", id_col="zg_did"
    )
    pre_state = {(r.app_id, r.did): r.zg_did for r in store.read().collect()}

    _drop_commit(tmp_path)

    _run_identity(spark, src, tmp_path)

    post = _read_out(spark, tmp_path)
    assert _mapping(post) == pre_map
    assert post.count() == len(ROWS_B1)
    state = store.read()
    # replay appended at most an EMPTY delta: same rows, no duplicates,
    # every id exactly as the crashed attempt assigned it
    assert {(r.app_id, r.did): r.zg_did for r in state.collect()} == pre_state
    assert state.count() == state.select("app_id", "did").distinct().count()


def test_replay_with_lost_store_delta_reassigns_same_ids(spark, tmp_path):
    """The inverse crash window: the checkpoint commit is lost AND the
    store delta is lost (crash before the delta write completed — a
    torn write leaves prior dirs intact, engine.py MappingStore
    docstring). The replay must re-derive the SAME deterministic ids
    from first-seen order, so downstream consumers of the crashed
    attempt's output stay consistent."""
    src = tmp_path / "src"
    src.mkdir()
    write_batch_files([spark.createDataFrame(ROWS_B1, SCHEMA)], src)
    _run_identity(spark, src, tmp_path)

    pre_map = _mapping(_read_out(spark, tmp_path))

    import shutil

    _drop_commit(tmp_path)
    store_dir = tmp_path / "store"
    deltas = [d for d in os.listdir(store_dir) if d.startswith("v")]
    assert deltas == ["v0"]
    shutil.rmtree(store_dir / "v0")

    _run_identity(spark, src, tmp_path)

    assert _mapping(_read_out(spark, tmp_path)) == pre_map
    store = MappingStore(
        spark, str(tmp_path / "store"), key_col="did", id_col="zg_did"
    )
    state = store.read()
    assert state.count() == state.select("app_id", "did").distinct().count()
    assert {(r.app_id, r.did): r.zg_did for r in state.collect()} == {
        k: v for k, v in pre_map.items()
    }


def test_torn_delta_dir_is_ignored_not_fatal(spark, tmp_path):
    """A delta dir whose write crashed mid-flight (only ``_temporary/``
    inside, no ``_SUCCESS``) is not state: read() must skip it (a torn
    FIRST delta fails schema inference outright if scanned), and the
    next merge must not reuse its index. The stream then recovers by
    replaying the batch in full."""
    from zg_etl_spark.streaming import incremental_device_ids

    store_dir = tmp_path / "store"
    os.makedirs(store_dir / "v0" / "_temporary" / "0")

    src = tmp_path / "src"
    src.mkdir()
    write_batch_files([spark.createDataFrame(ROWS_B1, SCHEMA)], src)
    _run_identity(spark, src, tmp_path)

    out_map = _mapping(_read_out(spark, tmp_path))
    assert sorted(v for (a, _), v in out_map.items() if a == 1) == [
        100_001, 100_002,
    ]
    # the replayed merge advanced past the torn index instead of
    # colliding with it (parquet refuses to write into an existing dir)
    store = MappingStore(
        spark, str(store_dir), key_col="did", id_col="zg_did"
    )
    assert sorted(store._dirs("v")) == [0, 1]
    assert sorted(store._dirs("v", committed_only=True)) == [1]
    state = store.read()
    assert state.count() == 3


def test_partial_snapshot_falls_back_to_deltas(spark, tmp_path):
    """Compaction crash window: the snapshot's part-files partially
    committed but ``_SUCCESS`` never landed. Reading that snapshot as
    the base SILENTLY DROPS mappings (the deltas it superseded are
    skipped) — later batches would re-mint conflicting ids. The store
    must fall back to the previous snapshot + the full delta chain."""
    import glob

    from zg_etl_spark.streaming import incremental_device_ids

    path = str(tmp_path / "map")
    store = MappingStore(spark, path, key_col="did", id_col="zg_did")
    for i in range(store.COMPACT_EVERY):
        b = spark.createDataFrame(
            [(i, 1, f"d{i}", 1_000 + i, i, "click")], SCHEMA
        )
        incremental_device_ids(store, b)

    snaps = [d for d in os.listdir(path) if d.startswith("s")]
    assert len(snaps) == 1
    snap = os.path.join(path, snaps[0])
    full = {(r.app_id, r.did): r.zg_did for r in store.read().collect()}
    assert len(full) == store.COMPACT_EVERY

    # tear the snapshot: drop the commit marker and one part-file
    os.remove(os.path.join(snap, "_SUCCESS"))
    os.remove(glob.glob(os.path.join(snap, "part-*"))[0])

    got = {(r.app_id, r.did): r.zg_did for r in store.read().collect()}
    assert got == full
    # and the next merge still continues the id sequence correctly
    nxt = spark.createDataFrame(
        [(99, 1, "dZZ", 9_000, 99, "click")], SCHEMA
    )
    ids = {
        r.did: r.zg_did
        for r in incremental_device_ids(store, nxt)
        .select("did", "zg_did")
        .collect()
    }
    assert ids["dZZ"] == 100_000 + store.COMPACT_EVERY + 1


def test_upsert_sink_replay_is_idempotent(spark, tmp_path):
    """The s8-shaped sink path (foreachBatch → delete-sign upsert_table,
    streaming_queries.py): a replayed micro-batch must leave the table
    byte-identical — the re-applied update ties with its own on-disk row
    in keep_latest, and the re-applied delete sweeps a key that is
    already gone (Doris merge-on-write re-delivery absorption,
    schema.sql:96-398)."""
    from zg_etl_spark.sinks import upsert_table

    schema = "app_id INT, k STRING, val STRING, seq BIGINT, del INT"
    b0 = [(1, "k1", "a", 1, 0), (1, "k2", "b", 2, 0), (2, "k1", "c", 3, 0)]
    b1 = [(1, "k1", "a2", 4, 0), (1, "k2", "b", 5, 1)]   # update + DELETE

    src = tmp_path / "src"
    src.mkdir()
    write_batch_files(
        [spark.createDataFrame(rows, schema) for rows in (b0, b1)], src
    )
    table = str(tmp_path / "table")

    def _sink(batch_df, _batch_id):
        upsert_table(
            spark, batch_df, table,
            keys=["app_id", "k"], order_col="seq",
            partition_cols=["app_id"], delete_col="del",
        )

    def _run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"

    _run()
    pre = {
        (r.app_id, r.k): (r.val, r.seq)
        for r in spark.read.parquet(table).collect()
    }
    assert pre == {(1, "k1"): ("a2", 4), (2, "k1"): ("c", 3)}  # k2 deleted

    _drop_commit(tmp_path, 1)
    _run()

    post = {
        (r.app_id, r.k): (r.val, r.seq)
        for r in spark.read.parquet(table).collect()
    }
    assert post == pre
