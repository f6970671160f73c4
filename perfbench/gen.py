"""Seeded input generator for the benchmark: pyarrow and numpy only, no Spark.

Every batch or corpus is derived from the vendored base tables in
``perfbench/base`` (the sf0.01 star schema plus ``events``, ``documents`` and
``embeddings``) and written to a directory of its own, the way an ETL receives
each delivery in a new location.  The unchanged TPC-H tables are hard-linked
into it.  The same seed always gives byte-identical inputs.

Events are a pure function of ``(seed, event_id)``: the row an id draws from
the base, its cohort shift and its timestamp depend on nothing else.  Ingest
batches cover overlapping id ranges, so a re-delivered event is the same event
and the sinks' keep-latest merge has real work to do.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, the base's start
SPAN_US = 30 * 86_400_000_000  # a batch spans ~30 days, as the base does
USER_COHORT = 1_000_003  # shifted user ids mint new users per cohort
DOC_SHIFT = 10_000_019

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 of ``x ^ salt`` — a stateless per-id hash."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) ^ np.uint64(salt & 0xFFFFFFFFFFFFFFFF)) & _MASK
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _base(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _link_static(dst: str, skip: tuple[str, ...]) -> None:
    for t in TPCH + ("events", "documents", "embeddings"):
        if t in skip:
            continue
        src, out = os.path.join(BASE, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        try:
            os.link(src, out)
        except OSError:
            shutil.copyfile(src, out)


def _write(tb: pa.Table, path: str) -> None:
    pq.write_table(tb.replace_schema_metadata(None), path)


class Generator:
    """Makes the inputs of one run.  ``root`` is a fresh directory that only
    this run writes; every batch goes to a new subdirectory of it."""

    def __init__(self, seed: int, root: str) -> None:
        self.seed = seed
        self.root = root
        self._events = _base("events")
        self._docs = _base("documents")
        self._vecs = _base("embeddings")
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str) -> str:
        path = os.path.join(self.root, name)
        os.makedirs(path)
        return path

    def events(self, lo: int, n: int) -> pa.Table:
        """Events ``lo .. lo+n-1``, sorted by id (and so by time)."""
        ids = np.arange(lo, lo + n, dtype=np.int64)
        h = _mix(ids, self.seed * 2 + 1)
        base = self._events
        row = (h % np.uint64(base.num_rows)).astype(np.int64)
        picked = base.take(pa.array(row))
        # a quarter of the events come from a new cohort of users, so every
        # batch both revisits known users and mints new ones
        cohort = np.where((h >> np.uint64(8)) % np.uint64(4) == 0,
                          ids // 50_000 + 1, 0)
        user = picked["user_id"].to_numpy() + cohort * USER_COHORT
        # one strictly increasing, collision-free millisecond per event:
        # duplicated base rows never tie on event time
        step = SPAN_US // max(n, 1)
        jitter = ((h >> np.uint64(16)) % np.uint64(max(step // 1000, 1))).astype(np.int64)
        ts = T0_US + ids * step + jitter * 1000
        return pa.table({
            "event_id": pa.array(ids),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user, type=pa.int64()),
            "event_type": picked["event_type"],
            "value": picked["value"],
            "props": picked["props"],
        })

    def events_dir(self, name: str, lo: int, n: int) -> tuple[str, int]:
        """A new directory holding events ``lo..lo+n-1`` plus the static
        tables; returns ``(dir, events_file_bytes)``."""
        d = self._dir(name)
        _link_static(d, skip=("events",))
        path = os.path.join(d, "events.parquet")
        _write(self.events(lo, n), path)
        return d, os.path.getsize(path)

    def corpus_dir(self, name: str, index: int, copies: int) -> tuple[str, int]:
        """A new curation corpus: every base document ``copies`` times in a
        seeded order, the first copy verbatim and each other one with a
        seeded variant of ~5% token rewrites, so the corpus is made of
        near-duplicate families of a fixed size; document ids are shifted by
        ``index``.  Every base embedding once, in a seeded order, with small
        seeded noise.  Vector ids stay ``0..n-1``: the ANN queries take their
        query set from the lowest ids.  Returns ``(dir, documents)``."""
        d = self._dir(name)
        _link_static(d, skip=("documents", "embeddings"))
        rng = np.random.default_rng([self.seed, 7, index])

        docs = self._docs
        n_docs = copies * docs.num_rows
        row = rng.permutation(np.repeat(np.arange(docs.num_rows), copies))
        first = np.zeros(docs.num_rows, dtype=bool)
        texts = docs["text"].to_pylist()
        out = []
        for r in row:
            words = texts[r].split(" ")
            if first[r]:
                v = int(rng.integers(1, 4))
                for j in range(len(words)):
                    if (int(r) * 31 + j * 7 + v * 13) % 20 == 0:
                        words[j] = f"v{v}w{(int(r) + j) % 97}"
            first[r] = True
            out.append(" ".join(words))
        picked = docs.take(pa.array(row))
        _write(pa.table({
            "doc_id": pa.array(index * DOC_SHIFT + np.arange(n_docs), type=pa.int64()),
            "text": pa.array(out, type=pa.string()),
            "lang": picked["lang"],
            "source": picked["source"],
            "n_chars": pa.array([len(t) for t in out], type=pa.int64()),
        }), os.path.join(d, "documents.parquet"))

        vecs = self._vecs
        n_vecs = vecs.num_rows
        picked = vecs.take(pa.array(rng.permutation(n_vecs)))
        flat = pc.list_flatten(picked["embedding"]).to_numpy(zero_copy_only=False)
        dim = len(flat) // n_vecs
        noisy = (flat.reshape(n_vecs, dim)
                 + rng.normal(0, 0.01, (n_vecs, dim))).astype(np.float32)
        emb = pa.FixedSizeListArray.from_arrays(pa.array(noisy.ravel()), dim)
        _write(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": picked["label"],
        }), os.path.join(d, "embeddings.parquet"))
        return d, n_docs
