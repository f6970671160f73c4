"""The four workloads.  Each drives the engine only through its public entry
points (``session.get_spark``, ``plans.all_queries()[name](spark, dir)`` then
``.count()``, ``operators.domain.ensure_pipeline_views``, ``sinks.upsert_table``
and ``oracle.compare``) and times every call from here.

A workload has a ``prepare`` step (set-up), an operation step (``op``: one
timed operation; ``round``: one timed pass over a query list) and a ``check``
step that compares outputs with the DuckDB oracles outside any timed region.
Every operation returns a record ``{"latency", "rows", "ok", "outputs"}``,
``outputs`` being the (query, input directory) pairs it produced.
"""

from __future__ import annotations

import os
import time

import numpy as np

FAMILIES = (("p54", "plans.consume"), ("q", "plans.relational"),
            ("p", "plans.pipeline"), ("g", "plans.gate"), ("l", "plans.llm"),
            ("s", "plans.streaming"))


def family(name: str) -> str:
    return next(layer for prefix, layer in FAMILIES if name.startswith(prefix))


class Context:
    """What every workload shares within one run."""

    def __init__(self, spark, tracer, gen, seed: int, tiny: bool) -> None:
        from zg_etl_spark import plans

        self.spark = spark
        self.tracer = tracer
        self.gen = gen
        self.seed = seed
        self.tiny = tiny
        self.queries = plans.all_queries()
        self.oracles = plans.all_oracles()
        self.checked: set[tuple[str, str]] = set()
        self.bad: set[tuple[str, str]] = set()
        self.untied = 0  # mismatches that belong to no single operation
        self.check_s = 0.0
        self.mismatches: list[str] = []
        self.counts: dict[str, list[int]] = {}

    def query(self, name: str, sf_dir: str, op: int | None):
        """One query: the function call (analysis plus any eager shared-view
        build) and its ``count()``, each in its own span."""
        layer = family(name)
        with self.tracer.span(layer, f"{name}:build", op):
            df = self.queries[name](self.spark, sf_dir)
        with self.tracer.span(layer, f"{name}:action", op):
            n = df.count()
        if op is not None:
            self.counts.setdefault(name, []).append(n)
        return df

    def check(self, items) -> None:
        """Compare each ``(name, sf_dir, df)`` — ``df`` being the query's own
        result — with its oracle, once per (query, input), on a pool of
        threads that inherit the span's job group."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        from zg_etl_spark.oracle import compare

        todo = [(n, d, df) for n, d, df in items if (n, d) not in self.checked]
        self.checked.update((n, d) for n, d, _ in todo)

        def one(item):
            name, sf_dir, df = item
            try:
                return compare(self.spark, sf_dir, lambda *_: df, self.oracles[name])
            except Exception as exc:  # noqa: BLE001 — a crash is a mismatch
                return False, f"{type(exc).__name__}: {exc}"

        t0 = time.perf_counter()
        with self.tracer.span("oracle", "check"):
            with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
                results = list(pool.map(inheritable_thread_target(one), todo))
        self.check_s += time.perf_counter() - t0
        for (name, sf_dir, _), (ok, why) in zip(todo, results):
            if not ok:
                self.bad.add((name, sf_dir))
                self.mismatches.append(f"{name}@{os.path.basename(sf_dir)}: {why[:300]}")


class Ingest:
    """New event batches, each in a new directory: gate decode, spine,
    outputs, then keep-latest upserts into sink tables that persist across
    the run.  Consecutive batches share half their event ids."""

    name = "ingest"
    primary = ("spine",)
    GATE = ("g1_wire_roundtrip", "g2_wire_crypto")
    OUTPUTS = ("p8_wide_table", "p2_identity_mappings", "p4_dictionaries",
               "p12_id_archive", "p54_click_consumption")
    B_USER = "p10_b_user_upsert"
    SINKS = (("wide", "p8_wide_table", ["uuid"], ["begin_day_id"]),
             ("b_user", B_USER, ["app_id", "device_id", "zg_id"], ["app_id"]))

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.n_events = 1_000 if ctx.tiny else 10_000
        self.batches = 0
        root = os.path.join(ctx.gen.root, "sinks")
        os.makedirs(root)
        self.tables = {t: os.path.join(root, t) for t, *_ in self.SINKS}
        self.latest: dict[str, dict[tuple, int]] = {t: {} for t in self.tables}
        self.sink_stats: list[dict] = []
        self.held: list[tuple] = []

    def prepare(self) -> None:
        # one untimed batch warms the JVM and seeds the sink tables
        self.op(None)

    def op(self, op: int | None) -> dict:
        from pyspark.sql import functions as F

        from zg_etl_spark.operators.domain import ensure_pipeline_views
        from zg_etl_spark.sinks import upsert_table
        from zg_etl_spark.sources.tables import load_table

        ctx, tr = self.ctx, self.ctx.tracer
        seq = self.batches
        self.batches += 1
        sf_dir, nbytes = ctx.gen.events_dir(
            f"batch{seq:04d}", seq * self.n_events // 2, self.n_events)
        dfs = {}
        before = {t: _files(p) for t, p in self.tables.items()}
        traced = tr.trace_key(op) if op is not None else tr.enabled
        with tr.span("bench", "ingest_batch", op) as span:
            with tr.span("sources", "scan", op):
                load_table(ctx.spark, sf_dir, "events").count()
            for name in self.GATE:
                dfs[name] = ctx.query(name, sf_dir, op)
            with tr.span("spine", "build", op):
                ensure_pipeline_views(ctx.spark, sf_dir)
            for name in self.OUTPUTS + (self.B_USER,):
                dfs[name] = ctx.query(name, sf_dir, op)
            for table, name, keys, part in self.SINKS:
                with tr.span("sinks", f"upsert:{table}", op):
                    upsert_table(ctx.spark, dfs[name].withColumn("batch_seq", F.lit(seq)),
                                 self.tables[table], keys=keys, order_col="batch_seq",
                                 partition_cols=part)
        # the next batch re-registers the spine views, so a measured batch's
        # outputs are materialized now and compared with the oracles at the
        # end; the set-up batch's outputs are not compared (p54's DuckDB
        # oracle alone takes ~15 s), so only its sink keys are kept
        with tr.span("oracle", "hold"):
            if op is not None:
                self.held.extend((name, sf_dir, df.localCheckpoint(eager=True))
                                 for name, df in dfs.items())
            for table, name, keys, _ in self.SINKS:
                for row in dfs[name].select(*keys).collect():
                    self.latest[table][tuple(row)] = seq
        if op is not None:
            new = [v for t, p in self.tables.items()
                   for f, v in _files(p).items() if before[t].get(f) != v]
            self.sink_stats.append({"op": op, "files": len(new), "input_bytes": nbytes,
                                    "bytes_written": sum(size for _, size in new)})
        tr.trace_key(1)
        return {"latency": span["end"] - span["start"], "rows": self.n_events, "ok": True,
                "traced": traced, "outputs": [(name, sf_dir) for name in dfs]}

    def check(self) -> None:
        """Every batch's outputs against the oracles, then the persisted sink
        tables: they hold exactly the latest batch of every key ever upserted
        (keep-latest per key over the concatenated batches)."""
        self.ctx.check(self.held)
        self.held = []
        t0 = time.perf_counter()
        for table, _, keys, _ in self.SINKS:
            tb = _dataset(self.tables[table]).to_table(columns=keys + ["batch_seq"])
            got = {tuple(r[:-1]): r[-1]
                   for r in zip(*(tb[k].to_pylist() for k in keys + ["batch_seq"]))}
            if len(got) != tb.num_rows or got != self.latest[table]:
                self.ctx.untied += 1
                self.ctx.mismatches.append(
                    f"sink {table}: {tb.num_rows} rows, {len(got)} keys, "
                    f"expected {len(self.latest[table])} keys")
        self.ctx.check_s += time.perf_counter() - t0

    def table_bytes_per_row(self) -> float:
        files = _files(self.tables["wide"])
        rows = _dataset(self.tables["wide"]).count_rows()
        return sum(size for _, size in files.values()) / max(rows, 1)


def _dataset(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive")


def _files(path: str) -> dict[str, tuple[int, int]]:
    """Parquet files under ``path`` as ``{path: (inode, size)}``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_ino, st.st_size)
    return out


class _Rounds:
    """Shared by the workloads whose operation is one query over a fixed,
    warm input: every round runs the whole query list in a seeded order."""

    names: tuple[str, ...] = ()

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf_dir = ""
        self.first: dict[str, object] = {}
        self.rng = np.random.default_rng([ctx.seed, 11])
        self.rounds = 0

    def _star(self) -> None:
        from zg_etl_spark.operators.domain import ensure_pipeline_views

        n = 1_000 if self.ctx.tiny else 10_000
        self.sf_dir, _ = self.ctx.gen.events_dir("star", 0, n)
        with self.ctx.tracer.span("spine", "build"):
            ensure_pipeline_views(self.ctx.spark, self.sf_dir)

    def round(self, first_op: int) -> list[dict]:
        order = [self.names[k] for k in self.rng.permutation(len(self.names))]
        out = []
        for k, name in enumerate(order):
            op = first_op + k
            ok = True
            traced = self.ctx.tracer.trace_key(self.names.index(name) + 2 * self.rounds)
            with self.ctx.tracer.span("bench", name, op) as span:
                try:
                    self.ctx.query(name, self.sf_dir, op)
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    self.ctx.mismatches.append(
                        f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    ok = False
            out.append({"latency": span["end"] - span["start"], "rows": 0, "ok": ok,
                        "traced": traced, "name": name, "outputs": [(name, self.sf_dir)]})
        self.ctx.tracer.trace_key(1)
        self.rounds += 1
        return out

    def warm(self) -> None:
        """One untimed pass: every query's first execution in the JVM.  Each
        result is materialized for the oracle check at the end."""
        for name in self.names:
            with self.ctx.tracer.span("bench", f"{name}:warm"):
                try:
                    df = self.ctx.queries[name](self.ctx.spark, self.sf_dir)
                    self.first[name] = df.localCheckpoint(eager=True)
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    self.ctx.bad.add((name, self.sf_dir))
                    self.ctx.mismatches.append(
                        f"{name}: {type(exc).__name__}: {str(exc)[:300]}")

    def check(self) -> None:
        self.ctx.check([(name, self.sf_dir, df) for name, df in self.first.items()])
        self.first.clear()


class Analytics(_Rounds):
    """Warm, read-only: every q-query and every read-only p-query over one
    spine built in set-up."""

    name = "analytics"
    primary = ("plans.relational", "plans.pipeline")

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.names = tuple(n for n in ctx.queries
                           if n[0] == "q" or (n[0] == "p" and not n.startswith("p54")))

    def prepare(self) -> None:
        self._star()
        self.warm()


class Streaming(_Rounds):
    """The s-queries over a warm spine; every call runs real Structured
    Streaming with fresh checkpoints."""

    name = "streaming"
    primary = ("plans.streaming",)

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.names = tuple(n for n in ctx.queries if n[0] == "s")

    def prepare(self) -> None:
        self._star()
        # the first pass also writes the memoized stream sources
        self.warm()


class Curation:
    """New seeded corpora, each in a new directory; every operation rebuilds
    the LSH candidates, the PQ index and the CC labels for its corpus."""

    name = "curation"
    primary = ("plans.llm",)
    least_ops = 2  # a corpus takes ~5 s on 4 cores: the op_p50 of two, not one
    L_QUERIES = ("l3_dedup_exact", "l5_minhash_signatures", "l6_lsh_candidates",
                 "l31_candidate_verify", "l16_dedup_groups", "l11_embedding_neardup",
                 "l14_ann_pandas", "l37_pq_ann", "l15_multimodal_features")

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.copies = 1 if ctx.tiny else 2
        self.corpora = 0

    def prepare(self) -> None:
        # one untimed corpus warms the Python/Arrow workers and the JVM
        self.op(None)

    def op(self, op: int | None) -> dict:
        ctx = self.ctx
        self.corpora += 1
        sf_dir, n_docs = ctx.gen.corpus_dir(f"corpus{self.corpora:04d}", self.corpora,
                                            self.copies)
        dfs = {}
        traced = ctx.tracer.trace_key(op) if op is not None else ctx.tracer.enabled
        with ctx.tracer.span("bench", "corpus", op) as span:
            for name in self.L_QUERIES:
                dfs[name] = ctx.query(name, sf_dir, op)
        ctx.tracer.trace_key(1)
        if op is not None:  # the set-up corpus only warms up
            ctx.check([(name, sf_dir, df) for name, df in dfs.items()])
        return {"latency": span["end"] - span["start"], "rows": n_docs, "ok": True,
                "traced": traced,
                "outputs": [(name, sf_dir) for name in dfs]}

    def check(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Ingest, Analytics, Streaming, Curation)}
