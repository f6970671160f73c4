"""ETL benchmark: one closed-loop client, one process, ``local[<cores>]``.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ``ingest``, ``analytics``, ``streaming``, ``curation`` (see
``perfbench/spec.json``).  The run builds its inputs from ``--seed`` (see
``gen.py``), sets up, measures operations until their summed latency reaches
``--seconds``, checks every output against the DuckDB oracles outside the
timed region, and prints two JSON lines: a report with every named metric,
its unit and sample count, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones of ``BENCHMARK.json`` (``--trace 0``)
or its per-layer ones (``--trace 1``).  A traced run also writes its spans to
``.perfbench_out/``.  ``--tiny`` shrinks every input (for the self-test).

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` at the root of the checkout.
"""


import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest", "analytics", "streaming", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    return p.parse_args(argv)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(work: str, cpus: int) -> None:
    """Everything Spark, its Python workers and ``tempfile`` write goes under
    ``work``; the workers import the package from the checkout."""
    import tempfile

    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session's 16g default heap is sized for sf0.1 suites; these inputs
    # peak under 3 GB of JVM resident memory with 2g
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(entry))
    return out


def _jvm_pid() -> int | None:
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def _peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return float("nan")
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _stop_children(timeout: float = 60.0) -> None:
    """Terminate and reap every child process (the JVM and anything it left)."""
    deadline = time.monotonic() + timeout
    sent = False
    while True:
        kids = _children(os.getpid())
        if not kids:
            return
        if not sent or time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGTERM if not sent else signal.SIGKILL)
                except ProcessLookupError:
                    pass
            sent = True
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def _metric(value, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zg_etl_spark")):
        print(f"perfbench: no zg_etl_spark package next to {HERE}", file=sys.stderr)
        return 2
    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work, cpus)
        return _run(args, work, cpus)
    finally:
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cpus: int) -> int:
    t_setup = time.perf_counter()
    import gen
    from trace import Tracer, attribute, parse_event_log, progress_listener
    from workloads import WORKLOADS, Context, _Rounds

    from zg_etl_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "true"})
    t_imports = time.perf_counter() - t_setup

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    session_start = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, attribute=bool(args.trace))
    listener = None
    if args.workload == "streaming":
        listener = progress_listener()
        spark.streams.addListener(listener)

    t0 = time.perf_counter()
    try:
        with tracer.span("session", "warmup"):
            _warm_up(spark, cpus)
    except Exception as exc:  # noqa: BLE001 — a broken engine ends the run
        print(f"perfbench: warm-up failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 3
    warmup = time.perf_counter() - t0

    ctx = Context(spark, tracer, gen.Generator(args.seed, os.path.join(work, "inputs")),
                  args.seed, args.tiny)
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    try:
        with tracer.span("bench", "prepare"):
            wl.prepare()
    except Exception as exc:  # noqa: BLE001 — set-up must work
        traceback.print_exc()
        print(f"perfbench: set-up failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 3
    prepare = time.perf_counter() - t0
    setup_s = t_imports + session_start + warmup + prepare

    # measure: at least the workload's own minimum of operations; a traced run
    # interleaves untraced operations (see Tracer.trace_key), so it runs at
    # least one of each (a query: one of each per query)
    records: list[dict] = []
    busy = 0.0
    measure_start = time.time()
    rounds = isinstance(wl, _Rounds)
    least = getattr(wl, "least_ops", 1)
    if args.trace:
        least = max(least, 2 * len(wl.names) if rounds else 2)
    while len(records) < least or busy < args.seconds:
        t0 = time.perf_counter()
        try:
            recs = wl.round(len(records)) if rounds else [wl.op(len(records))]
        except Exception as exc:  # noqa: BLE001 — counted, the run goes on
            ctx.mismatches.append(f"op {len(records)}: {type(exc).__name__}: {str(exc)[:300]}")
            recs = [{"latency": time.perf_counter() - t0, "rows": 0, "ok": False,
                     "traced": False, "outputs": []}]
            tracer.trace_key(1)
        records.extend(recs)
        busy += sum(r["latency"] for r in recs)

    wl.check()
    if listener is not None:
        _drain(listener)
    jvm_rss = _peak_rss_mb(_jvm_pid())
    spark.stop()
    _stop_children()

    lat = [r["latency"] for r in records]
    attempted = len(records)
    failed = min(attempted, ctx.untied + sum(
        not r["ok"] or any(o in ctx.bad for o in r["outputs"]) for r in records))
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cpus,
        "loop": "closed, 1 client",
        "setup_s": _metric(setup_s, "s", 1),
        "setup_parts_s": {"imports": t_imports, "session": session_start,
                          "warmup": warmup, "prepare": prepare},
        "error_rate": _metric(failed / attempted, "ratio", attempted),
        "attempted": attempted, "failed": failed,
        "jvm_peak_rss_mb": _metric(jvm_rss, "MB", 1),
        "mismatches": ctx.mismatches[:20],
    }
    report.update(_named(args.workload, records, busy, listener, measure_start))
    report["self_s_per_op"] = _self_per_op(tracer, range(len(records)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    computed = {
        "setup_s": _metric(setup_s, "s"),
        "op_p50_ms": _metric(statistics.median(lat) * 1000, "ms"),
        "ops_per_s": _metric(attempted / busy, "1/s"),
    }
    section = "end_to_end"
    if args.trace:
        jobs = parse_event_log(log_dir)
        attr = attribute(tracer, {j: v for j, v in jobs.items()
                                  if not tracer.untraced_at(v["submit_ms"] / 1000)},
                         listener.run_ids if listener else set())
        computed = _layers(args.workload, tracer, attr, records, cpus, wl, ctx, listener,
                           measure_start)
        computed["session.start_s"] = _metric(session_start, "s", 1)
        computed["session.warmup_s"] = _metric(warmup, "s", 1)
        report["layers"] = computed
        section = "per_layer"
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": not ctx.mismatches, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": computed[m["name"]]["value"],
                                              "unit": m["unit"]}
                                  for m in declared[section]}}))
    return 0


def _warm_up(spark, cpus: int) -> None:
    """A trivial action, then one pandas UDF over every core so each Python
    worker is spawned and has imported numpy and pandas."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark.range(1000).count()

    @pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        import numpy  # noqa: F401

        import zg_etl_spark  # noqa: F401 — the workers must see the package

        return s

    spark.range(cpus * 4, numPartitions=cpus).select(_noop("id")).count()


def _drain(listener, quiet: float = 0.5, limit: float = 10.0) -> None:
    """Listener events arrive asynchronously: wait until none arrive for
    ``quiet`` seconds."""
    deadline = time.monotonic() + limit
    seen = -1
    while len(listener.batches) != seen and time.monotonic() < deadline:
        seen = len(listener.batches)
        time.sleep(quiet)


def _stream_batches(listener, since: float, tracer=None) -> list[dict]:
    """Micro-batches that started after ``since`` (and, given a tracer, in a
    traced stretch of the run)."""
    from datetime import datetime

    out = []
    for b in listener.batches:
        ts = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        if ts >= since and not (tracer and tracer.untraced_at(ts)):
            out.append(b)
    return out


def _tail(xs: list[float], scale: float = 1.0) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    pct = int(100 * (1 - 10 / len(xs))) if xs else 0
    if pct < 50:
        return {"value": None, "pct": None, "n": len(xs)}
    q = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]
    return {"value": q * scale, "pct": pct, "n": len(xs)}


def _p95(xs: list[float], scale: float, unit: str) -> dict:
    """p95, given only where at least ten samples lie beyond it."""
    t = _tail(xs, scale)
    return _metric(t["value"] if t["pct"] and t["pct"] >= 95 else None, unit, len(xs))


def _named(workload: str, records, busy: float, listener, since: float) -> dict:
    """The workload's own end-to-end metrics, by the names users know them."""
    lat = [r["latency"] for r in records]
    n = len(lat)
    rows = sum(r["rows"] for r in records)
    if workload == "ingest":
        return {"ingest_events_per_s": _metric(rows / busy, "1/s", n),
                "ingest_batch_p50_s": _metric(statistics.median(lat), "s", n)}
    if workload == "curation":
        return {"curation_docs_per_s": _metric(rows / busy, "1/s", n),
                "curation_batch_p50_s": _metric(statistics.median(lat), "s", n)}
    if workload == "analytics":
        return {"query_p50_ms": _metric(statistics.median(lat) * 1000, "ms", n),
                "query_p95_ms": _p95(lat, 1000, "ms"),
                "query_tail_ms": dict(_tail(lat, 1000), unit="ms"),
                "queries_per_s": _metric(n / busy, "1/s", n)}
    batches = _stream_batches(listener, since)
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    return {"microbatch_p50_ms": _metric(statistics.median(trig) if trig else None, "ms",
                                         len(trig)),
            "microbatch_p95_ms": _p95(trig, 1, "ms"),
            "microbatch_tail_ms": dict(_tail(trig), unit="ms"),
            "stream_rows_per_s": _metric(sum(b["rows"] for b in batches) / busy, "1/s",
                                         len(trig)),
            "s_query_p50_ms": _metric(statistics.median(lat) * 1000, "ms", n)}


def _self_per_op(tracer, ops) -> dict:
    """Self time per layer within the given operations, per operation: where
    an operation's time went (spans are recorded in untraced runs too)."""
    ops = set(ops)
    out: dict[str, float] = {}
    for s, t in zip(tracer.spans, tracer.self_times()):
        if s["op"] in ops:
            out[s["layer"]] = out.get(s["layer"], 0.0) + t / max(len(ops), 1)
    return {k: _metric(v, "s", len(ops)) for k, v in sorted(out.items())}


def _layers(workload, tracer, attr, records, cpus, wl, ctx, listener, since) -> dict:
    """Per-layer metrics of the run's traced operations."""
    spans = tracer.spans
    selfs = tracer.self_times()
    traced_ops = {i for i, r in enumerate(records) if r["traced"]}
    in_ops = [i for i, s in enumerate(spans) if s["op"] in traced_ops]
    op_wall = sum(spans[i]["end"] - spans[i]["start"] for i in in_ops
                  if spans[i]["layer"] == "bench")
    by_layer: dict[str, float] = {}
    for i in in_ops:
        by_layer[spans[i]["layer"]] = by_layer.get(spans[i]["layer"], 0.0) + selfs[i]
    zero = {"jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0}

    def totals(idx):
        acc = dict(zero)
        for i in idx:
            for k, v in attr["by_span"].get(i, zero).items():
                acc[k] += v
        return acc

    def spans_of(pred):
        return [i for i in in_ops if pred(spans[i])]

    def dur(i):
        return spans[i]["end"] - spans[i]["start"]

    out: dict[str, dict] = {}
    n_ops = max(len(traced_ops), 1)
    out["layers_self_s"] = {k: _metric(v, "s") for k, v in sorted(by_layer.items())}
    out["trace.accounted_share"] = _metric(
        (op_wall - by_layer.get("bench", 0.0)) / op_wall if op_wall else None, "ratio")
    out["trace.primary_layer_share"] = _metric(
        sum(by_layer.get(k, 0.0) for k in wl.primary) / op_wall if op_wall else None,
        "ratio")

    # plans, all families together and per family
    builds = spans_of(lambda s: s["layer"].startswith("plans.") and s["name"].endswith(":build"))
    actions = spans_of(lambda s: s["layer"].startswith("plans.") and s["name"].endswith(":action"))
    both = totals(builds + actions)
    nq = max(len(actions), 1)
    act = totals(actions)
    out["plans.build_ms"] = _metric(statistics.median([dur(i) * 1000 for i in builds])
                                    if builds else None, "ms", len(builds))
    out["plans.action_ms"] = _metric(statistics.median([dur(i) * 1000 for i in actions])
                                     if actions else None, "ms", len(actions))
    out["plans.jobs_per_query"] = _metric(both["jobs"] / nq, "count", len(actions))
    out["plans.tasks_per_query"] = _metric(both["tasks"] / nq, "count", len(actions))
    out["plans.executor_run_ms"] = _metric(both["run_ms"] / nq, "ms", len(actions))
    out["plans.gc_ms"] = _metric(both["gc_ms"] / nq, "ms", len(actions))
    out["plans.shuffle_write_bytes"] = _metric(both["shuffle_write_bytes"] / nq, "bytes",
                                               len(actions))
    action_wall = sum(dur(i) for i in actions)
    out["plans.core_utilization"] = _metric(
        act["run_ms"] / (action_wall * 1000 * cpus) if action_wall else None, "ratio")
    fams = sorted({spans[i]["layer"] for i in builds + actions})
    for fam in fams:
        b = [i for i in builds if spans[i]["layer"] == fam]
        a = [i for i in actions if spans[i]["layer"] == fam]
        t = totals(b + a)
        k = max(len(a), 1)
        out[fam] = {
            "build_ms": _metric(statistics.median([dur(i) * 1000 for i in b]), "ms", len(b)),
            "action_ms": _metric(statistics.median([dur(i) * 1000 for i in a]), "ms", len(a)),
            "jobs_per_query": _metric(t["jobs"] / k, "count", len(a)),
            "tasks_per_query": _metric(t["tasks"] / k, "count", len(a)),
            "executor_run_ms": _metric(t["run_ms"] / k, "ms", len(a)),
            "gc_ms": _metric(t["gc_ms"] / k, "ms", len(a)),
            "shuffle_write_bytes": _metric(t["shuffle_write_bytes"] / k, "bytes", len(a)),
        }

    def per_op(layer):
        idx = spans_of(lambda s: s["layer"] == layer)
        return idx, sum(selfs[i] for i in idx) / n_ops

    # sources, gate, spine
    idx, v = per_op("sources")
    out["sources.scan_s"] = _metric(v if idx else None, "s", len(idx))
    idx, v = per_op("plans.gate")
    out["gate.decode_s"] = _metric(v if idx else None, "s", len(idx))
    idx, v = per_op("spine")
    t = totals(idx)
    out["spine.build_s"] = _metric(v if idx else 0.0, "s", len(idx))
    for key, name, unit in (("jobs", "jobs", "count"), ("tasks", "tasks", "count"),
                            ("run_ms", "executor_run_ms", "ms"), ("gc_ms", "gc_ms", "ms"),
                            ("input_bytes", "input_bytes", "bytes"),
                            ("shuffle_write_bytes", "shuffle_write_bytes", "bytes")):
        out[f"spine.{name}"] = _metric(t[key] / n_ops, unit, len(idx))
    setup_spine = [i for i, s in enumerate(spans) if s["layer"] == "spine" and s["op"] is None]
    out["spine.setup_build_s"] = _metric(
        statistics.median([dur(i) for i in setup_spine]) if setup_spine else None, "s",
        len(setup_spine))

    # sinks
    idx, v = per_op("sinks")
    traced_stats = [s for s in getattr(wl, "sink_stats", []) if s["op"] in traced_ops]
    out["sinks.upsert_s"] = _metric(v if idx else 0.0, "s", len(idx))
    if traced_stats:
        out["sinks.bytes_written_per_input_byte"] = _metric(
            sum(s["bytes_written"] for s in traced_stats)
            / sum(s["input_bytes"] for s in traced_stats), "ratio", len(traced_stats))
        out["sinks.files_per_batch"] = _metric(
            statistics.mean(s["files"] for s in traced_stats), "count", len(traced_stats))
        out["sinks.table_bytes_per_row"] = _metric(wl.table_bytes_per_row(), "bytes", 1)

    # stream
    if listener is not None:
        batches = _stream_batches(listener, since, tracer)
        n = len(batches)

        def med(key):
            xs = [b["duration_ms"].get(key, 0) for b in batches]
            return _metric(statistics.median(xs) if xs else None, "ms", n)

        out["stream.add_batch_ms"] = med("addBatch")
        out["stream.wal_commit_ms"] = med("walCommit")
        out["stream.commit_offsets_ms"] = med("commitOffsets")
        out["stream.query_planning_ms"] = med("queryPlanning")
        out["stream.trigger_execution_ms"] = med("triggerExecution")
        state = [b["state"] for b in batches if b["state"]]
        out["stream.state_commit_ms"] = _metric(
            statistics.median([sum(s[2] for s in st) for st in state]) if state else None,
            "ms", len(state))
        out["stream.state_rows_total"] = _metric(
            statistics.median([sum(s[0] for s in st) for st in state]) if state else None,
            "count", len(state))
        out["stream.state_memory_bytes"] = _metric(
            statistics.median([sum(s[1] for s in st) for st in state]) if state else None,
            "bytes", len(state))
        rounds_traced = max(sum(1 for r in records if r["traced"]) / len(wl.names), 1)
        out["stream.microbatches"] = _metric(n / rounds_traced, "count", n)

    # curation: its times are 0 on the workloads that run none of its queries
    def q_self(name):
        idx = spans_of(lambda s: s["name"].split(":")[0] == name)
        return sum(dur(i) for i in idx) / n_ops, len(idx)

    for metric, names in (("curation.lsh_build_s", ("l6_lsh_candidates",)),
                          ("curation.cc_s", ("l16_dedup_groups",)),
                          ("curation.ann_s", ("l14_ann_pandas", "l37_pq_ann")),
                          ("curation.features_s", ("l15_multimodal_features",))):
        parts = [q_self(n) for n in names]
        out[metric] = _metric(sum(p[0] for p in parts), "s", sum(p[1] for p in parts))
    if workload == "curation":
        l6 = ctx.counts.get("l6_lsh_candidates", [])
        l31 = ctx.counts.get("l31_candidate_verify", [])
        out["curation.lsh_candidate_pairs"] = _metric(statistics.mean(l6) if l6 else None,
                                                      "count", len(l6))
        out["curation.lsh_verified_ratio"] = _metric(
            sum(l31) / sum(l6) if l6 and sum(l6) else None, "ratio", len(l31))

    # oracle and trace
    out["oracle.check_s"] = _metric(ctx.check_s, "s", len(ctx.checked))
    out["oracle.mismatches"] = _metric(len(ctx.mismatches), "count", len(ctx.checked))
    un = attr["unattributed"]
    out["trace.unattributed_tasks"] = _metric(un["tasks"], "count", un["jobs"])
    out["trace.unattributed_run_ms"] = _metric(un["run_ms"], "ms", un["jobs"])
    out["trace.unattributed_by_open_layer"] = attr["unattributed_by_open_layer"]
    out["trace.overhead_ratio"] = _metric(_overhead(records), "ratio", len(records))
    return out


def _overhead(records) -> float | None:
    """Traced over untraced latency, minus one: per query where operations
    are named queries, else of the medians."""
    on = [r for r in records if r["traced"]]
    off = [r for r in records if not r["traced"]]
    if not on or not off:
        return None
    if "name" in records[0]:
        a = {}
        for r in on:
            a.setdefault(r["name"], []).append(r["latency"])
        b = {}
        for r in off:
            b.setdefault(r["name"], []).append(r["latency"])
        ratios = [statistics.median(a[k]) / statistics.median(b[k]) for k in a if k in b]
        return statistics.median(ratios) - 1 if ratios else None
    return (statistics.median(r["latency"] for r in on)
            / statistics.median(r["latency"] for r in off) - 1)


if __name__ == "__main__":
    sys.exit(main())
