"""Self-test of the benchmark on tiny inputs (1,000-event batches and spines,
single-copy 500-document corpora, all derived from the same base tables).

    python3 perfbench/selftest.py

For every workload of BENCHMARK.json it runs ``run.py --tiny`` untraced and
traced, and checks that the result line carries exactly BENCHMARK.json's
end-to-end (untraced) or per-layer (traced) metrics with their units, that
the run was correct, and that the report names every metric spec.json lists
for that workload, each with its unit.  Also checks that run.py exits nonzero
without printing a result when the package it benchmarks is missing.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _expected_report(spec: dict, workload: str, traced: bool) -> dict[str, str]:
    names = {k: v["unit"] for k, v in spec["end_to_end"]["report"].items()
             if workload in v["workloads"]}
    if traced:
        names.update({k: v["unit"] for k, v in spec["per_layer"].items()
                      if v["workloads"] == "all" or workload in v["workloads"]})
    return names


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    errors = []
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            proc = _run(ROOT, w["name"], trace)
            tag = f"{w['name']} --trace {trace}"
            before = len(errors)
            if proc.returncode != 0:
                errors.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            report = json.loads(lines[-2])["report"]
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if got != want:
                errors.append(f"{tag}: metrics {got} != {want}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                errors.append(f"{tag}: incorrect run: {report.get('mismatches')}")
            found = dict(report, **report.get("layers", {}))
            for name, unit in _expected_report(spec, w["name"], bool(trace)).items():
                if name not in found or found[name].get("unit") != unit:
                    errors.append(f"{tag}: report lacks {name} [{unit}]")
            print(f"{'ok' if len(errors) == before else 'FAILED'} {tag}", flush=True)

    # a directory holding only BENCHMARK.json and perfbench/ must fail cleanly
    bare = tempfile.mkdtemp(prefix="perfbench_bare_", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, bench["workloads"][0]["name"], 0)
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            errors.append("bare directory: run.py did not fail without the package")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL", e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
