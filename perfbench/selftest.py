"""Self-test of the benchmark: every workload at a tiny size
(120 conversations / sf0.001), untraced and traced.

    python3 perfbench/selftest.py

Asserts, for each run: exit code 0; the last stdout line is the
result object with every end-to-end (untraced) or per-layer (traced)
metric of BENCHMARK.json, each with its unit; ``error_frac`` is 0. In
a traced run, every per-layer metric the workload owns
(``wl_<workload>.layer_names()``) is nonzero, except those in
``MAY_BE_ZERO``; only the other workload's metrics may read 0. Every
per-layer metric of BENCHMARK.json is owned by some workload.
Exit code 0 when every run passes.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

# nothing spills to disk at the benchmark's sizes
MAY_BE_ZERO = {"spark.spill_bytes"}


def _owned(workload: str) -> list[str]:
    return importlib.import_module(f"wl_{workload}").layer_names()


def _check(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(result)}")
    want = spec["per_layer" if trace else "end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            errors.append(f"metric {m['name']} [{m['unit']}] printed as {got}")
    if trace:
        for name in _owned(workload):
            got = result["metrics"].get(name) or {}
            if name not in MAY_BE_ZERO and not got.get("value"):
                errors.append(f"own per-layer metric {name} reads {got.get('value')}")
    if len(result["metrics"]) != len(want):
        errors.append(f"{len(result['metrics'])} metrics printed, {len(want)} defined")
    error_frac = [ln.split() for ln in lines if ln.startswith(f"{workload} error_frac ")]
    if not error_frac or float(error_frac[0][2]) != 0.0:
        errors.append(f"error_frac line {error_frac}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"correct={result['correct']} attempted={result['attempted']} "
                      f"failed={result['failed']}")
    return errors


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    owned = {n for w in spec["workloads"] for n in _owned(w["name"])}
    orphans = [m["name"] for m in spec["per_layer"] if m["name"] not in owned]
    failed = bool(orphans)
    if orphans:
        print(f"[selftest] per-layer metrics no workload measures: {orphans}")
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors = _check(w["name"], trace, spec)
            status = "ok" if not errors else "FAIL"
            print(f"[selftest] {w['name']} trace={trace}: {status}", flush=True)
            for e in errors:
                print(f"    {e}")
            failed = failed or bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
