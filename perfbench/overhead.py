"""Tracing overhead: run one workload untraced and traced on the same
seed and print, for each end-to-end metric and each metric of the
workload's report, the traced value minus the untraced one.

    python3 perfbench/overhead.py --workload index --seed 3 [--seconds S]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict[str, tuple[float, str]]:
    """The run's end-to-end metrics (for a traced run, from its span
    file) followed by its report lines, as name -> (value, unit)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, check=True, timeout=900,
    ).stdout.splitlines()
    if trace:
        path = next(ln.split(": ", 1)[1] for ln in out if ln.startswith("# spans: "))
        with open(path) as f:
            e2e = json.load(f)["end_to_end"]
    else:
        e2e = {k: m["value"] for k, m in json.loads(out[-1])["metrics"].items()}
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    values = {f"e2e.{k}": (v, units[k]) for k, v in e2e.items()}
    for ln in out:
        if ln.startswith(f"{workload} "):
            _, name, value, unit = ln.split()
            values[name] = (float(value), unit)
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=_spec()["run_seconds"])
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for name, (v0, unit) in plain.items():
        v1 = traced[name][0]
        rel = f"({(v1 - v0) / v0:+.1%})" if v0 else ""
        print(f"{name:28s} {v0:12.4g} {v1:12.4g} {v1 - v0:+16.4g} {unit} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
