"""Benchmark of zensearch_spark: one command, two workloads.

    python3 perfbench/run.py --workload index|battery \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. Every run builds its inputs from the
seed in a fresh scratch root under ``.perfbench/`` and removes it at
the end. Standard output: a report of the workload's metrics (one
``<workload> <metric> <value> <unit>`` line each), then, as the last
line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` ``metrics`` holds the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics;
a traced run also writes its spans to ``.perfbench/traces/``.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import sys
import time
from dataclasses import dataclass, field

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import REPO, SparkProbe, Tracer, host_config, remove, start_spark, stop_spark  # noqa: E402

WORKLOADS = ("index", "battery")
STATE_DIR = os.path.join(REPO, ".perfbench")


@dataclass
class Run:
    """What a workload gets: the session, its sizing, a private
    scratch root, the run parameters and, in a traced run, the tracer
    and status-store probe. Workloads count every checked operation
    with ``check``."""

    spark: object
    cfg: dict
    work: str
    seed: int
    seconds: float
    size: str
    session_s: float
    tracer: Tracer | None = None
    probe: SparkProbe | None = None
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)  # traced runs: added to the span file

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED: {what}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(REPO, p))
        for p in ("zensearch_spark/__init__.py", "__spark_entry__.py",
                  "tests/oracle_bm25.py")
    )


def _fmt(v: float) -> str:
    return repr(float(v)) if math.isfinite(v) else "nan"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed serving loop of the index "
                         "workload; the other timed steps are a fixed "
                         "amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few hundred conversations / sf0.001 "
                         "(the self-test)")
    args = ap.parse_args(argv)

    if not _program_present():
        print("[perfbench] zensearch_spark sources not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    spec = _spec()

    work = os.path.join(STATE_DIR, f"run-{args.workload}-{os.getpid()}")
    remove(work)
    os.makedirs(work)
    cfg = host_config(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cfg)
        run = Run(spark, cfg, work, args.seed, args.seconds, args.size,
                  session_s=time.perf_counter() - t0)
        if args.trace:
            run.tracer = Tracer()
            run.probe = SparkProbe(spark)
        # (end-to-end metrics, the workload's named report metrics as
        # name -> (value, unit), per-layer metrics)
        wl = importlib.import_module(f"wl_{args.workload}")
        end_to_end, report, layers = wl.run(run)
    finally:
        if spark is not None:
            stop_spark(spark)
        remove(work)

    if args.trace:
        # every layer this workload owns must have been measured; only
        # the other workloads' layers read 0
        owned = wl.layer_names()
        defined = {m["name"] for m in spec["per_layer"]}
        missing = [n for n in owned if n not in layers]
        undefined = [n for n in owned if n not in defined]
        if missing or undefined:
            print(f"[perfbench] per-layer metrics not measured: {missing}; "
                  f"not in BENCHMARK.json: {undefined}", file=sys.stderr)
            return 1

    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} size={args.size} cores={cfg['cores']} "
          f"driver_mem={cfg['driver_mem']} local_dir={cfg['local_dir']}")
    error_frac = run.failed / run.attempted if run.attempted else 1.0
    rows = [("error_frac", error_frac, "ratio"), *(
        (k, v, u) for k, (v, u) in report.items())]
    for name, value, unit in rows:
        print(f"{args.workload} {name} {_fmt(value)} {unit}")

    if args.trace:
        kind = "per_layer"
        values = {m["name"]: layers[m["name"]] if m["name"] in owned else 0.0
                  for m in spec[kind]}
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        path = os.path.join(STATE_DIR, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "config": cfg,
                "end_to_end": end_to_end,
                "report": {k: v for k, v, _ in rows},
                "per_layer": values,
                "spans": run.tracer.to_json(),
                **run.extra,
            }, f, indent=1)
        print(f"# spans: {path}")
    else:
        kind = "end_to_end"
        values = {m["name"]: end_to_end[m["name"]] for m in spec[kind]}
    units = {m["name"]: m["unit"] for m in spec[kind]}
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
