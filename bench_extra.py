"""Round-6 optimization harness (guide §1: measure first).

NOT the driver bench — bench.py stays frozen. This file times each
declared query in isolation with the noop sink, optionally captures
.explain("formatted") into plans/r06/, and prints one JSON line of
per-query seconds. Used for before/after evidence in
OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--explain OUTDIR]
                        [--suffix _before] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to write explain('formatted') files")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--skip-prep-timing", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from jobs.stage_scaling import DEV_LOCK, PHASE_FACTOR, PhaseState
    from zensearch_spark.caching import release
    from zensearch_spark.session import default_sizing, get_spark

    # pause any concurrent scaling campaign while we measure (and
    # vice versa) — same cooperative lock bench.py holds
    try:
        with open(DEV_LOCK, "w") as f:
            f.write(f"bench_extra pid={os.getpid()}\n")
    except OSError:
        pass
    import atexit

    atexit.register(lambda: os.path.exists(DEV_LOCK) and os.unlink(DEV_LOCK))

    cores, _ = default_sizing()
    spark = get_spark(app="zensearch-bench-extra", cores=cores)
    sf_dir = args.sf

    out: dict[str, object] = {"sf_dir": sf_dir, "cores": cores}
    t0 = time.monotonic()
    entrymod.ensure_ann_index(spark, sf_dir)
    out["ann_build"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    entrymod.ensure_ivf_index(spark, sf_dir)
    out["ivf_build"] = round(time.monotonic() - t0, 3)
    print(f"[extra] prep: ann={out['ann_build']}s ivf={out['ivf_build']}s",
          file=sys.stderr, flush=True)

    phase = PhaseState()
    print(f"[extra] probe base {phase.base:.2f}s", file=sys.stderr, flush=True)
    qs = entrymod.queries()
    names = args.names or list(qs)
    timings: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            import contextlib
            import io

            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(
                    args.explain, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            release(df)
        walls = []
        probes = []
        for _ in range(args.reps):
            pre, _ok = phase.check()
            spark.sparkContext.setJobDescription(f"r06:{name}")
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 3))
            release(df)
            spark.sparkContext.setJobDescription(None)
            post, _ok = phase.check(settle_sec=0.5)
            probes.append((round(pre, 2), round(post, 2)))
        timings[name] = walls
        clean = [
            w for w, (a, b) in zip(walls, probes)
            if a <= PHASE_FACTOR * phase.base and b <= PHASE_FACTOR * phase.base
        ]
        print(f"[extra] {name}: min={min(walls)} all={walls} "
              f"probes={probes} clean_min={min(clean) if clean else None}",
              file=sys.stderr, flush=True)
    out["queries"] = {n: min(w) for n, w in timings.items()}
    out["all"] = timings
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
