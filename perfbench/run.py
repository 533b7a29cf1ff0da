"""Benchmark entry point: one workload, one JSON result line.

    python3 perfbench/run.py --workload stream_window --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` repeats the timed section with spans recorded around the
engine's public calls and prints the per-layer metrics (see LAYERS.md).
Host context, per-epoch and per-query detail and the spans are written to
``.perfbench/results/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# run_s (drain or pass wall time) and op_s_p75 are also measured and kept
# in the result artifact: rows_per_s carries run_s, and ~9 epochs or 10
# queries per run leave too few samples above a 75th percentile for it to
# hold a bound on a shared host
END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "1/s",
}


def prepare_env() -> str:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import ``arroyo_spark`` (they start from a fresh
    interpreter that only sees PYTHONPATH)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if o
    )
    sys.path.insert(0, ROOT)
    return tmp


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("stream_window", "batch_operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)

    prepare_env()
    from perfbench import host, workloads  # noqa: E402 — needs prepare_env's sys.path

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    load_before = os.getloadavg()
    try:
        out = workloads.run(args, run_dir, started)
    finally:
        host.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    context = dict(
        out.context,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        size=args.size,
        nproc=host.nproc(),
        loadavg_before=load_before,
        loadavg_after=os.getloadavg(),
    )
    if args.trace:
        try:
            context["mem_bandwidth_gbps"] = host.mem_bandwidth()
        finally:
            host.stop_children()
    units = END_TO_END if not args.trace else workloads.PER_LAYER
    missing = set(units) - set(out.metrics)
    if missing:
        raise RuntimeError(f"workload did not measure {sorted(missing)}")
    result = {
        "correct": not out.problems and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": out.metrics[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    artifact = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as f:
        json.dump(dict(result, context=context, problems=out.problems, detail=out.detail), f, indent=1)
    for p in out.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"context": context, "artifact": os.path.relpath(artifact, ROOT)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, never its files
    # as top-level modules
    sys.path[0] = ROOT
    sys.exit(main())
