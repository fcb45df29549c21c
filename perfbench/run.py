"""Benchmark entry point.

    python3 perfbench/run.py --workload encode_mix --seed 1 --seconds 15 --trace 0

Generates the workload's input from ``--seed``, starts a Spark session
on local[nproc] through ``lindel_spark.session``, runs the workload's
ops in one closed loop (one client, next op after the previous one
returns) for ``--seconds``, checks every result, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` reports its per-layer
metrics (half the time untraced, half traced, and the difference as
tracing overhead) and leaves the spans under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("encode_mix", "range_query")


def declared_metrics(section: str) -> dict[str, str]:
    """name -> unit for one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lindel_spark", "__init__.py")):
        print(f"perfbench: no lindel_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common, harness

    workload = importlib.import_module(f"perfbench.{args.workload}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.pin_environment(ROOT, work)
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark()
        session_s = time.perf_counter() - t0
        ctx = common.Context(spark, args.seed, args.seconds, bool(args.trace),
                             work, os.path.join(ROOT, ".perfbench_out"))
        try:
            res = workload.run(ctx)
        finally:
            harness.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:   # another run's scratch dir is still there
            pass

    ops = res["ops"]
    failed = sum(not o.ok for o in ops)
    setup_s = session_s + sum(ctx.setup_parts.values())
    if args.trace:
        values = dict(res["layer"])
        values["session.start_s"] = session_s
        values.update({f"setup.{k}": v for k, v in ctx.setup_parts.items()})
        values.update({f"input.{k}": v for k, v in res["input"].items()})
        values.update({f"samples.{k}": v for k, v in res["samples"].items()})
        units = declared_metrics("per_layer")
    else:
        values = {"setup_s": setup_s, **res["metrics"]}
        units = declared_metrics("end_to_end")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"setup_s={setup_s:.3f} error_rate="
          f"{failed / len(ops) if ops else 1.0:.4f} "
          f"input={json.dumps(res['input'])} "
          f"samples={json.dumps(res['samples'])} "
          f"latency={json.dumps(res['summaries'])} "
          f"setup_parts={json.dumps(ctx.setup_parts)}")
    missing = sorted(k for k in units if values.get(k) is None)
    undeclared = sorted(set(values) - set(units))
    if undeclared:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: "
                         f"{undeclared}")
    if missing:
        # every declared metric or no result line at all
        raise SystemExit(f"perfbench: no value for {missing}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({
        "correct": failed == 0 and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
