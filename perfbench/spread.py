"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload range_query --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every end-to-end metric its median over the runs and its spread:
the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
A spread at or above a third of the metric's bound in BENCHMARK.json
is flagged (setup_s is exempt: its runs are compared by median only).
Each run's result line is appended to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import iqr_share  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("1-10"))
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, f"spread-{args.workload}.jsonl")

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append(res)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall,
                                "result": res}) + "\n")
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              flush=True)

    ok = all(r["correct"] for r in runs)
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        spread = iqr_share(values) if len(values) > 1 else 0.0
        flag = ""
        if name != "setup_s" and spread >= bounds[name] / 3:
            flag = "  <-- spread >= bound/3"
            ok = False
        print(f"{name:28s} median {statistics.median(values):14.4f} "
              f"spread {spread:.4f} bound {bounds[name]}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
