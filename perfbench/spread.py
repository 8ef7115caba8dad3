"""Run the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median - the
steadiness test a metric's ``bound`` in BENCHMARK.json must pass.

    python3 perfbench/spread.py --workload sync_trickle --seeds 1-10
    python3 perfbench/spread.py --workload query_mix --seeds 1-5 --trace 1

Runs are sequential, from the repository root. Each run's JSON line is
appended to ``.bench_out/spread-<workload>-trace<t>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    os.makedirs(".bench_out", exist_ok=True)
    log = os.path.join(".bench_out",
                       f"spread-{args.workload}-trace{args.trace}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall,
                                 "report": lines[:-1], **res}) + "\n")
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"{k:32s} median={med:.6g} spread={spread:.4f}"
              + (f" bound={b} (<= bound/3: {spread <= b / 3})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
