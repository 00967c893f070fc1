"""Run the benchmark over several seeds and report each metric's median,
quartiles and spread (inter-quartile distance / median).

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S] [--trace 0]

Runs one at a time, from the checkout root, and appends every raw result
to ``.bench_work/spread.jsonl``. ``--seconds`` defaults to BENCHMARK.json's
``run_seconds``.
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
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = str(json.load(f)["run_seconds"])
    parser.add_argument("--seconds", default=run_seconds)
    parser.add_argument("--trace", default="0")
    args = parser.parse_args()
    results = []
    out_path = os.path.join(ROOT, ".bench_work", "spread.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        env = json.loads(lines[-2])["env"]
        res.update(workload=args.workload, seed=seed, wall_s=wall, env=env)
        results.append(res)
        with open(out_path, "a") as f:
            f.write(json.dumps(res) + "\n")
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed:3d} wall {wall:6.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              f"steal={env['cpu_steal_share']:.3f} {vals}", flush=True)
    if len(results) < 2:
        return 0
    print(f"\n{'metric':24s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        print(f"{name:24s} {q2:10.4f} {q1:10.4f} {q3:10.4f} {(q3 - q1) / q2:8.3f}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed shares: {sorted(shares)}; wall max {max(r['wall_s'] for r in results):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
