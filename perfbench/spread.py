"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload corpus_full --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed, one after another, and prints
per metric the median of the runs and the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
that median, next to the metric's bound from BENCHMARK.json. The raw
results are appended to ``.perfbench/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.arith import quartile_spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = []
    log_path = os.path.join(ROOT, ".perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    for seed in parse_seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        with open(log_path, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(seed, res["correct"], {k: round(v["value"], 3) for k, v in res["metrics"].items()}, flush=True)

    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        bound = bounds.get(name)
        print(
            f"{name:14s} median {statistics.median(vals):10.3f}  spread {spread:6.3f}"
            + (f"  bound {bound}  bound/3 {bound / 3:.3f}" if bound is not None else "")
        )
    print("all correct:", all(r["correct"] for r in results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
