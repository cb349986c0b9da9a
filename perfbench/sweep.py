"""Run the benchmark untraced over several seeds and summarise each metric.

Prints, per workload and metric, the median, the quartiles and the
spread (third minus first quartile, as a share of the median) of the
values over the seeds. Optionally writes the summary as JSON.

    python3 perfbench/sweep.py --workloads relational_short --seeds 1-10 [--json OUT]
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


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "n": len(values),
    }


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True, help="comma-separated")
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--json")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = str(json.load(fh)["run_seconds"])
    report: dict[str, dict] = {}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        failed = attempted = 0
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", seconds, "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            lines = out.stdout.strip().splitlines()
            print(lines[-2] if len(lines) > 1 else "", flush=True)
            res = json.loads(lines[-1])
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        report[wl] = {
            "failed": failed,
            "attempted": attempted,
            "metrics": {k: summarise(v) | {"values": v} for k, v in values.items()},
        }
        print(f"== {wl}: {failed}/{attempted} failed")
        for k, s in report[wl]["metrics"].items():
            print(f"  {k:45s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  q3 {s['q3']:10.4f}  spread {s['spread']:.3f}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
