"""Run the benchmark on several seeds and report the spread of each
end-to-end metric: the distance between the first and third quartile of
its values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workloads nvd_mirror,...] [--out FILE]

Runs are made one after another from the checkout root, untraced, with
BENCHMARK.json's ``run_seconds``. Exits 1 if a run fails or reads
incorrect.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w for w in args.workloads.split(",") if w] or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"seeds": _seeds(args.seeds), "run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for workload in workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in report["seeds"]:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                print(proc.stderr[-3000:], file=sys.stderr)
                ok = False
                continue
            result = json.loads(lines[-1])
            ok &= result["correct"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: {walls[-1]:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        summary = {
            name: {"median": statistics.median(v), "spread": spread(v), "bound": bounds[name], "values": v}
            for name, v in values.items() if len(v) >= 2
        }
        report["workloads"][workload] = {"metrics": summary, "wall_s": walls}
        for name, s in summary.items():
            print(f"{workload:14s} {name:18s} median {s['median']:.4g}  spread {s['spread']:.3f}"
                  f"  (bound {s['bound']}, a third {s['bound'] / 3:.3f})")
        print(f"{workload:14s} wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
