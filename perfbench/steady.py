"""Steadiness check: run each workload once per seed, untraced, and
report every end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1] \
        [--workload NAME ...] [--out .perfbench_out/steady.json]

The spread is the distance between the first and third quartile of the
per-run values (``statistics.quantiles(values, n=4)``) as a share of their
median. A metric is steady when its spread is below a third of its bound;
``setup_s`` is reported but not held to that. Runs are sequential, one
process at a time, from the repository root.
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


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    p.add_argument("--out", default=os.path.join(".perfbench_out", "steady.json"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    ok_all = True
    for wl in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            wall = time.perf_counter() - t
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            info = json.loads(lines[-2]) if res and len(lines) > 1 else {}
            runs.append({"seed": seed, "wall_s": wall, "result": res, "info": info})
            status = "ok" if res and res["correct"] else f"FAILED rc={proc.returncode}"
            values = {k: round(v["value"], 4) for k, v in (res or {}).get("metrics", {}).items()}
            print(f"{wl} seed={seed} {wall:.1f}s {status} {values}", file=sys.stderr)
            if res is None:
                sys.stderr.write(proc.stderr[-2000:])
        good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if len(vals) < 2:
                metrics[m["name"]] = {"values": vals, "steady": False}
                continue
            s = spread(vals)
            steady = m["name"] == "setup_s" or s < m["bound"] / 3
            metrics[m["name"]] = {
                "median": statistics.median(vals), "spread": round(s, 4),
                "bound": m["bound"], "steady": steady, "values": vals,
            }
        correct = len(good) == len(runs)
        ok_all &= correct and all(v["steady"] for v in metrics.values())
        report["workloads"][wl] = {
            "runs": len(runs), "correct_runs": len(good), "run_info": [r["info"] for r in runs],
            "wall_s_max": max(r["wall_s"] for r in runs),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs),
            "metrics": metrics,
        }
    out = os.path.join(ROOT, args.out)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    for wl, r in report["workloads"].items():
        print(f"{wl}: {r['correct_runs']}/{r['runs']} correct, "
              f"wall median {r['wall_s_median']:.1f}s max {r['wall_s_max']:.1f}s")
        for name, m in r["metrics"].items():
            if "spread" in m:
                print(f"  {name:12s} median {m['median']:.4g}  spread {m['spread']:.3f}"
                      f"  bound {m['bound']}  {'steady' if m['steady'] else 'NOT STEADY'}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
