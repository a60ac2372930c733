"""Interleaved A/B of the workload benchmark between two checkouts.

    python tools/perfbench_ab.py A_DIR B_DIR [--pairs 10] [--seconds 20] \
        [--seed0 1] [--workload NAME ...] [--out runs.jsonl]

Each pair runs ``perfbench/run.py --trace 0`` once in A and once in B
with the pair's own seed (``seed0 + pair``), alternating which side
goes first so that a drifting host does not favour one side. Each run is
a fresh process in its own checkout; nothing here imports perfbench.
Per workload and end-to-end metric (names and directions from A's
``BENCHMARK.json``) it prints each side's median and q1/q3, the B/A
median ratio, and the pairs B won; then each side's failed/attempted
requests and how many runs were not ``correct``. ``--out`` appends
every run's result line as JSON, one per line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``: its last stdout line, parsed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.splitlines()[-20:])
        raise RuntimeError(f"{checkout}: run.py exited {proc.returncode}\n{tail}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload: str, pairs: list[dict], better: dict[str, str]) -> list[str]:
    out = [f"{workload}: {len(pairs)} pairs"]
    for name, direction in better.items():
        a = [p["A"]["metrics"][name]["value"] for p in pairs]
        b = [p["B"]["metrics"][name]["value"] for p in pairs]
        sign = 1 if direction == "higher" else -1
        won = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        ratio = f"{bm / am - 1:+.1%}" if am else "n/a"
        out.append(
            f"  {name} ({direction} is better): A {am:.4g} [q1 {a1:.4g}, q3 {a3:.4g}]"
            f"  B {bm:.4g} [q1 {b1:.4g}, q3 {b3:.4g}]  B/A {ratio}"
            f"  B won {won}/{len(pairs)}; A IQR {a3 - a1:.4g}, |median diff| {abs(bm - am):.4g}"
        )
    for side in ("A", "B"):
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        bad = sum(not p[side]["correct"] for p in pairs)
        out.append(f"  {side}: failed/attempted {failed}/{attempted}, runs not correct {bad}")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("a", help="checkout A (the baseline)")
    p.add_argument("b", help="checkout B (the change)")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workload", action="append", default=None,
                   help="repeatable; default every workload of A's BENCHMARK.json")
    p.add_argument("--out", default=None, help="append each run's result as JSON lines")
    args = p.parse_args(argv)

    with open(os.path.join(args.a, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}

    report = []
    for workload in workloads:
        pairs = []
        for k in range(args.pairs):
            seed = args.seed0 + k
            order = ("A", "B") if k % 2 == 0 else ("B", "A")
            pair = {}
            for side in order:
                pair[side] = run_once(sides[side], workload, seed, args.seconds)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps({"workload": workload, "seed": seed,
                                            "side": side, "first": order[0],
                                            **pair[side]}) + "\n")
            pairs.append(pair)
            a, b = (pair[s]["metrics"] for s in ("A", "B"))
            print(f"{workload} seed {seed} ({order[0]} first): "
                  + "  ".join(f"{n} {a[n]['value']:.4g}->{b[n]['value']:.4g}" for n in better),
                  file=sys.stderr, flush=True)
        report += summarize(workload, pairs, better)
    print("\n".join(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
