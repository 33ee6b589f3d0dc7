#!/usr/bin/env python3
"""A/B the repository benchmark (perfbench/run.py) between two checkouts.

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR \\
        --workload curation_batch --seeds 21-30 [--json ab.json]

For each seed it runs `python3 perfbench/run.py --workload W --seed N` in
both checkouts, one after the other, and alternates which side runs first
(the parent on even pair indexes, the change on odd ones), so a drift in
box load lands on both sides. Each checkout builds into its own
`.bench_build/`. Then it prints, per end-to-end metric of BENCHMARK.json,
each side's median and quartiles, the change's median shift, and on how
many pairs the change was better (direction from the metric's `better`).
The runs are untraced, at the benchmark's own run length. A run that exits
non-zero or reports failed operations is shown and left out of the
statistics. Standard library only.
"""
from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

# one workload per run: with `--workload all`, run.py prefixes every
# metric name with its workload
WORKLOADS = ["olap_star", "curation_batch", "store_maintenance"]


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_side(root: Path, workload: str, seed: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {root}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(q: tuple[float, float, float]) -> str:
    return "/".join(f"{v:.4g}" for v in q)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 3,5,8")
    ap.add_argument("--json", type=Path, default=None,
                    help="also write every run's final line here")
    a = ap.parse_args()
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    pairs: list[dict] = []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(sides[side], a.workload, seed)
        ok = all(pair[s] is not None and pair[s]["failed"] == 0 for s in sides)
        pair["ok"] = ok
        pairs.append(pair)
        shown = {s: {k: v["value"] for k, v in pair[s]["metrics"].items()}
                 if pair[s] else None for s in sides}
        print(f"seed {seed} ({order[0]} first){'' if ok else ' FAILED'}: "
              f"parent {shown['parent']} change {shown['change']}", flush=True)
    if a.json:
        a.json.write_text(json.dumps(pairs, indent=1) + "\n")

    good = [p for p in pairs if p["ok"]]
    print(f"\n{a.workload}: {len(good)} of {len(pairs)} pairs usable")
    if not good:
        sys.exit(1)
    print(f"{'metric':32} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'shift':>8} {'wins':>6}")
    for name, direction in better.items():
        vals = {s: [p[s]["metrics"][name]["value"] for p in good] for s in sides}
        wins = sum((c > pa) if direction == "higher" else (c < pa)
                   for pa, c in zip(vals["parent"], vals["change"]))
        qp, qc = quartiles(vals["parent"]), quartiles(vals["change"])
        shift = (qc[1] - qp[1]) / qp[1] if qp[1] else float("nan")
        print(f"{name:32} {fmt(qp):>30} {fmt(qc):>30} {shift:>+8.1%} "
              f"{wins:>3}/{len(good)}")


if __name__ == "__main__":
    main()
