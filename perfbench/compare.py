"""Paired comparison of two checkouts with the same benchmark code.

    python3 perfbench/compare.py --parent ../parent --change .

Both sides run this copy of ``perfbench/run.py``, each from the root
of its own checkout (so each measures its own program), with the
settings of this checkout's ``BENCHMARK.json``, on every workload it
names. Each workload gets ten pairs of runs; pair ``i`` uses seed
``SEED + i`` on both sides and alternates which side runs first.

For every workload and end-to-end metric it prints each side's median
and quartiles and a verdict:

- ``better``: the change won at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own
  quartile spread;
- ``WORSE``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: either side's quartile spread, as a share of its
  median, is wider than the bound, unless every change run beat every
  parent run;
- ``same``: none of these.

Runs that fail their output checks are listed; a side with failed ops
cannot be called better.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
PAIRS = 10
SEED = 1000


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} failed in {checkout}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(parent: list[float], change: list[float], bound: float, higher: bool) -> tuple[str, int]:
    sign = 1.0 if higher else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 9 and abs(cm - pm) > (p3 - p1) and sign * (cm - pm) > 0:
        return "better", wins
    if sign * (pm - cm) > bound * abs(pm):
        return "WORSE", wins
    if not all_better and max((p3 - p1) / pm, (c3 - c1) / cm) > bound:
        return "unresolved", wins
    return "same", wins


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", required=True, help="root of the changed checkout")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    print(f"{'workload':18s} {'metric':10s} {'parent median [q1, q3]':34s} "
          f"{'change median [q1, q3]':34s} {'wins':>6s}  verdict")
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(getattr(args, side), w, SEED + i, bench["run_seconds"])
                if not res["correct"] or res["failed"]:
                    print(f"  {w} {side} seed {SEED + i}: "
                          f"{res['failed']}/{res['attempted']} ops failed, correct={res['correct']}")
                runs[side].append(res)
        change_failed = any(r["failed"] or not r["correct"] for r in runs["change"])
        for m in metrics:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in runs[s]] for s in runs}
            v, wins = verdict(vals["parent"], vals["change"], m["bound"], m["better"] == "higher")
            if v == "better" and change_failed:
                v = "not better: change has failed ops"
            cols = []
            for s in ("parent", "change"):
                q1, med, q3 = quartiles(vals[s])
                cols.append(f"{med:.4f} [{q1:.4f}, {q3:.4f}] {m['unit']}")
            print(f"{w:18s} {m['name']:10s} {cols[0]:34s} {cols[1]:34s} "
                  f"{wins:>3d}/{PAIRS:<2d}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
