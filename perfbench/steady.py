"""Steadiness check: two sets of runs of the same code, judged against
the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads copy_fanout,cdc_sync]
        [--runs 10] [--first-seed 1]

Each of two sets runs every workload ``--runs`` times, one seed per run
(first-seed, first-seed+1, ...; both sets use the same seeds), with
BENCHMARK.json's run_seconds. For every end-to-end metric it prints
the spread of each set, (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``, and the change of the second
set's median against the first's in the metric's worse direction. The
check fails when a run fails or is incorrect, when a spread exceeds
its bound, or when the second median is worse than
the first by more than the bound. Spreads above a third of the bound
are flagged as not steady enough. Every run's result goes to
``.perfbench_out/steady-<time>.json``.
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


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """Share by which ``second`` is worse than ``first`` (negative when
    it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    return (b - a) / a if better == "lower" else (a - b) / a


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"ok": False, "wall_s": wall, "error": proc.stderr[-2000:]}
    res = json.loads(lines[-1])
    res["ok"] = res["correct"] and res["failed"] == 0
    res["wall_s"] = wall
    res["report"] = lines[:-1]
    return res


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    results = {}
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for s in range(2):
            runs = []
            for r in range(args.runs):
                res = run_once(w, args.first_seed + r, spec["run_seconds"])
                print(f"{w} set {s + 1} seed {args.first_seed + r}: "
                      f"{'ok' if res['ok'] else 'FAILED'} in {res['wall_s']:.1f}s",
                      flush=True)
                ok &= res["ok"]
                runs.append(res)
            sets.append(runs)
        results[w] = sets
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in runs if r["ok"]] for runs in sets]
            if any(len(v) < 4 for v in vals):
                continue
            spreads = [spread(v) for v in vals]
            line = f"  {w:14s} {name:16s} bound {bound:.2f}  spreads " + " ".join(
                f"{x:.3f}" for x in spreads)
            if max(spreads) > bound:
                ok = False
                line += "  SPREAD OVER BOUND"
            elif max(spreads) > bound / 3:
                line += "  (above bound/3)"
            for later in vals[1:]:
                d = worse_by(vals[0], later, m["better"])
                line += f"  2nd median worse by {d:+.3f}"
                if d > bound:
                    ok = False
                    line += "  SHIFT OVER BOUND"
            print(line, flush=True)
    out = os.path.join(ROOT, ".perfbench_out", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"{'PASS' if ok else 'FAIL'}; runs in {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
