"""Smoke self-test of the benchmark, at a tiny input size:

    python3 perfbench/smoke.py [workload ...]

Runs every workload (or the named ones) untraced and traced with
``--scale 0.05 --seconds 6`` (cdc_sync's live-backlog check needs a
live phase several epochs long) and checks that each exits 0 with a
result line of exactly the keys correct, attempted, failed and
metrics, ``correct`` true, no failed operation (the correctness gates
included) and every metric of BENCHMARK.json with its unit;
end-to-end values must be positive. Then checks that the
command exits non-zero without a result in a directory holding only
BENCHMARK.json and perfbench/. Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd, workload, trace, scale="0.05", seconds="6"):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", seconds, "--trace", str(trace), "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def check_result(proc, wanted) -> list:
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-1500:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True:
        errors.append("correct is not true")
    if res.get("failed") != 0 or not res.get("attempted", 0) >= 1:
        errors.append(f"attempted {res.get('attempted')} failed {res.get('failed')}")
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in wanted}:
        errors.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not math.isfinite(v.get("value", math.nan)):
            errors.append(f"{m['name']}: {v}")
        elif "bound" in m and v["value"] <= 0:
            errors.append(f"{m['name']} is not positive: {v['value']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    for w in sys.argv[1:] or [x["name"] for x in spec["workloads"]]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            errors = check_result(_run(ROOT, w, trace), wanted)
            print(f"{w} trace={trace}: {'ok' if not errors else errors}", flush=True)
            failures += errors

    bare = os.path.join(ROOT, ".perfbench_tmp", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    bare_ok = proc.returncode != 0 and not proc.stdout.strip()
    print(f"bare directory: exit {proc.returncode}, {'ok' if bare_ok else 'printed a result'}")
    if not bare_ok:
        failures.append("bare directory run did not fail cleanly")

    print("PASS" if not failures else f"FAIL ({len(failures)} problems)")
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
