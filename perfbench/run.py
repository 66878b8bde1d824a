"""Benchmark command:

    python3 perfbench/run.py --workload <copy_fanout|udf_transform|cdc_sync>
        --seed <n> --seconds <s> --trace <0|1> [--scale <x>]

Run from the root of a checkout. Inputs are generated from the seed;
the run sets up once (session start, inputs, a cold warm-up pass),
measures for about ``--seconds``, checks
every output against a reference, and prints a readable report then,
as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of BENCHMARK.json; with ``--trace 1`` the per-layer
ones, and the spans go to ``.perfbench_out/``. ``--scale`` shrinks
the inputs (the smoke test uses it); results at other scales are not
comparable with the default.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("copy_fanout", "udf_transform", "cdc_sync")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=1.0)
    return ap.parse_args(argv)


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it, so the run
    leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "transporter_spark", "__init__.py")):
        print("perfbench: no transporter_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    from perfbench import harness

    cpus = len(os.sched_getaffinity(0))
    harness.configure_environment(ROOT, tmp, cpus)
    module = importlib.import_module(f"perfbench.{args.workload}")
    b = harness.Bench(tmp, args.seed, args.seconds, bool(args.trace), args.scale)
    rss = harness.RssSampler().start()
    try:
        module.run(b)
        if b.trace:
            b.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            b.close()
            _stop_jvm()
        finally:
            peak_mb = rss.stop()
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:  # another run's temp root is still there
                pass

    e2e = dict(b.e2e, setup_s=b.setup_s, peak_rss_mb=peak_mb)
    layers = dict(b.layers)
    layers["session.start_s"] = b.session_s
    wanted = spec["per_layer"] if b.trace else spec["end_to_end"]
    source = layers if b.trace else e2e
    metrics = {}
    for m in wanted:
        # a layer this workload does not exercise did no work
        value = source.get(m["name"], 0.0 if b.trace else None)
        if value is None:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={cpus} scale={args.scale}")
    print("# set-up (s): " + " ".join(f"{k}={v:.3f}" for k, v in b.setup_parts.items()))
    for k, v in sorted(b.samples.items()):
        print(f"# sample {k}: {v}")
    shown = dict(e2e, failed_ops_ratio=b.failed / max(1, b.attempted),
                 **b.validity)
    if b.trace:
        shown = dict(layers)
    for k, v in sorted(shown.items()):
        print(f"# {k} = {v:.6g}")
    print("# peak RSS by process (MB): " + " ".join(
        f"{k}={v / 2**20:.0f}" for k, v in sorted(rss.peak_parts.items())))
    for note in b.notes[:20]:
        print(f"# {note}")
    print(json.dumps({"correct": b.correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
