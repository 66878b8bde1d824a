"""Machinery shared by the three workloads: the hermetic run context,
the timed set-up, Spark job statistics, process-tree RSS sampling and
the in-memory span tracer.

Every path the benchmark writes (inputs, sinks, checkpoints, segment
stores, Spark local and warehouse dirs, JVM and Python temp files)
lives under one temp root inside the checkout, removed at exit.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, List

now = time.perf_counter


def median(xs: List[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: List[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def configure_environment(root: str, tmp: str, cpus: int) -> None:
    """Process-tree settings that must exist before the JVM starts.

    PYTHONPATH carries the checkout root so Python workers (the
    jsonl_tail DataSource reader, mapInPandas UDFs) can import
    transporter_spark and perfbench; without it they die with
    ModuleNotFoundError. TMPDIR and java.io.tmpdir keep native-library
    extraction and temp files inside the run's temp root.
    """
    jtmp = os.path.join(tmp, "jvm-tmp")
    ptmp = os.path.join(tmp, "py-tmp")
    for d in (jtmp, ptmp):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = ptmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # The driver runs at the engine's own memory setting, so the heap
    # grows only as far as the workload drives it.
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData "
        f"-Dderby.system.home={os.path.join(tmp, 'derby')}"
    )
    # spark-submit's short-lived launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


class Tracer:
    """Spans kept in memory, written once at exit. A span records its
    name, start, end, parent id and the workload iteration it belongs
    to; self time is its duration minus the part its children cover.
    Disabled tracers record nothing and cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self.iteration = 0
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = now()
        try:
            yield attrs
        finally:
            end = now()
            stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "parent": parent,
                    "iteration": self.iteration,
                    "name": name,
                    "start": start,
                    "end": end,
                    "attrs": attrs,
                }
            )

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A top-level span timed by the caller, for intervals that
        start and end on different threads (a change's due time to the
        commit that covers it)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "parent": None,
                               "iteration": self.iteration, "name": name,
                               "start": start, "end": end, "attrs": attrs})

    def with_self_times(self) -> List[dict]:
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.with_self_times(), fh, default=str)


def _anon_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss_Anon:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss(root_pid: int) -> Dict[str, int]:
    """Anonymous resident memory of ``root_pid`` and each of its
    descendants (the driver JVM and the Python workers are children of
    this process), as ``{"<command>:<pid>": bytes}``.

    Pages shared copy-on-write after a fork (Python workers forked from
    their daemon, a child caught between fork and exec) are split among
    the processes that share them (PSS), so the sum counts them once;
    summing plain RSS counted a forking JVM twice. File-backed pages
    (jars, shared libraries) are left out: the kernel drops them under
    memory pressure from outside the run, so counting them would make
    the figure depend on the host."""
    kids: Dict[int, List[int]] = {}
    comm: Dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        comm[int(name)] = head.split("(", 1)[1]
        kids.setdefault(int(tail.split()[1]), []).append(int(name))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            out[f"{comm.get(pid, '?')}:{pid}"] = _anon_bytes(pid)
        except OSError:
            continue
    return out


class RssSampler:
    """Background sampler of the process tree's peak RSS. Keeps the
    per-process figures of the peak sample for the report."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts: Dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = _tree_rss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 2**20


class Bench:
    """One benchmark run: arguments, temp root, session, operation
    counts and the metrics it reports."""

    def __init__(self, tmp: str, seed: int, seconds: float, trace: bool, scale: float):
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.notes: List[str] = []
        self.e2e: Dict[str, float] = {}
        self.layers: Dict[str, float] = {}
        self.samples: Dict[str, float] = {}
        #: open-loop validity figures, reported but not bounded
        self.validity: Dict[str, float] = {}
        self._groups = itertools.count()

    # -- operation accounting ------------------------------------------
    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"failed: {what}")
        return ok

    def check(self, ok: bool, what: str) -> bool:
        """A correctness check: counts as an operation and clears
        ``correct`` when it fails."""
        if not self.op(ok, what):
            self.correct = False
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    # -- session and set-up --------------------------------------------
    def start_session(self):
        from transporter_spark.session import get_spark

        t0 = now()
        self.spark = get_spark(
            "perfbench",
            **{
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the live phase maps every epoch to its source offset
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
            },
        )
        self.session_s = now() - t0
        return self.spark

    def setup(self, prepare: Callable[[str], object],
              warm: Callable[[object], None]) -> object:
        """Starts the session (JVM launch included), generates the
        inputs and runs one cold warm-up pass; ``setup_s`` is the sum,
        so first-pass costs (codegen, JIT, Python worker and node
        start) show in it. Returns the inputs."""
        self.start_session()
        t0 = now()
        inputs = prepare(self.path("input"))
        t1 = now()
        warm(inputs)
        t2 = now()
        self.setup_s = self.session_s + (t2 - t0)
        self.setup_parts = {"session": self.session_s, "inputs": t1 - t0, "warm_up": t2 - t1}
        return inputs

    # -- Spark job statistics ------------------------------------------
    @contextmanager
    def job_group(self, name: str):
        """Tags the calling thread's Spark jobs; on exit fills the
        yielded dict with the jobs, their wall times (``job_s``), tasks,
        failed tasks, scan stages (stages that read input records) and
        their tasks, input records and output bytes."""
        stats: dict = {}
        sc = self.spark.sparkContext
        gid = f"{name}-{next(self._groups)}"
        sc.setJobGroup(gid, name)
        try:
            yield stats
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            stats.update(self._group_stats(gid))

    def _group_stats(self, gid: str) -> dict:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(10000)
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict(jobs=0, job_s=[], tasks=0, failed_tasks=0, scan_stages=0,
                   scan_tasks=0, input_records=0, output_bytes=0)
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            try:
                job = store.job(jid)
                start, end = job.submissionTime(), job.completionTime()
                if start.isDefined() and end.isDefined():
                    out["job_s"].append((end.get().getTime() - start.get().getTime()) / 1000.0)
            except Py4JJavaError:  # evicted from the status store
                pass
            for sid in info.stageIds:
                try:
                    d = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped or evicted
                    continue
                out["tasks"] += d.numTasks()
                out["failed_tasks"] += d.numFailedTasks()
                if d.inputRecords() > 0:
                    out["scan_stages"] += 1
                    out["scan_tasks"] += d.numTasks()
                out["input_records"] += d.inputRecords()
                out["output_bytes"] += d.outputBytes()
        return out

    def overhead(self, plain: List[float], traced: List[float]) -> None:
        """Tracing overhead: traced minus untraced operation time of
        the same run, as a percentage of the untraced median."""
        if plain and traced:
            base = median(plain)
            self.layers["trace.overhead_pct"] = 100.0 * (median(traced) - base) / base

    def close(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None


#: per-layer metric -> the job-group statistic it reports
JOB_LAYERS = {
    "sources.files.rows": "input_records",
    "sources.files.tasks": "scan_tasks",
    "plans.pipeline.source_scans": "scan_stages",
    "plans.pipeline.jobs": "jobs",
    "plans.pipeline.tasks": "tasks",
    "plans.pipeline.failed_tasks": "failed_tasks",
    "plans.pipeline.bytes_written": "output_bytes",
}


def add_job_layers(layers: Dict[str, List[float]], stats: dict) -> None:
    for name, key in JOB_LAYERS.items():
        layers.setdefault(name, []).append(stats[key])


def medians(layers: Dict[str, List[float]]) -> Dict[str, float]:
    return {name: median(xs) for name, xs in layers.items() if xs}


def noop_write(df) -> None:
    """Runs a plan to completion without a real sink (staged actions)."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def quiet_stdout():
    """Pipeline.run prints its metrics event; keep the benchmark's own
    standard output to its report."""
    import contextlib
    import io

    return contextlib.redirect_stdout(io.StringIO())

