"""cdc_sync — transporter's tail mode.

A seeded change log (insert/update/delete over Zipf keys, with
out-of-order and re-delivered changes) is appended to a file read by
the ``jsonl_tail`` source, wrapped in the envelope and applied by
``cdc_upsert_sink(keys, compact_every=k)`` onto a SegmentStore.

- Set-up: the stream starts, drains WARM_LINES changes and its table
  is read once; the measured phases run on this same stream.
- Phase A, catch-up: bursts of changes, each appended at once to the
  running stream's feed and drained as fast as it goes; per-row cost
  shows here.
- Phase B, live: an open loop for the rest of ``--seconds`` (catch-up
  takes about CATCHUP_S of it). One generator thread
  appends a chunk on a fixed schedule (LIVE_RATE changes/s, well below
  catch-up capacity) and a reader thread issues
  ``read_cdc_table(...).count()`` on a fixed schedule beside the
  writes. Lag runs from each chunk's *due* time to the SegmentStore
  commit that covers its last byte, so a stalled generator cannot hide
  a stall of the system. The fixed per-epoch cost of source, sink,
  manifest and checkpoint shows here, and merge-on-read against
  compaction shows in the reads.

None of ``operators.transforms`` runs here.
"""

from __future__ import annotations

import json
import os
import re
import threading

from perfbench import gen
from perfbench.harness import Bench, dir_bytes, median, now, percentile

#: distinct keys and changes per catch-up burst at scale 1.0
KEYS = 5_000
BURST = 12_000
#: live phase: changes per second, chunks per run, reads per second
LIVE_RATE = 400
LIVE_CHUNKS = 120
READS_PER_S = 2.0
COMPACT_EVERY = 8
CATCHUPS = 3
#: changes the set-up's warm-up feeds the stream (JIT, Python worker
#: and first-epoch warm-up)
WARM_LINES = 1_000
COVER_TIMEOUT_S = 30.0
#: the catch-up phase's usual length; the live phase takes the rest of
#: ``--seconds``, but at least LIVE_MIN_S
CATCHUP_S = 6.0
LIVE_MIN_S = 6.0


class Recorder:
    """Wrappers installed from this file around SegmentStore.commit,
    compact_cdc_table and the sink function. Commit times are always
    kept (the lag needs them); spans, durations and segment sizes only
    while the tracer is enabled. The sink runs on the stream's callback
    thread, so an epoch's spans nest there: epoch.apply > state.commit,
    cdc.compact."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.commits = {}  # (store base, epoch) -> end of its first commit
        self.commit_ms, self.apply_s, self.compact_s = [], [], []
        self.delta_rows = {}  # (store base, epoch) -> rows in its segment

    def install(self):
        from transporter_spark.streaming import cdc, state

        self._orig = (state.SegmentStore.commit, cdc.compact_cdc_table)
        orig_commit, orig_compact = self._orig
        rec, tracer = self, self.tracer

        def commit(store, epoch, tables=None, keyed=None, meta=None):
            with tracer.span("state.commit", epoch=int(epoch)):
                t0 = now()
                orig_commit(store, epoch, tables=tables, keyed=keyed, meta=meta)
                t1 = now()
            rec.commits.setdefault((store.base, int(epoch)), t1)
            if tracer.enabled:
                rec.commit_ms.append((t1 - t0) * 1000.0)
                new = (tables or {}).get("delta", [])
                if new and new[-1] == f"delta-e{epoch}":
                    rec.delta_rows[(store.base, int(epoch))] = _parquet_rows(
                        store.seg_path(new[-1]))

        def compact(*a, **kw):
            with tracer.span("cdc.compact"):
                t0 = now()
                try:
                    return orig_compact(*a, **kw)
                finally:
                    if tracer.enabled:
                        rec.compact_s.append(now() - t0)

        state.SegmentStore.commit = commit
        cdc.compact_cdc_table = compact
        return self

    def uninstall(self):
        from transporter_spark.streaming import cdc, state

        state.SegmentStore.commit, cdc.compact_cdc_table = self._orig

    def wrap_sink(self, sink):
        def timed(batch, epoch_id):
            with self.tracer.span("epoch.apply", epoch=int(epoch_id)):
                t0 = now()
                sink(batch, epoch_id)
            if self.tracer.enabled:
                self.apply_s.append(now() - t0)

        return timed


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _end_pos(progress: dict) -> int:
    """The jsonl_tail byte offset an epoch ended at (the progress
    report renders the source's offset dict as text)."""
    m = re.search(r"pos\W*(\d+)", str(progress["sources"][0]["endOffset"]))
    return int(m.group(1)) if m else 0


class Stream:
    """One jsonl_tail -> envelope -> cdc_upsert_sink query with its own
    feed file, checkpoint and segment store."""

    def __init__(self, b: Bench, rec: Recorder, name: str, lines: list):
        self.b, self.rec = b, rec
        self.feed = b.path(name, "feed.jsonl")
        self.store = b.path(name, "store")
        self.ckpt = b.path(name, "ckpt")
        os.makedirs(os.path.dirname(self.feed), exist_ok=True)
        open(self.feed, "wb").close()
        self.append(lines)
        self.query = None

    def append(self, lines: list) -> int:
        """Appends the lines in one write; returns the feed's end byte."""
        with open(self.feed, "ab") as fh:
            if lines:
                fh.write(("\n".join(lines) + "\n").encode())
            return fh.tell()

    def start(self):
        from pyspark.sql import functions as F

        from transporter_spark.envelope import to_envelope
        from transporter_spark.streaming.cdc import cdc_upsert_sink

        spark = self.b.spark
        raw = (spark.readStream.format("jsonl_tail")
               .option("path", self.feed).option("ns", "cdc").load())
        parsed = raw.select(
            "op", "ts", F.from_json("json", gen.CDC_PAYLOAD).alias("d")
        ).select("op", "ts", "d.*")
        env = to_envelope(parsed, ns="cdc", ts_col="ts", op_col="op")
        sink = self.rec.wrap_sink(
            cdc_upsert_sink(spark, self.store, keys=["id"], compact_every=COMPACT_EVERY))
        self.query = (env.writeStream.foreachBatch(sink)
                      .option("checkpointLocation", self.ckpt).start())
        return self

    def commit_time(self, pos: int):
        """Time of the SegmentStore commit of the first epoch whose end
        offset reaches byte ``pos`` (None while not yet covered)."""
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0 and _end_pos(p) >= pos:
                t = self.rec.commits.get((self.store, int(p["batchId"])))
                if t is not None:
                    return t
        return None

    def wait_covered(self, pos: int):
        deadline = now() + COVER_TIMEOUT_S
        while now() < deadline:
            t = self.commit_time(pos)
            if t is not None:
                return t
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            threading.Event().wait(0.01)
        return None

    def epochs(self) -> list:
        """Progress of the epochs that carried input, by batch id."""
        seen = {}
        for p in self.query.recentProgress:
            if p["numInputRows"] > 0:
                seen.setdefault(int(p["batchId"]), p)
        return [seen[k] for k in sorted(seen)]

    def stop(self):
        if self.query is not None:
            self.query.stop()


def _lww_reference(con, lines: list):
    """Last-writer-wins over the whole log by DuckDB: the newest change
    per key by event time, deletes removed."""
    import pyarrow as pa

    rows = [json.loads(x) for x in lines]
    table = pa.table({
        "op": [r["op"] for r in rows],
        "ts": [r["ts"] for r in rows],
        "id": [r["data"]["id"] for r in rows],
        "v": [r["data"]["v"] for r in rows],
        "name": [r["data"]["name"] for r in rows],
        "seq": [r["data"]["seq"] for r in rows],
    })
    con.register("changelog", table)
    out = con.execute("""
        SELECT id, v, name, seq FROM (
          SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY CAST(ts AS TIMESTAMP) DESC) AS rn
          FROM changelog)
        WHERE rn = 1 AND op <> 'delete'
    """).fetchall()
    con.unregister("changelog")
    return sorted(out)


def _table_rows(spark, store: str):
    from transporter_spark.streaming.cdc import read_cdc_table

    return sorted(tuple(r) for r in read_cdc_table(spark, store)
                  .select("id", "v", "name", "seq").collect())


def run(b: Bench) -> dict:
    from transporter_spark.sources.datasource import JsonlTailDataSource
    from transporter_spark.streaming.cdc import read_cdc_table

    keys = max(50, int(KEYS * b.scale))
    n_burst = max(200, int(BURST * b.scale))
    # traced runs drain one more burst: untraced and traced ones alternate
    rounds = CATCHUPS + (1 if b.trace else 0)
    backlog, live_keys = gen.change_log(b.seed, WARM_LINES + rounds * n_burst, keys)
    warm_lines, backlog = backlog[:WARM_LINES], backlog[WARM_LINES:]
    bursts = [backlog[i * n_burst:(i + 1) * n_burst] for i in range(rounds)]
    live_s = max(LIVE_MIN_S, b.seconds - CATCHUP_S)
    n_live = int(LIVE_RATE * live_s)
    live_lines, _ = gen.change_log(b.seed + 1, n_live, keys, first_seq=10**9, live=live_keys)
    per_chunk = -(-len(live_lines) // LIVE_CHUNKS)
    chunks = [live_lines[i:i + per_chunk] for i in range(0, len(live_lines), per_chunk)]
    interval = live_s / len(chunks)
    rec = Recorder(b.tracer).install()
    b.tracer.enabled = False  # set-up is not traced

    def prepare(d):
        b.spark.dataSource.register(JsonlTailDataSource)
        return d

    live = {}

    def warm(_):
        # the warm-up is the measured stream's start, its first epoch
        # and a first read of its table
        s = live["stream"] = Stream(b, rec, "live", warm_lines).start()
        if s.wait_covered(os.path.getsize(s.feed)) is None:
            raise RuntimeError("the warm-up epoch did not commit")
        read_cdc_table(b.spark, s.store).count()

    try:
        b.setup(prepare, warm)
        return _measure(b, rec, live["stream"], warm_lines, bursts, chunks, interval)
    finally:
        if "stream" in live:
            live["stream"].stop()
        rec.uninstall()


def _measure(b, rec, stream, warm_lines, bursts, chunks, interval) -> dict:
    import duckdb

    from transporter_spark.streaming.cdc import read_cdc_table
    from transporter_spark.streaming.state import SegmentStore

    spark = b.spark
    con = duckdb.connect()
    source_read_s = 0.0
    if b.trace:
        # jsonl_tail -> noop over one burst: the source alone
        b.tracer.enabled = True
        src = Stream(b, rec, "source", bursts[0])
        with b.tracer.span("stage.source_noop", changes=len(bursts[0])):
            t0 = now()
            q = (spark.readStream.format("jsonl_tail").option("path", src.feed).load()
                 .writeStream.format("noop").option("checkpointLocation", src.ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            source_read_s = now() - t0

    # -- phase A: catch-up. Each burst of changes is appended at once to
    # the running stream's feed and drained as fast as it goes. Traced
    # runs alternate untraced and traced bursts so the tracing overhead
    # is measured.
    rates, plain_s, traced_s = [], [], []
    for k, burst in enumerate(bursts):
        traced = b.trace and k % 2 == 1
        b.tracer.enabled = traced
        b.tracer.iteration = k + 1
        with b.tracer.span("catchup.burst", changes=len(burst)):
            t0 = now()
            end = stream.append(burst)
            t1 = stream.wait_covered(end)
        if b.op(t1 is not None, "catch-up covered the burst"):
            rates.append(len(burst) / (t1 - t0))
            (traced_s if traced else plain_s).append(t1 - t0)

    # -- phase B: live open loop on the last stream
    b.tracer.enabled = b.trace
    b.tracer.iteration = len(bursts) + 1
    rec.commit_ms, rec.apply_s, rec.compact_s = [], [], []
    first_live_epoch = max([e for (base, e) in rec.commits if base == stream.store],
                           default=-1) + 1
    log = []  # (due, written, end byte, changes)
    reads, read_fail = [], []
    segs_at_read = []
    stop_reads = threading.Event()
    t_live = now() + 0.2

    def generate():
        with open(stream.feed, "ab") as fh:
            for i, lines in enumerate(chunks):
                due = t_live + i * interval
                wait = due - now()
                if wait > 0:
                    threading.Event().wait(wait)
                fh.write(("\n".join(lines) + "\n").encode())
                fh.flush()
                log.append((due, now(), fh.tell(), len(lines)))

    def read_loop():
        k = 0
        while True:
            due = t_live + k / READS_PER_S
            k += 1
            if stop_reads.wait(max(0.0, due - now())):
                return
            segs_at_read.append(len(SegmentStore(stream.store).table_segments("delta")))
            with b.tracer.span("live.read", segments=segs_at_read[-1]):
                t0 = now()
                try:
                    read_cdc_table(spark, stream.store).count()
                    reads.append(now() - t0)
                except Exception as e:  # counted, reported, never retried
                    read_fail.append(f"{type(e).__name__}: {str(e)[:200]}")

    gen_thread = threading.Thread(target=generate)
    read_thread = threading.Thread(target=read_loop)
    gen_thread.start()
    read_thread.start()
    gen_thread.join()
    stop_reads.set()
    read_thread.join()
    final_pos = log[-1][2]
    covered = stream.wait_covered(final_pos)
    b.op(covered is not None, "live phase covered the whole log")
    epochs = [p for p in stream.epochs() if int(p["batchId"]) >= first_live_epoch]
    stream.stop()
    for msg in read_fail:
        b.op(False, f"live read {msg}")
    for _ in reads:
        b.op(True, "live read")

    # lag per chunk: due time -> commit of the epoch covering its end
    commit_of = []  # (end byte, commit time) ascending
    for p in epochs:
        t = rec.commits.get((stream.store, int(p["batchId"])))
        if t is not None:
            commit_of.append((_end_pos(p), t))
    lags, covered_at = [], []
    for due, written, end, n in log:
        t = next((t for pos, t in commit_of if pos >= end), None)
        covered_at.append(t)
        if b.op(t is not None, "live chunk committed"):
            lags.append(t - due)
            b.tracer.record("live.chunk", due, t, changes=n, written=written)

    # open-loop honesty: generator lateness and backlog growth
    gen_late_ms = max((w - d) * 1000.0 for d, w, _, _ in log)
    backlog_at = []
    for due, _, _, _ in log:
        written = sum(n for d, w, _, n in log if w <= due)
        done = sum(n for (d, w, _, n), t in zip(log, covered_at) if t is not None and t <= due)
        backlog_at.append(written - done)
    half = len(backlog_at) // 2
    first, second = max(backlog_at[:half]), max(backlog_at[half:])
    b.op(second <= 1.5 * first + 2 * len(chunks[0]), "live backlog did not grow")

    # correctness gate: final table == DuckDB LWW over the whole log
    full = [x for c in [warm_lines] + bursts + chunks for x in c]
    b.check(_table_rows(spark, stream.store) == _lww_reference(con, full),
            "final table equals last-writer-wins over the log")
    con.close()

    b.e2e = {
        "rows_per_s": median(rates),
        "latency_p50_s": median(lags),
        "latency_p90_s": percentile(lags, 90),
        "read_p50_s": median(reads),
    }
    b.samples = {"catchups": len(rates), "burst_changes": len(bursts[0]),
                 "burst_s": [round(len(bursts[0]) / r, 3) for r in rates],
                 "live_epoch_ms": [int(p["durationMs"].get("triggerExecution", 0)) for p in epochs],
                 "live_chunks": len(log), "live_changes": sum(n for *_, n in log),
                 "live_rate": LIVE_RATE, "reads": len(reads), "epochs": len(epochs)}
    b.validity = {"backlog_max": max(backlog_at), "gen_late_ms": gen_late_ms}
    if b.trace:
        live_rows = [int(p["numInputRows"]) for p in epochs]
        delta_rows = sum(rec.delta_rows.get((stream.store, int(p["batchId"])), 0) for p in epochs)
        dur = lambda key: [float(p["durationMs"].get(key, 0)) for p in epochs]
        b.layers.update({
            "sources.datasource.read_s": source_read_s,
            "sources.datasource.latest_offset_ms": median(dur("latestOffset")),
            "streaming.trigger_ms": median(dur("triggerExecution")),
            "streaming.checkpoint_ms": median(
                [a + c for a, c in zip(dur("walCommit"), dur("commitOffsets"))]),
            "streaming.epochs": float(len(epochs)),
            "streaming.rows_per_epoch": median(live_rows),
            "streaming.cdc.apply_s": median(rec.apply_s) if rec.apply_s else 0.0,
            "streaming.cdc.collapse_ratio": delta_rows / max(1, sum(live_rows)),
            "streaming.state.commit_ms": median(rec.commit_ms) if rec.commit_ms else 0.0,
            "streaming.cdc.compactions": float(len(rec.compact_s)),
            "streaming.cdc.compact_s": median(rec.compact_s) if rec.compact_s else 0.0,
            "streaming.cdc.read_s": median(reads),
            "streaming.state.segments_at_read": median(segs_at_read),
            "streaming.state.mb": dir_bytes(stream.store) / 2**20,
            "streaming.backlog_changes_max": float(max(backlog_at)),
            "streaming.gen_late_ms_max": gen_late_ms,
        })
        b.overhead(plain_s, traced_s)
    return b.e2e
