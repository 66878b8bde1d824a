"""Continuous sketch maintenance: keep per-group HyperLogLog registers
(distinct counts) and log-bin histograms (quantiles) current from a
stream — the sketch twins of the k-means partial sink
(streaming/kmeans.py).

Why this is the 100 TB shape: both sketches are MERGEABLE aggregates.
Per micro-batch, sketch only the batch (one map-side-combined groupBy,
bounded rows per group) and delta-merge into the standing state; state
stays <= groups x sketch-size rows forever, per-epoch work ∝ |batch|.
The merge algebra differs — and the difference is the operational
contract:

- HLL registers merge by per-register MAX: associative, commutative
  AND idempotent. Rows RE-DELIVERED under new offsets are harmless
  (max(rho, rho) == rho), so an at-least-once source needs no upstream
  dedup for the distinct-count sink (pinned by test) — a guarantee the
  sum-based sinks cannot offer.
- Bin histograms merge by count SUM: associative but NOT idempotent —
  re-delivery double-counts (the rollup sink's documented limit);
  deduplicate upstream when the source is at-least-once.

Either way the maintained state equals the batch-built sketch
bit-for-bit, which is why both graded stream queries share their batch
twins' engine-exact oracles verbatim.

Sketch PARAMETERS (HLL p; quantile scale_bits/sub_bits) are recorded in
the state's seg-key format string: an epoch merged at different
parameters hits the SegmentStore's loud format-mismatch error instead
of silently mixing incompatible register/bin domains.

Replay/restart semantics are the SegmentStore contract: applied epoch
in the manifest (atomic commit), replayed epochs are no-ops, a
backwards epoch counter raises.

Reference parity: the reference keeps running per-namespace counters in
its pipeline metrics (pipeline/pipeline.go events); mergeable sketches
are the scale-correct generalization of that running state to distinct
counting and percentile monitoring.
"""

from __future__ import annotations

import tempfile
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.operators.sketches import (
    DEFAULT_K,
    DEFAULT_M_BITS,
    DEFAULT_P,
    DEFAULT_SCALE_BITS,
    DEFAULT_SUB_BITS,
    bloom_merge,
    bloom_words,
    dd_bins,
    dd_merge,
    hll_merge,
    hll_register_table,
)
from transporter_spark.streaming.state import (
    SEG_KEY,
    SegmentStore,
    drain_sink,
)

# one segment key per group value: a batch touches only the groups it
# contains, so the keyed manifest rewrites only those groups' segments.
# ".v2" = the injective netstring key encoding below — a state written
# under the old concat_ws encoding raises the store's loud
# format-mismatch error instead of silently splitting groups.
_SEG_KEY_FORMAT = "group_value.v2"
_HLL_STORE = "registers"
_BINS_STORE = "bins"
_BLOOM_STORE = "bloom"


def _seg_key(by):
    """All `by` columns encoded as concatenated netstrings — injective
    over group tuples, which the keyed manifest's touched-group pruning
    depends on ("distinct groups must never collide"). Each component
    is length-prefixed ('v<len>:<value>', NULL -> 'n'), making the
    concatenation prefix-free: a NULL never collides with '' (the old
    concat_ws skipped NULLs) and embedded separator bytes can't splice
    across components. An empty `by` yields the constant key 'g'
    (one global group)."""
    if not by:
        return F.lit("g")
    parts = []
    for c in by:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("n")).otherwise(
                F.concat(F.lit("v"), F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.concat(*parts)


def _keyed_sketch_merge(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    store: str,
    partial: DataFrame,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
    by: Sequence[str],
    fmt: str,
) -> bool:
    """The ONE delta-merge step both sketch sinks run: attach the seg
    key, remerge touched groups via the operators-module merge (never a
    re-implementation that could drift), commit under the parameterized
    format string. False when the epoch was already applied or the
    batch was empty."""
    part = partial.withColumn(SEG_KEY, _seg_key(by))

    def remerge(prev, part):
        return merge_fn(prev, part).withColumn(SEG_KEY, _seg_key(by))

    return SegmentStore(state_dir).keyed_delta_merge(
        batch.sparkSession, store, part, remerge, epoch_id, fmt
    )


def _read_state(spark: SparkSession, state_dir: str, store: str) -> DataFrame:
    df = SegmentStore(state_dir).read_keyed(spark, store)
    if df is None:
        raise FileNotFoundError(
            f"no committed {store} state at {state_dir!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    return df.drop(SEG_KEY)


# ---------------------------------------------------------------------------
# distinct counts (HLL register max-merge)
# ---------------------------------------------------------------------------

def hll_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    item_col: str,
    by: Sequence[str],
    p: int = DEFAULT_P,
) -> bool:
    """One register max-merge step (module-level so the replay contract
    is testable without a streaming query)."""
    return _keyed_sketch_merge(
        batch, epoch_id, state_dir, _HLL_STORE,
        hll_register_table(batch, item_col, by, p),
        lambda a, b: hll_merge(a, b, by),
        by, f"{_SEG_KEY_FORMAT}/hll_p={p}",
    )


def hll_sketch_sink(
    stream_df: DataFrame,
    state_dir: str,
    item_col: str,
    by: Sequence[str],
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    p: int = DEFAULT_P,
) -> int:
    """Drain a stream into the maintained register table. Returns the
    number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: hll_merge_batch(b, e, state_dir, item_col, by, p),
        state_dir, _HLL_STORE, compact_hll_state, compact_every, checkpoint_dir,
    )


def read_hll_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained register table (by..., bucket, rho) — feed it to
    operators.sketches.hll_estimate for the current distinct counts."""
    return _read_state(spark, state_dir, _HLL_STORE)


def compact_hll_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold the register-segment log into one segment. False when
    already compact."""
    return SegmentStore(state_dir).compact_keyed_commit(spark, _HLL_STORE)


def drain_events_hll(
    spark: SparkSession,
    sf_dir: str,
    item_col: str = "user_id",
    by: Sequence[str] = ("event_type",),
    state_dir: Optional[str] = None,
    **kw,
) -> DataFrame:
    """Convenience: stream the events table through the sink and return
    the maintained register table (used by the graded query)."""
    from transporter_spark.streaming.sources import stream_table

    state = state_dir or tempfile.mkdtemp(prefix="ts_hll_") + "/state"
    ev = stream_table(spark, sf_dir, "events")
    hll_sketch_sink(ev, state, item_col, list(by), **kw)
    return read_hll_state(spark, state)


# ---------------------------------------------------------------------------
# quantiles (log-bin histogram SUM-delta-merge)
# ---------------------------------------------------------------------------

def dd_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    value_col: str,
    by: Sequence[str],
    scale_bits: int = DEFAULT_SCALE_BITS,
    sub_bits: int = DEFAULT_SUB_BITS,
) -> bool:
    """One bin-histogram delta-merge step (module-level for the replay
    contract; plain defaulted ints so 0 is a usable value)."""
    return _keyed_sketch_merge(
        batch, epoch_id, state_dir, _BINS_STORE,
        dd_bins(batch, value_col, by, scale_bits, sub_bits),
        lambda a, b: dd_merge(a, b, by),
        by, f"{_SEG_KEY_FORMAT}/dd_s={scale_bits}.{sub_bits}",
    )


def dd_sketch_sink(
    stream_df: DataFrame,
    state_dir: str,
    value_col: str,
    by: Sequence[str],
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    scale_bits: int = DEFAULT_SCALE_BITS,
    sub_bits: int = DEFAULT_SUB_BITS,
) -> int:
    """Drain a stream into the maintained bin histogram; feed
    read_dd_state to operators.sketches.dd_quantiles for current
    percentiles — continuous p50/p99 monitoring without storing a row
    per observation. Returns the number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: dd_merge_batch(
            b, e, state_dir, value_col, by, scale_bits, sub_bits
        ),
        state_dir, _BINS_STORE, compact_dd_state, compact_every, checkpoint_dir,
    )


def read_dd_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained bin histogram (by..., bin_e, bin_sub, cnt)."""
    return _read_state(spark, state_dir, _BINS_STORE)


def compact_dd_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold the bin-segment log into one segment. False when already
    compact."""
    return SegmentStore(state_dir).compact_keyed_commit(spark, _BINS_STORE)


def drain_events_dd(
    spark: SparkSession,
    sf_dir: str,
    value_col: str = "value",
    by: Sequence[str] = ("event_type",),
    state_dir: Optional[str] = None,
    **kw,
) -> DataFrame:
    """Convenience: stream the events table through the quantile sink
    and return the maintained bins (used by the graded query)."""
    from transporter_spark.streaming.sources import stream_table

    state = state_dir or tempfile.mkdtemp(prefix="ts_dd_") + "/state"
    ev = stream_table(spark, sf_dir, "events")
    dd_sketch_sink(ev, state, value_col, list(by), **kw)
    return read_dd_state(spark, state)


# ---------------------------------------------------------------------------
# membership (Bloom word bit-OR-merge)
# ---------------------------------------------------------------------------

def bloom_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    item_col: str,
    by: Sequence[str] = (),
    k: int = DEFAULT_K,
    m_bits: int = DEFAULT_M_BITS,
) -> bool:
    """One word bit-OR-merge step (module-level for the replay
    contract). Like the HLL register MAX — and unlike the SUM sinks —
    the merge is IDEMPOTENT, so rows re-delivered under new offsets by
    an at-least-once source are harmless (x | x == x; pinned in
    tests/test_streaming_sketches.py)."""
    return _keyed_sketch_merge(
        batch, epoch_id, state_dir, _BLOOM_STORE,
        bloom_words(batch, item_col, by, k, m_bits),
        lambda a, b: bloom_merge(a, b, by),
        by, f"{_SEG_KEY_FORMAT}/bloom_m={m_bits}.k={k}",
    )


def bloom_sketch_sink(
    stream_df: DataFrame,
    state_dir: str,
    item_col: str,
    by: Sequence[str] = (),
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    k: int = DEFAULT_K,
    m_bits: int = DEFAULT_M_BITS,
) -> int:
    """Drain a stream into the maintained word table — the continuous
    blocklist: feed read_bloom_state to operators.sketches
    .bloom_contains to probe membership (decontamination, exact-dup
    candidacy) against everything ever ingested, at m_bits of state
    per group forever. Returns the number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: bloom_merge_batch(b, e, state_dir, item_col, by, k, m_bits),
        state_dir,
        _BLOOM_STORE,
        lambda spark, path: SegmentStore(path).compact_keyed_commit(
            spark, _BLOOM_STORE
        ),
        compact_every,
        checkpoint_dir,
    )


def read_bloom_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained word table (by..., word_idx, word)."""
    return _read_state(spark, state_dir, _BLOOM_STORE)


def read_bloom_sketch(spark: SparkSession, state_dir: str):
    """The maintained word table WITH its build geometry, recovered
    from the state meta's seg-key format (`.../bloom_m={m}.k={k}` —
    written by every `bloom_merge_batch` commit): pass the result to
    `operators.sketches.bloom_probe_mark` / `bloom_contains` /
    `incremental_dedup_exact(bloom_words=...)` and the probe validates
    k/m_bits instead of trusting the caller's claim (ADVICE r7)."""
    import re

    from transporter_spark.operators.sketches import BloomSketch

    fmt = SegmentStore(state_dir).meta().get("seg_key", "")
    m = re.search(r"bloom_m=(\d+)\.k=(\d+)", fmt)
    if not m:
        raise ValueError(
            f"state at {state_dir!r} has no bloom geometry in its "
            f"seg-key format ({fmt!r}) — not a bloom sink state?"
        )
    return BloomSketch(
        read_bloom_state(spark, state_dir), int(m.group(2)), int(m.group(1))
    )


def drain_documents_bloom(
    spark: SparkSession,
    sf_dir: str,
    item_col: str = "text",
    where: Optional[str] = None,
    state_dir: Optional[str] = None,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> "BloomSketch":
    """Convenience: stream the documents table (optionally filtered —
    e.g. the eval shard of a decontamination blocklist) through the
    Bloom sink and return the maintained sketch (used by the graded
    query). Returns a geometry-carrying `BloomSketch` recovered from
    the state meta via `read_bloom_sketch` (VERDICT r8 item 3) — a
    downstream probe validates the build k/m_bits instead of trusting
    its own defaults.

    num_chunks > 1 (r14): deliver the documents table as
    doc_id-ordered chunks — one applied epoch each, raising unless at
    least ``min_epochs`` applied. Word bit-OR is associative AND
    idempotent, so maintained == batch at ANY epoch structure (the
    additive class) and the batch oracle grades the real multi-epoch
    drain unchanged. The ``where`` gate runs INSIDE each epoch (the
    chunk bound stays on the raw table)."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_bloom_") + "/state"
    docs = chunked_or_single_stream(spark, sf_dir, "documents", num_chunks)
    if where is not None:
        docs = docs.where(where)
    assert_epochs_applied(
        bloom_sketch_sink(docs, state, item_col, **kw), min_epochs
    )
    return read_bloom_sketch(spark, state)


def drain_documents_gram_bloom(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    text_col: str = "text",
    where: Optional[str] = None,
    state_dir: Optional[str] = None,
    **kw,
) -> "BloomSketch":
    """Maintain a CONTINUOUS decontamination blocklist: stream the
    (filtered) documents table, explode each doc to its word n-grams
    (`dedup.word_shingles` — the SAME gram definition the batch
    `decontaminate` probes with), and drain the gram stream through
    the Bloom sink. Per-epoch work ∝ batch grams; duplicate grams
    across docs/epochs just re-OR the same bits (idempotent), so the
    maintained state equals the batch-built benchmark sketch
    bit-for-bit regardless of epoch boundaries. Returns the
    geometry-carrying sketch via `read_bloom_sketch` — feed it to
    `operators.dedup.decontaminate(bloom_words=...)` (or an ingest
    sink's pre_filter) and the probe validates build k/m_bits."""
    from transporter_spark.operators.dedup import word_shingles
    from transporter_spark.streaming.sources import stream_table

    state = state_dir or tempfile.mkdtemp(prefix="ts_gbloom_") + "/state"
    docs = stream_table(spark, sf_dir, "documents")
    if where is not None:
        docs = docs.where(where)
    grams = docs.select(F.explode(word_shingles(text_col, n)).alias("g"))
    bloom_sketch_sink(grams, state, "g", **kw)
    return read_bloom_sketch(spark, state)
