"""Continuous span-df index maintenance: keep the per-offset
window-hash document-frequency index (`operators.text.span_df_index`)
current from a document stream — the standing state that makes
unaligned exact-substring dedup INCREMENTAL (`operators.text.
prune_repeated_spans_incremental` prunes each arriving batch against
it without ever re-reading corpus text).

Why this is the 100 TB shape: the index is the span family's LSH-band-
index analog — ~8 B + a count per distinct window, orders of magnitude
smaller than the text it summarizes — and it is EXACTLY mergeable
across epochs by n_docs SUM: a document is one atomic row, so its
windows land wholly in the epoch that carries it, and
sum-over-epochs(per-epoch distinct-doc counts) == the single-pass df,
row-for-row (pinned in tests/test_streaming_sketches.py). Commit
discipline is the ingest sink's append-only LIST-table pattern, not a
keyed delta-merge: window hashes are uniform, so a batch touches
EVERY hash bucket — remapping keyed segments would rewrite O(state)
per epoch. Instead each epoch appends ONE segment of its (h, n_docs)
partials (IO ∝ batch), reads merge on the fly (SUM per h), and
``compact_span_index`` folds the segment log into one pre-summed
segment.

Merge algebra caveat (the SUM-sink class, stated in contrast to the
HLL/Bloom sinks): re-delivering an already-counted document under a
NEW epoch double-counts its windows — deduplicate upstream when the
source is at-least-once. Same-epoch replay is a no-op via the
manifest epoch marker, and the window width is recorded in the
manifest meta so an epoch windowed at a different W raises instead of
silently mixing incompatible hash domains.

Reference parity: the reference maintains no text index (it has no
dedup at all); this is the continuous form of the round-6
`repeated_span_prune` operator, following the same commitlog
append+compact discipline as its other sinks
(commitlog/commitlog.go:170-183, compactor.go:35-116).
"""

from __future__ import annotations

import tempfile
from contextlib import ExitStack
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.streaming.state import (
    SegmentStore,
    drain_sink,
)

_TABLE = "spandf"


def span_index_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
) -> bool:
    """One epoch: append the batch's (h, n_docs) partials as a new
    segment. Returns False when the epoch was already applied
    (micro-batch replay) or the batch was empty. Module-level so the
    replay contract is directly testable."""
    from transporter_spark.operators.text import span_df_index

    store = SegmentStore(state_dir)

    def build(b: DataFrame) -> dict:
        meta = store.meta()
        if meta.get("span_w") not in (None, window_tokens):
            raise ValueError(
                f"span index at {state_dir!r} was built with "
                f"window_tokens={meta['span_w']}; refusing to merge an epoch "
                f"windowed at {window_tokens} — the hash domains are "
                "incompatible"
            )
        _check_span_family(store, state_dir, "index")
        return {_TABLE: span_df_index(b, text_col, id_col, window_tokens)}

    return store.append_epoch(
        batch,
        epoch_id,
        build,
        meta={"span_w": window_tokens, "span_family": "index"},
    )


def _check_span_family(
    store: SegmentStore, state_dir: str, expected: str
) -> None:
    """Refuse to write into a state directory belonging to the OTHER
    span sink: appending index-only partials into a prune-loop state
    (or vice versa) breaks the prune loop's one-pruned-row-per-
    ingested-doc invariant SILENTLY — the same loud-mismatch policy as
    the span_w check. States committed before the ``span_family`` tag
    existed are classified by the prune loop's ``span_min_df`` meta
    (present on every prune commit, never on an index commit)."""
    meta = store.meta()
    family = meta.get("span_family")
    if family is None and meta:
        family = "prune" if "span_min_df" in meta else (
            "index" if "span_w" in meta else None
        )
    if family is not None and family != expected:
        raise ValueError(
            f"state at {state_dir!r} belongs to the span-{family} sink; "
            f"refusing a span-{expected} epoch — the two sinks' tables "
            "are incompatible (an index-only append into a prune state "
            "silently breaks its one-pruned-row-per-doc invariant)"
        )


def span_index_sink(
    stream_df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
) -> int:
    """Drain a document stream into the maintained index.
    ``compact_every=N`` folds the segment log in-slot when it reaches
    N segments (state.drain_sink). Returns the number of applied
    epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: span_index_merge_batch(
            b, e, state_dir, text_col, id_col, window_tokens
        ),
        state_dir, _TABLE, compact_span_index, compact_every, checkpoint_dir,
    )


def read_span_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained (h, n_docs) index: merge-on-read SUM over the
    per-epoch partial segments (exact — see module doc). Feed it to
    `operators.text.prune_repeated_spans_incremental`."""
    store = SegmentStore(state_dir)
    df = store.read(spark, _TABLE)
    if df is None:
        raise FileNotFoundError(
            f"no committed span index at {state_dir!r}: the sink has not "
            "applied any non-empty epoch yet"
        )
    return df.groupBy("h").agg(F.sum("n_docs").cast("long").alias("n_docs"))


def compact_span_index(spark: SparkSession, state_dir: str) -> bool:
    """Fold the per-epoch segment logs into ONE segment per table: the
    index partials pre-sum (content-preserving under merge-on-read:
    SUM of the fold == SUM of the parts) and, when the state belongs
    to the prune loop, the ``pruned`` corpus unions (plain
    concatenation — its rows are per-doc finals, never re-merged).
    False when there is no state or everything is already compact."""
    return SegmentStore(state_dir).compact_tables_commit(
        spark,
        (_TABLE, _PRUNED),
        folds={
            _TABLE: lambda df: df.groupBy("h").agg(
                F.sum("n_docs").cast("long").alias("n_docs")
            )
        },
    )


def drain_documents_span_index(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    **kw,
) -> DataFrame:
    """Convenience: stream the documents table through the sink and
    return the maintained index (used by the graded query)."""
    from transporter_spark.streaming.sources import stream_table

    state = state_dir or tempfile.mkdtemp(prefix="ts_spandf_") + "/state"
    docs = stream_table(spark, sf_dir, "documents")
    span_index_sink(docs, state, **kw)
    return read_span_index(spark, state)


# ---------------------------------------------------------------------------
# The full continuous loop: prune each arriving batch against the
# standing index, THEN fold the batch's windows into it — streaming
# unaligned substring dedup, first-text-wins.
# ---------------------------------------------------------------------------

_PRUNED = "pruned"


def span_prune_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
    min_df: int = 2,
) -> bool:
    """One epoch of continuous span dedup: excise windows whose df over
    corpus-so-far ∪ batch reaches ``min_df`` from the BATCH's docs,
    append the pruned docs to the ``pruned`` table and the batch's
    (h, n_docs) partials to the index — both in ONE atomic commit.

    Order-dependence is the streaming contract (first text wins): an
    earlier epoch's passage prunes later copies but is itself kept —
    exactly `prune_repeated_spans_incremental`'s semantics applied
    epoch by epoch (a single-epoch drain degenerates to the batch
    `prune_repeated_spans`, which is the graded oracle equivalence).
    The batch is windowed ONCE: the same per-offset frame feeds the
    excision and the index partials. W and min_df live in manifest
    meta — a mismatched epoch raises. Re-delivered doc ids violate the
    index's each-doc-once contract (double-count ⇒ over-excision);
    dedup upstream (the ingest sink's fingerprint guard)."""
    from transporter_spark.operators.dedup import _materialize
    from transporter_spark.operators.text import _excise_covered, _span_hash_rows

    store = SegmentStore(state_dir)

    def build(b: DataFrame, cleanup: ExitStack) -> dict:
        meta = store.meta()
        for name, val in (("span_w", window_tokens), ("span_min_df", min_df)):
            if meta.get(name) not in (None, val):
                raise ValueError(
                    f"span-prune state at {state_dir!r} has {name}="
                    f"{meta[name]}; refusing an epoch at {val} — excision "
                    "semantics would silently change mid-stream"
                )
        _check_span_family(store, state_dir, "prune")
        # eager materialize (r15: lazy persist raced concurrent
        # broadcast-build consumers into recomputing the span-hash pass)
        rows = _materialize(_span_hash_rows(b, text_col, id_col, window_tokens))
        cleanup.callback(rows.unpersist)
        batch_partial = (
            rows.where(F.col("h").isNotNull())
            .groupBy("h")
            .agg(F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"))
        )
        standing = store.read(b.sparkSession, _TABLE)
        if standing is None:
            total = batch_partial.withColumnRenamed("n_docs", "_tdf")
        else:
            standing = standing.groupBy("h").agg(F.sum("n_docs").alias("_cdf"))
            total = batch_partial.join(standing, "h", "left").select(
                "h",
                (
                    F.col("n_docs") + F.coalesce(F.col("_cdf"), F.lit(0))
                ).alias("_tdf"),
            )
        rep = total.filter(F.col("_tdf") >= min_df).select("h")
        return {
            _TABLE: batch_partial,
            _PRUNED: _excise_covered(
                rows, rep, b.select(id_col), id_col, window_tokens
            ),
        }

    with ExitStack() as cleanup:
        return store.append_epoch(
            batch,
            epoch_id,
            lambda b: build(b, cleanup),
            meta={
                "span_w": window_tokens,
                "span_min_df": min_df,
                "span_family": "prune",
            },
        )


def span_prune_sink(
    stream_df: DataFrame,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
    min_df: int = 2,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
) -> int:
    """Drain a document stream through the prune-then-index loop.
    Returns the number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: span_prune_merge_batch(
            b, e, state_dir, text_col, id_col, window_tokens, min_df
        ),
        state_dir, _TABLE, compact_span_index, compact_every, checkpoint_dir,
    )


def read_pruned_corpus(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated (id, kept_text) output — one row per ingested
    document, already excised against everything that arrived before
    or with it."""
    store = SegmentStore(state_dir)
    df = store.read(spark, _PRUNED)
    if df is None:
        raise FileNotFoundError(
            f"no committed pruned corpus at {state_dir!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    return df


def drain_documents_span_prune(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    assert_single_epoch: bool = False,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> DataFrame:
    """Convenience: stream the documents table through the prune loop
    and return the pruned corpus (used by the graded query).

    num_chunks > 1 (the graded mode since r12): deliver doc_id-ordered
    single-file chunks (`chunked_table_stream`), one applied epoch per
    chunk, raising unless >= ``min_epochs`` applied. The loop's
    multi-epoch semantics ARE a closed form the oracle can replay
    without unrolling: the index partials come from each batch's RAW
    windows (never from pruned text — no feedback loop), so a doc in
    chunk e is excised exactly against windows whose CUMULATIVE df
    over chunks <= e reaches min_df. The graded oracle computes that
    same cumulative-df excision in one SQL pass (per-(h, chunk)
    partials + a running sum), with the chunk assignment derived from
    the same percentile bounds the harness splits on.

    assert_single_epoch: the pre-r12 graded contract (drain == batch
    prune_repeated_spans, which is the num_chunks=1 degenerate case);
    keyed on the drain's APPLIED count so a skipped-empty leading batch
    cannot read as multi-epoch."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_spanprune_") + "/state"
    docs = chunked_or_single_stream(spark, sf_dir, "documents", num_chunks)
    applied = span_prune_sink(docs, state, **kw)
    if assert_single_epoch and applied > 1:
        raise RuntimeError(
            f"drain applied {applied} epochs; the single-epoch "
            "oracle equivalence no longer holds — the documents table "
            "is no longer a single-file availableNow batch"
        )
    assert_epochs_applied(applied, min_epochs)
    return read_pruned_corpus(spark, state)
