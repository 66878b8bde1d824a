"""Continuous k-means centroid-partial maintenance: keep the
(cell, dim) -> (component sum, member count) table current from an
embedding stream — the update-side twin of the continuous ANN index
sink (streaming/vectors.py assigns and stores the vectors; this sink
maintains what the next centroid refresh needs, without storing
anything per-vector).

Why this is the 100 TB shape: the centroid update is a MERGEABLE
aggregate — per micro-batch, assign only the batch's vectors to the
fixed centroids (broadcast, pure per vector) and delta-merge the
batch's k x dims decimal partials into the standing table. State size
is k x dims rows FOREVER, independent of how many vectors streamed
through; per-epoch work is one batch assignment plus a metadata-sized
merge. Decimal sums are associative, so the maintained table equals
the batch recompute over all vectors bit-for-bit (pinned by test) —
the same exactness discipline as the rollup sink's hourly partials.

The actual centroid refresh (sum/n per cell, then re-assignment) stays
a deliberate batch step, exactly like the ANN sink's centroid-refresh
line: every production IVF/k-means system separates "accumulate
evidence cheaply" from "move the centroids".

Replay/restart semantics are the SegmentStore contract: the applied
epoch lives in the manifest (atomic commit), replayed epochs are
no-ops, a backwards epoch counter raises. Like every aggregating sink,
rows re-delivered under NEW offsets double-count — deduplicate
upstream when the source is at-least-once (the rollup sink documents
the same inherent limit).
"""

from __future__ import annotations

import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.streaming.state import (
    SEG_KEY,
    SegmentStore,
    drain_sink,
)

# one segment key per centroid cell: a batch touches at most k cells,
# so the keyed manifest reads/writes only those (metadata-sized either
# way — the whole table is k x dims rows)
_SEG_KEY_FORMAT = "cell_id"


def kmeans_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """One delta-merge step; returns False when the epoch was already
    applied (micro-batch replay) or the batch was empty. Module-level
    so the replay contract is testable without a streaming query."""
    from pyspark.sql.functions import broadcast

    from transporter_spark.operators.similarity import kmeans_partials

    partial = kmeans_partials(batch, broadcast(centroids), id_col, vec_col
                              ).withColumn(SEG_KEY, F.col("cell").cast("string"))

    def remerge(prev, part):
        return (
            prev.unionByName(part)
            .groupBy("cell", "dim")
            .agg(
                F.sum("sum_dec").cast("decimal(38,12)").alias("sum_dec"),
                F.sum("n").alias("n"),
            )
            .withColumn(SEG_KEY, F.col("cell").cast("string"))
        )

    return SegmentStore(state_dir).keyed_delta_merge(
        batch.sparkSession, "partials", partial, remerge, epoch_id,
        _SEG_KEY_FORMAT,
    )


def kmeans_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    centroids: DataFrame,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    **kw,
) -> int:
    """Drain an embedding stream into the maintained centroid-partial
    table (availableNow). ``compact_every``: fold the segment log at N
    segments, in-slot (state.drain_sink). Returns the number of
    applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: kmeans_merge_batch(b, e, state_dir, centroids, **kw),
        state_dir, "partials", compact_kmeans_state, compact_every, checkpoint_dir,
    )


def refreshed_centroids(
    spark: SparkSession, state_dir: str
) -> Optional[DataFrame]:
    """The mini-batch k-means FEEDBACK step: rebuild (centroid_id,
    centroid_vec) from the standing partials — component = sum/n with
    the sum crossing the decimal→double boundary VIA STRING (the
    `_dsum` exactness discipline: an exact decimal parses to the
    identical nearest IEEE double in both engines, and the single
    double division after it is one correctly-rounded IEEE op, so the
    refreshed centroids are bit-reproducible for the oracle replay).
    Returns None before the first commit (callers fall back to their
    seed centroids). k×dims rows — metadata-sized at any corpus."""
    df = SegmentStore(state_dir).read_keyed(spark, "partials")
    if df is None:
        return None
    comp = (
        F.col("sum_dec").cast("string").cast("double") / F.col("n")
    ).alias("comp")
    return (
        df.select("cell", "dim", comp)
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "comp"))),
                lambda s: s["comp"],
            ).alias("centroid_vec")
        )
        .select(F.col("cell").alias("centroid_id"), "centroid_vec")
    )


def kmeans_refresh_sink(
    stream_df: DataFrame,
    state_dir: str,
    init_centroids: DataFrame,
    checkpoint_dir: Optional[str] = None,
    **kw,
) -> int:
    """Mini-batch k-means with per-epoch centroid REFRESH — the
    recursive-feedback variant of `kmeans_ingest_sink`: each epoch
    assigns its batch to the CURRENT refreshed centroids (sum/n over
    the standing partials; the seed set before any commit) and
    delta-merges the batch's partials back in, so the next epoch's
    assignment reads this epoch's evidence. This is the classic
    mini-batch k-means loop (Sculley 2010) in foreachBatch form;
    state stays k×dims rows, per-epoch work ∝ batch + a
    metadata-sized refresh. Unlike the fixed-centroid sink the result
    is ORDER-DEPENDENT by design — the graded oracle unrolls the
    epochs as a seeded second fold (the FFD-carry pattern,
    queries/mixing_sampling.stream_kmeans_refresh_2epoch). No
    in-slot compaction (``compact_kmeans_state`` between runs).
    Returns the number of applied epochs."""

    def apply(batch: DataFrame, epoch_id: int) -> bool:
        cents = refreshed_centroids(batch.sparkSession, state_dir)
        return kmeans_merge_batch(
            batch, epoch_id, state_dir,
            cents if cents is not None else init_centroids, **kw,
        )

    return drain_sink(
        stream_df, apply, state_dir, "partials", compact_kmeans_state,
        checkpoint_dir=checkpoint_dir,
    )


def drain_embeddings_kmeans_refresh(
    spark: SparkSession,
    sf_dir: str,
    init_centroids: DataFrame,
    num_chunks: int = 2,
    min_epochs: int = 2,
    state_dir: Optional[str] = None,
    **kw,
) -> DataFrame:
    """Convenience: stream the embeddings table as vec_id-ordered
    chunks (one applied epoch each) through the refresh sink and
    return the maintained partials, raising unless at least
    ``min_epochs`` applied (used by the graded
    stream_kmeans_refresh_2epoch query)."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_table_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_kmeansr_") + "/state"
    emb = chunked_table_stream(
        spark, sf_dir, "embeddings", num_chunks, order_col="vec_id"
    )
    assert_epochs_applied(
        kmeans_refresh_sink(emb, state, init_centroids, **kw), min_epochs
    )
    return read_kmeans_state(spark, state)


def read_kmeans_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained partials at the `kmeans_update` output boundary:
    (cell, dim, sum_val DOUBLE via the exact string hop, n)."""
    df = SegmentStore(state_dir).read_keyed(spark, "partials")
    if df is None:
        raise FileNotFoundError(
            f"no committed kmeans state at {state_dir!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    return df.select(
        "cell",
        "dim",
        F.col("sum_dec").cast("string").cast("double").alias("sum_val"),
        "n",
    )


def compact_kmeans_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold the partial-segment log into one segment, dropping stale
    rows for good (same discipline as compact_rollup_state). Returns
    False when already compact."""
    return SegmentStore(state_dir).compact_keyed_commit(spark, "partials")


def drain_embeddings_kmeans(
    spark: SparkSession,
    sf_dir: str,
    centroids: DataFrame,
    state_dir: Optional[str] = None,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> DataFrame:
    """Convenience: stream the embeddings table through the sink and
    return the maintained partials (used by the graded query).

    num_chunks > 1 (r14): deliver the table as vec_id-ordered chunks —
    one applied epoch each, raising unless at least ``min_epochs``
    applied. The decimal partials are associative, so maintained ==
    batch at ANY epoch structure (the additive class) and the batch
    oracle grades the real multi-epoch drain unchanged."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_kmeans_") + "/state"
    emb = chunked_or_single_stream(
        spark, sf_dir, "embeddings", num_chunks, order_col="vec_id"
    )
    assert_epochs_applied(
        kmeans_ingest_sink(emb, state, centroids, **kw), min_epochs
    )
    return read_kmeans_state(spark, state)
