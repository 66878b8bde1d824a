"""Continuous perceptual-hash image index maintenance: keep the banded
pHash table (operators/multimodal.phash_index) current from a media
stream — the image twin of the continuous SimHash/ANN index sinks.

Why this is the 100 TB shape: the dHash fingerprint is a PURE
per-image function (no corpus statistics, no fitting), so each
micro-batch fingerprints only its own blobs and APPENDS the banded
rows as a new segment under the shared manifest store
(streaming/state.SegmentStore) — per-epoch IO ∝ |batch|, and the
megabyte-scale blobs never enter state at all: the index holds ~20 B
× bands per image. Each arriving batch can probe the standing index
for Hamming-near corpus images WITHOUT re-fingerprinting the corpus
(operators/multimodal.incremental_phash_pairs), and because the
fingerprint is pure, the maintained index equals the batch
`phash_index` build bit-for-bit at any point.

State (two list tables, committed atomically together):

- ``fps``    — (id, phash, band, chunk): the banded index,
  `incremental_phash_pairs` / `banded_hamming_pairs` input;
- ``ph_ids`` — (id): 8 B/image membership index answering the
  cross-epoch re-delivery test without touching fingerprints.

Banding geometry (bits, bands) is recorded in manifest meta at first
commit and VALIDATED on every later epoch — an epoch fingerprinted at
a different geometry raises instead of silently mixing incompatible
chunk spaces (the span family's W discipline). Replay/restart
semantics are the SegmentStore contract: replayed epochs are no-ops,
a backwards epoch counter raises, compaction folds segments with
one-commit reader retention.
"""

from __future__ import annotations

import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.streaming.state import (
    SegmentStore,
    drain_sink,
)

_TABLES = ("fps", "ph_ids")


def _banded_index_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    id_col: str,
    meta: dict,
    banded_fn,
    fp_table: str,
    id_table: str,
) -> bool:
    """The epoch step shared by this module's banded-fingerprint index
    sinks (image pHash, frame-level video, audio windows): geometry
    validation, then fingerprint/band the batch (``banded_fn``) into
    ``fp_table`` and its ids into ``id_table``, on the store's
    list-table epoch step (replay / empty / id re-delivery guards,
    one atomic commit). Returns False on replay / empty /
    fully-redelivered batches."""
    store = SegmentStore(state_dir)

    def build(b: DataFrame) -> dict:
        store.check_meta(
            meta,
            "mixed geometries would silently break the pigeonhole "
            "candidate join (or the fid packing)",
        )
        return {
            fp_table: banded_fn(b),
            id_table: b.select(F.col(id_col).alias("id")),
        }

    return store.append_epoch(
        batch, epoch_id, build, guard=(id_table, id_col), meta=meta
    )


def phash_index_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
) -> bool:
    """One epoch of pHash index maintenance; returns False when the
    epoch was already applied (replay) or the batch is empty. Cost per
    batch: one fingerprint projection over |batch| blobs + the segment
    append — the standing index is read only for the 8 B/image id
    guard, and never rewritten."""
    from transporter_spark.operators.multimodal import phash_index

    return _banded_index_batch(
        batch,
        epoch_id,
        state_dir,
        id_col,
        meta={"phash_bits": bits, "phash_bands": bands},
        banded_fn=lambda b: phash_index(b, content_col, id_col, bits, bands),
        fp_table="fps",
        id_table="ph_ids",
    )


def compact_phash_index(spark: SparkSession, state_dir: str) -> bool:
    """Fold the index's epoch segments (the shared list-table fold,
    state.SegmentStore.compact_tables_commit). Returns False when
    already compact."""
    return SegmentStore(state_dir).compact_tables_commit(spark, _TABLES)


def phash_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    **kw,
) -> int:
    """Drain a media stream into the maintained banded pHash index
    (availableNow); probe it any time with
    ``incremental_phash_pairs(batch, read_phash_index(...))`` or run
    the full self-dedup with ``banded_hamming_pairs``.
    ``compact_every``: fold the log at N segments, in-slot
    (single-writer), as in the dedup and ANN sinks. Returns the
    number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: phash_index_batch(b, e, state_dir, **kw),
        state_dir, "fps", compact_phash_index, compact_every, checkpoint_dir,
    )


def read_phash_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained (id, phash, band, chunk) banded index —
    `incremental_phash_pairs`' / `banded_hamming_pairs`' input."""
    df = SegmentStore(state_dir).read(spark, "fps")
    if df is None:
        raise FileNotFoundError(
            f"no committed pHash index at {state_dir!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    return df


_VIDEO_TABLES = ("vfps", "v_ids")


def video_index_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    n_frames: int = 8,
    bits: int = 32,
    bands: int = 4,
    frame_cap: int = 64,
) -> bool:
    """One epoch of FRAME-LEVEL video index maintenance — the video
    twin of `phash_index_batch`: each batch's blobs hex ONCE into 8
    per-frame dHashes (operators/multimodal.video_frame_phash), the
    banded frame rows append as a new segment (state = ~20 B x bands
    x n_frames per video, blobs never enter it), and the full frame +
    banding + fid-packing geometry is recorded in manifest meta with
    a loud mismatch raise. The per-frame hash is PURE per-video, so
    the maintained index equals the batch build bit-for-bit at any
    epoch count. Returns False on replay / empty / fully-redelivered
    batches."""
    from transporter_spark.operators.dedup import band_fingerprint
    from transporter_spark.operators.multimodal import video_frame_phash

    def banded_fn(b: DataFrame) -> DataFrame:
        fp = video_frame_phash(b, content_col, id_col, n_frames, bits, frame_cap)
        return band_fingerprint(
            fp.select(F.col("fid").alias("id"), "phash"), "phash", bits, bands
        )

    return _banded_index_batch(
        batch,
        epoch_id,
        state_dir,
        id_col,
        meta={
            "video_bits": bits,
            "video_bands": bands,
            "video_n_frames": n_frames,
            "video_frame_cap": frame_cap,
        },
        banded_fn=banded_fn,
        fp_table="vfps",
        id_table="v_ids",
    )


def compact_video_index(spark: SparkSession, state_dir: str) -> bool:
    """Fold the video index's epoch segments (the shared list-table
    fold). Returns False when already compact."""
    return SegmentStore(state_dir).compact_tables_commit(
        spark, _VIDEO_TABLES
    )


def video_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    **kw,
) -> int:
    """Drain a video stream into the maintained banded FRAME index
    (availableNow); probe it any time with
    ``incremental_video_pairs(batch, read_video_index(...))``. Returns the
    number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: video_index_batch(b, e, state_dir, **kw),
        state_dir, "vfps", compact_video_index, compact_every, checkpoint_dir,
    )


def read_video_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained banded frame table (id=fid, phash, band, chunk)
    — `incremental_video_pairs`' index input. Probe geometry is
    validated against the manifest meta by `probe_video_index`; use
    that wrapper unless you have just committed with the same
    constants in hand."""
    df = SegmentStore(state_dir).read(spark, "vfps")
    if df is None:
        raise FileNotFoundError(
            f"no committed video frame index at {state_dir!r}: the "
            "sink has not applied any non-empty epoch yet"
        )
    return df


def probe_video_index(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """`incremental_video_pairs` against the maintained index with the
    STORED geometry — n_frames/bits/bands/frame_cap come from the
    manifest meta, so a probe can never silently run at a different
    frame grid or banding than the index was built with (the fuzzy
    index's max_distance discipline)."""
    from transporter_spark.operators.multimodal import (
        incremental_video_pairs,
    )

    meta = SegmentStore(state_dir).meta()
    missing = [
        k
        for k in (
            "video_n_frames", "video_bits", "video_bands", "video_frame_cap"
        )
        if k not in meta
    ]
    if missing:
        raise ValueError(
            f"state at {state_dir!r} carries no {missing} meta — it is "
            "not a video frame index (pointed at a pHash/fuzzy/other "
            "sink's state?)"
        )
    return incremental_video_pairs(
        batch,
        read_video_index(spark, state_dir),
        content_col=content_col,
        id_col=id_col,
        n_frames=meta["video_n_frames"],
        bits=meta["video_bits"],
        bands=meta["video_bands"],
        frame_cap=meta["video_frame_cap"],
        **kw,
    )



def drain_documents_video(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    content_from_text: bool = True,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> str:
    """Convenience: stream the documents table through the video frame
    index sink (text bytes standing in for video blobs) and return the
    STATE DIR — probe with `probe_video_index` (the graded query
    does), which validates geometry from the manifest. num_chunks > 1
    drains genuinely multi-epoch (`chunked_or_single_stream`)."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_video_") + "/state"
    docs = chunked_or_single_stream(spark, sf_dir, "documents", num_chunks)
    if content_from_text:
        docs = docs.select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
        )
    assert_epochs_applied(video_ingest_sink(docs, state, **kw), min_epochs)
    return state


def drain_documents_phash(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    content_from_text: bool = True,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> DataFrame:
    """Convenience: stream the documents table through the pHash index
    sink (text bytes standing in for image blobs when
    ``content_from_text`` — the multimodal fake-decode discipline) and
    return the maintained banded index (used by the graded query).
    num_chunks > 1 drains genuinely multi-epoch."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_phash_") + "/state"
    docs = chunked_or_single_stream(spark, sf_dir, "documents", num_chunks)
    if content_from_text:
        docs = docs.select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
        )
    assert_epochs_applied(phash_ingest_sink(docs, state, **kw), min_epochs)
    return read_phash_index(spark, state)


_AUDIO_TABLES = ("afps", "a_ids")


def audio_index_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    n_windows: int = 8,
    bits: int = 32,
    bands: int = 2,
    window_cap: int = 64,
) -> bool:
    """One epoch of audio window-fingerprint index maintenance — the
    audio twin of `video_index_batch` on the same shared skeleton:
    each batch's blobs hex ONCE into temporal-delta window
    fingerprints (operators/multimodal.audio_window_fp), the banded
    rows append as a new segment, geometry in manifest meta with a
    loud mismatch raise. The fingerprint is PURE per-blob, so the
    maintained index equals the batch build bit-for-bit at any epoch
    count."""
    from transporter_spark.operators.dedup import band_fingerprint
    from transporter_spark.operators.multimodal import audio_window_fp

    def banded_fn(b: DataFrame) -> DataFrame:
        fp = audio_window_fp(
            b, content_col, id_col, n_windows, bits, window_cap
        )
        return band_fingerprint(
            fp.select(F.col("wid").alias("id"), F.col("fp").alias("phash")),
            "phash",
            bits,
            bands,
        )

    return _banded_index_batch(
        batch,
        epoch_id,
        state_dir,
        id_col,
        meta={
            "audio_bits": bits,
            "audio_bands": bands,
            "audio_n_windows": n_windows,
            "audio_window_cap": window_cap,
        },
        banded_fn=banded_fn,
        fp_table="afps",
        id_table="a_ids",
    )


def compact_audio_index(spark: SparkSession, state_dir: str) -> bool:
    return SegmentStore(state_dir).compact_tables_commit(
        spark, _AUDIO_TABLES
    )


def audio_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    **kw,
) -> int:
    """Drain an audio stream into the maintained banded window index
    (availableNow); probe any time with `probe_audio_index`. Returns the
    number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: audio_index_batch(b, e, state_dir, **kw),
        state_dir, "afps", compact_audio_index, compact_every, checkpoint_dir,
    )


def read_audio_index(spark: SparkSession, state_dir: str) -> DataFrame:
    df = SegmentStore(state_dir).read(spark, "afps")
    if df is None:
        raise FileNotFoundError(
            f"no committed audio window index at {state_dir!r}: the "
            "sink has not applied any non-empty epoch yet"
        )
    return df


def probe_audio_index(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """`incremental_audio_pairs` against the maintained index with the
    STORED geometry (the probe_video_index discipline — a probe can
    never silently run at a different window grid or banding)."""
    from transporter_spark.operators.multimodal import (
        incremental_audio_pairs,
    )

    meta = SegmentStore(state_dir).meta()
    missing = [
        k
        for k in (
            "audio_n_windows", "audio_bits", "audio_bands",
            "audio_window_cap",
        )
        if k not in meta
    ]
    if missing:
        raise ValueError(
            f"state at {state_dir!r} carries no {missing} meta — it is "
            "not an audio window index (pointed at a pHash/video/other "
            "sink's state?)"
        )
    return incremental_audio_pairs(
        batch,
        read_audio_index(spark, state_dir),
        content_col=content_col,
        id_col=id_col,
        n_windows=meta["audio_n_windows"],
        bits=meta["audio_bits"],
        bands=meta["audio_bands"],
        window_cap=meta["audio_window_cap"],
        **kw,
    )


def drain_documents_audio(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    content_from_text: bool = True,
    num_chunks: int = 1,
    min_epochs: int = 1,
    **kw,
) -> str:
    """Convenience: stream the documents table through the audio
    window-fingerprint sink (text bytes standing in for PCM — the
    fake-decode discipline) and return the STATE DIR; probe with
    `probe_audio_index`. num_chunks > 1 drains genuinely
    multi-epoch."""
    from transporter_spark.streaming.sources import (
        assert_epochs_applied,
        chunked_or_single_stream,
    )

    state = state_dir or tempfile.mkdtemp(prefix="ts_audio_") + "/state"
    docs = chunked_or_single_stream(spark, sf_dir, "documents", num_chunks)
    if content_from_text:
        docs = docs.select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
        )
    assert_epochs_applied(audio_ingest_sink(docs, state, **kw), min_epochs)
    return state
