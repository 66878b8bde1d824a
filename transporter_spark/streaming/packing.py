"""Continuous boundary-respecting packing: maintain first-fit bin
assignments incrementally from a document stream — the streaming face
of `operators.text.pack_bins_ffd`, giving the packing family the same
batch + continuous coverage as every candidate family.

Why a stateful sink: an SFT/eval packing job over arriving data cannot
re-pack the corpus per batch (bin ids must be stable — emitted rows
are training artifacts), so bins that still have room stay OPEN in
state and later epochs first-fit into them before opening new ones.
Bins CLOSE (append-only emit) when their load reaches
``seq_len - close_slack``; closed bins are immutable forever.

State (SegmentStore, one atomic manifest commit per epoch):

- ``closed``   — (source, bin_id, n_items, n_tokens, members):
  finalized bins, append-only, one segment per epoch;
- ``open``     — (source, bin_id, load, members): bins still
  accepting items, rewritten per epoch (state ∝ open bins, bounded
  by the close_slack knob — a bin within ``close_slack`` of full
  closes rather than lingering);
- ``counters`` — (source, next_bin): per-shard bin numbering,
  rewritten per epoch (one row per shard).

Per-epoch algorithm (inside ONE applyInPandas per shard — FFD is
inherently sequential per shard, the batch packer's parallelism
unit): over-long documents split into full seq_len chunks, each
immediately a closed bin, numbered in (doc, chunk) order from the
shard's counter; then the epoch's remainder pool first-fits
DECREASING into the shard's open bins (by ascending bin id), opening
new bins as needed. A SINGLE-epoch drain from empty state is
therefore EXACTLY the batch `pack_bins_ffd` (full-chunk bins first,
then FFD in creation order) — the graded query leans on that
equivalence and raises if the drain applied more than one epoch;
multi-epoch arrival-order semantics are pinned in
tests/test_streaming_pretrain.py against a pure-Python incremental
replay. Replay/restart semantics are the SegmentStore contract.
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

_OPEN_SCHEMA = (
    "source string, bin_id long, load long, members array<string>"
)
_COUNTER_SCHEMA = "source string, next_bin long"


def _make_epoch_ffd_runner(seq_len: int, close_slack: int):
    """Per-shard epoch closure: open bins + full chunks + pool items
    in, all touched bins out (with closed flags and the advanced
    counter). Nested def, stdlib/pandas only (worker-closure
    invariant). Member strings encode 'doc:chunk:tokens'."""

    def run(pdf):
        import pandas as pd

        source = pdf["source"].iloc[0]
        counters = pdf.loc[pdf["kind"] == "counter", "next_bin"]
        nb = int(counters.max()) if len(counters) else 0
        bins = {}
        for _, r in pdf[pdf["kind"] == "bin"].iterrows():
            bins[int(r["bin_id"])] = [int(r["load"]), list(r["members"])]
        # the first-fit scan order, built ONCE: carried open bins
        # ascending, then new bins appended (ids strictly increase, so
        # order is preserved without re-sorting per item — r11 review)
        open_ids = sorted(bins)
        out = {"bin_id": [], "load": [], "members": [], "closed": []}

        def emit(bid, load, members, closed):
            out["bin_id"].append(bid)
            out["load"].append(load)
            out["members"].append(members)
            out["closed"].append(closed)

        fulls = pdf[pdf["kind"] == "full"].sort_values(["doc_id", "chunk"])
        for _, r in fulls.iterrows():
            emit(
                nb,
                seq_len,
                [f"{int(r['doc_id'])}:{int(r['chunk'])}:{seq_len}"],
                True,
            )
            nb += 1
        items = pdf[pdf["kind"] == "item"].sort_values(
            ["rem", "doc_id"], ascending=[False, True]
        )
        for _, r in items.iterrows():
            rem = int(r["rem"])
            member = f"{int(r['doc_id'])}:{int(r['chunk'])}:{rem}"
            fit = None
            for bid in open_ids:
                if bins[bid][0] + rem <= seq_len:
                    fit = bid
                    break
            if fit is None:
                fit = nb
                nb += 1
                bins[fit] = [0, []]
                open_ids.append(fit)
            bins[fit][0] += rem
            bins[fit][1].append(member)
        for bid in open_ids:
            load, members = bins[bid]
            emit(bid, load, members, load >= seq_len - close_slack)
        return pd.DataFrame(
            {
                "source": pd.Series([source] * len(out["bin_id"]), dtype=object),
                "bin_id": pd.Series(out["bin_id"], dtype="int64"),
                "load": pd.Series(out["load"], dtype="int64"),
                "members": pd.Series(out["members"], dtype=object),
                "closed": pd.Series(out["closed"], dtype=bool),
                "next_bin": pd.Series([nb] * len(out["bin_id"]), dtype="int64"),
            }
        )

    return run


def _render_members(col):
    """array<'doc:chunk:tokens'> -> the batch packer's 'doc.chunk'
    dash-joined string, sorted by (doc, chunk) numerically."""
    parsed = F.transform(
        col,
        lambda m: F.struct(
            F.split(m, ":")[0].cast("long").alias("doc_id"),
            F.split(m, ":")[1].cast("long").alias("chunk"),
        ),
    )
    return F.array_join(
        F.transform(
            F.array_sort(parsed),
            lambda s: F.concat_ws(
                ".", s.doc_id.cast("string"), s.chunk.cast("string")
            ),
        ),
        "-",
    )


def pack_bins_batch(batch: DataFrame, epoch_id: int, state_dir: str,
                    **kw) -> bool:
    """Public face of :func:`_pack_bins_batch` (same signature), with
    the foreachBatch shuffle-partition scoping every sink applies."""
    from transporter_spark.session import scoped_shuffle_partitions

    spark = batch.sparkSession
    with scoped_shuffle_partitions(
        spark, spark.sparkContext.defaultParallelism
    ):
        return _pack_bins_batch(batch, epoch_id, state_dir, **kw)


def _pack_bins_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    seq_len: int = 512,
    close_slack: int = 0,
    shard_col: str = "source",
    id_col: str = "doc_id",
    count_col: str = "ntok",
) -> bool:
    """One epoch of continuous packing over a (shard, id, count)
    batch; returns False on replay/empty. Per-epoch work ∝ batch +
    the shard's OPEN bins (never closed history); commit IO = one
    closed segment + the open/counters tables (∝ open bins)."""
    store = SegmentStore(state_dir)
    meta = {"seq_len": seq_len, "close_slack": close_slack}
    return store.append_epoch(
        batch,
        epoch_id,
        lambda b: _pack_frames(
            b, store, meta, seq_len, close_slack, shard_col, id_col, count_col
        ),
        meta=meta,
        replace=("open", "counters"),
    )


def _pack_frames(
    batch: DataFrame,
    store: SegmentStore,
    meta: dict,
    seq_len: int,
    close_slack: int,
    shard_col: str,
    id_col: str,
    count_col: str,
) -> Optional[dict]:
    """The epoch's frames for :func:`_pack_bins_batch` (None when the
    batch holds only zero-token docs): validate ``meta`` against the
    committed one, then first-fit the batch into the open bins."""
    store.check_meta(
        meta, "mixed bin capacities would corrupt the training rows"
    )
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if not 0 <= close_slack < seq_len:
        raise ValueError(
            f"close_slack must be in [0, seq_len), got {close_slack}: "
            "negative values make the close threshold unreachable (open "
            "state grows forever), >= seq_len closes every bin after "
            "one item"
        )

    spark = batch.sparkSession
    # sentinel -1 (not NULL) for the unused long columns of each row
    # kind: a NULL in any int64 column turns the whole column float64
    # on the Arrow->pandas hop, and doc ids above 2^53 would silently
    # round inside the member labels (r11 review) — so ids must be
    # non-negative (fail-loud, the video fid-guard discipline) and the
    # sentinel is unambiguous. Zero-token docs are dropped up front: a
    # shard touched ONLY by them would reach the closure as a bare
    # counter group (empty output, and the counter row would fall out
    # of new_counters, resetting bin numbering).
    id_guard = F.expr(
        f"if(doc_id >= 0, doc_id, raise_error(concat("
        f"'pack_bins_batch: {id_col} ', cast(doc_id as string), "
        f"' is negative — member labels and the -1 column sentinel "
        f"need non-negative ids')))"
    )
    base = (
        batch.select(
            F.col(shard_col).alias("source"),
            F.col(id_col).alias("doc_id"),
            F.col(count_col).cast("long").alias("_n"),
        )
        .where(F.col("_n") > 0)
        .select("source", id_guard.alias("doc_id"), "_n")
        .localCheckpoint(eager=True)
    )
    if base.isEmpty():
        return None
    _L = F.lit(-1).cast("long")
    fulls = base.select(
        "source",
        F.lit("full").alias("kind"),
        _L.alias("bin_id"),
        _L.alias("load"),
        F.lit(None).cast("array<string>").alias("members"),
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN _n >= {seq_len} THEN "
                f"sequence(0L, _n div {seq_len} - 1) ELSE array() END"
            )
        ).alias("chunk"),
        _L.alias("rem"),
        _L.alias("next_bin"),
    )
    pool = base.where(F.expr(f"_n % {seq_len} > 0")).select(
        "source",
        F.lit("item").alias("kind"),
        _L.alias("bin_id"),
        _L.alias("load"),
        F.lit(None).cast("array<string>").alias("members"),
        "doc_id",
        F.expr(f"_n div {seq_len}").alias("chunk"),
        F.expr(f"_n % {seq_len}").alias("rem"),
        _L.alias("next_bin"),
    )
    touched = base.select("source").distinct()
    open_bins = store.read(spark, "open")
    if open_bins is None:
        open_bins = spark.createDataFrame([], _OPEN_SCHEMA)
    counters = store.read(spark, "counters")
    if counters is None:
        counters = spark.createDataFrame([], _COUNTER_SCHEMA)
    state_rows = (
        open_bins.join(touched, "source", "left_semi")
        .select(
            "source",
            F.lit("bin").alias("kind"),
            "bin_id",
            "load",
            "members",
            _L.alias("doc_id"),
            _L.alias("chunk"),
            _L.alias("rem"),
            _L.alias("next_bin"),
        )
        .unionByName(
            counters.join(touched, "source", "left_semi").select(
                "source",
                F.lit("counter").alias("kind"),
                _L.alias("bin_id"),
                _L.alias("load"),
                F.lit(None).cast("array<string>").alias("members"),
                _L.alias("doc_id"),
                _L.alias("chunk"),
                _L.alias("rem"),
                F.col("next_bin"),
            )
        )
    )
    result = (
        fulls.unionByName(pool)
        .unionByName(state_rows)
        .groupBy("source")
        .applyInPandas(
            _make_epoch_ffd_runner(seq_len, close_slack),
            schema=(
                "source string, bin_id long, load long, "
                "members array<string>, closed boolean, next_bin long"
            ),
        )
        .localCheckpoint(eager=True)  # consumed by three cuts below
    )
    newly_closed = result.where(F.col("closed")).select(
        "source",
        "bin_id",
        F.size("members").cast("long").alias("n_items"),
        F.col("load").alias("n_tokens"),
        _render_members(F.col("members")).alias("members"),
    )
    still_open = result.where(~F.col("closed")).select(
        "source", "bin_id", "load", "members"
    )
    new_counters = result.groupBy("source").agg(
        F.max("next_bin").alias("next_bin")
    )

    # appending an EMPTY closed segment every epoch would grow the
    # manifest and the read-union forever on slack-0 streams that
    # rarely close bins (r11 review) — the closed log tracks actual
    # closes only
    return {
        "closed": None if newly_closed.isEmpty() else newly_closed,
        "open": still_open.unionByName(
            open_bins.join(touched, "source", "left_anti")
        ),
        "counters": new_counters.unionByName(
            counters.join(touched, "source", "left_anti")
        ),
    }


def compact_packing_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold the closed-bin segment log (open/counters are
    single-segment already)."""
    return SegmentStore(state_dir).compact_tables_commit(
        spark, ("closed",)
    )


def pack_bins_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    text_col: str = "text",
    **kw,
) -> int:
    """Drain a DOCUMENT stream through the continuous packer: per
    batch, whitespace token counts feed :func:`pack_bins_batch`.
    Returns the number of applied epochs."""
    from transporter_spark.operators.text import token_count

    def apply(batch: DataFrame, epoch_id: int) -> bool:
        counts = batch.select(
            kw.get("shard_col", "source"),
            kw.get("id_col", "doc_id"),
            token_count(text_col).alias(kw.get("count_col", "ntok")),
        )
        return pack_bins_batch(counts, epoch_id, state_dir, **kw)

    return drain_sink(
        stream_df, apply,
        state_dir, "closed", compact_packing_state, compact_every, checkpoint_dir,
    )


def read_packed_bins(spark: SparkSession, state_dir: str) -> DataFrame:
    """The bin table as of the last commit: closed history plus the
    open bins rendered in the same shape — a single-epoch drain from
    empty state equals the batch `pack_bins_ffd` row-for-row."""
    store = SegmentStore(state_dir)
    closed = store.read(spark, "closed")
    open_bins = store.read(spark, "open")
    if closed is None and open_bins is None:
        raise FileNotFoundError(
            f"no committed packing state at {state_dir!r}: the sink "
            "has not applied any non-empty epoch yet"
        )
    if open_bins is None:
        # a manually seeded or partially compacted state can hold
        # closed history with no open table — that is an EMPTY open
        # set, not an error; rendering None would raise an opaque
        # AttributeError instead (ADVICE r11)
        open_bins = spark.createDataFrame([], _OPEN_SCHEMA)
    rendered = open_bins.select(
        "source",
        "bin_id",
        F.size("members").cast("long").alias("n_items"),
        F.col("load").alias("n_tokens"),
        _render_members(F.col("members")).alias("members"),
    )
    if closed is None:
        return rendered
    return closed.unionByName(rendered)


def drain_documents_packing(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    assert_single_epoch: bool = False,
    **kw,
) -> DataFrame:
    """Convenience: stream the documents table through the packing
    sink and return the maintained bin table (the graded query's
    harness). assert_single_epoch: the graded oracle is the batch FFD
    equivalence, which holds only for a one-epoch drain from empty
    state — raise loudly instead of hash-mismatching (the
    stream_ingest_dedup policy)."""
    from transporter_spark.streaming.sources import stream_table

    state = state_dir or tempfile.mkdtemp(prefix="ts_pack_") + "/state"
    docs = stream_table(spark, sf_dir, "documents")
    applied = pack_bins_ingest_sink(docs, state, **kw)
    # applied == 0 (no committed epoch): fall through and let
    # read_packed_bins raise its clearer no-state error instead of
    # misdiagnosing an empty drain as a multi-epoch one; keying on the
    # drain's APPLIED count (not the last epoch ID) keeps skipped-empty
    # leading batches from tripping the assert
    if assert_single_epoch and applied > 1:
        raise RuntimeError(
            f"drain applied {applied} epochs; the single-epoch "
            "batch-FFD oracle equivalence no longer holds — the "
            "documents table is no longer a single-file availableNow "
            "batch"
        )
    return read_packed_bins(spark, state)
