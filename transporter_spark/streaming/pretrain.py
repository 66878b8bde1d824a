"""Continuous pretraining composition: curate -> tokenize -> pack,
maintained incrementally from a document stream — the artifact loop a
training job actually consumes (VERDICT r10 item 1).

The batch capstone (`pretraining_pipeline`, queries.py) proves the
composition PII-redact -> quality gate -> exact dedup -> BPE encode ->
pack-with-boundaries end-to-end on a static corpus. The production
shape is data arriving forever: each micro-batch is curated with the
SAME `operators.text.curate_docs` definition the batch pipeline runs
(plus the cross-epoch first-wins anti-joins), encoded with the
STANDING tokenizer (merges + vocab are fixed artifacts — production
tokenizers are trained once, then frozen; they are persisted into the
state at the first epoch and read back on every later one, so a
restarted sink cannot drift), and packed into fixed-length training
rows that APPEND as new segments. The packing is stateful: a shard's
token stream rarely ends an epoch on a sequence boundary, so the
trailing partial sequence (< seq_len ids, with its document-start
offsets) is carried per shard in a tiny ``tail`` table and completed
by the next epoch's tokens — emitted packed rows are immutable.

State (SegmentStore, one atomic manifest commit per epoch):

- ``packed``  — (source, seq_id, n_tokens, token_ids, doc_starts)
  FULL sequences only, append-only, one segment per epoch;
- ``curated`` — (id, nhash) of accepted docs: the cross-epoch
  re-delivery guard (id) and the exact-dedup first-wins fingerprint
  (nhash — persisted from `curate_docs(with_nhash=True)` itself, so
  the dedup key cannot drift from the batch definition);
- ``tail``    — one row per shard: (source, n_seqs, tail_ids,
  tail_starts). Rewritten each epoch, but it is n_shards x seq_len
  longs — constant-sized, never ∝ corpus;
- ``merges`` / ``vocab`` — the standing tokenizer, written once at
  the first applied epoch.

Per-epoch IO ∝ |batch| (+ the constant tail): the packed history and
curated fingerprints are never rewritten (pinned in
tests/test_streaming_pretrain.py with the append-only snapshot
pattern).

Equivalence contract (the maintained == batch discipline every other
sink meets): a drain whose epochs deliver each shard's documents in
ascending id order yields ``read_pretrain_packed`` ==
`pretraining_pipeline`'s batch replay EXACTLY, for ANY epoch
boundaries — first-wins dedup degenerates to min-id-canonical and the
tail-carry makes packing associative across epochs. Packing (like all
streaming dedup) is inherently arrival-order-dependent; out-of-order
delivery still packs every surviving token exactly once, just in
arrival order. Replay/restart semantics are the SegmentStore
contract: replayed epochs are no-ops, a backwards epoch counter
raises, compaction folds segments with one-commit reader retention.
"""

from __future__ import annotations

import hashlib
import tempfile
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.streaming.sources import chunked_table_stream
from transporter_spark.streaming.state import (
    SegmentStore,
    drain_sink,
)

_TABLES = ("packed", "curated", "tail")

_TAIL_SCHEMA = (
    "source string, n_seqs long, tail_ids array<long>, "
    "tail_starts array<long>"
)


def _merges_signature(merges: Sequence) -> str:
    """Order-sensitive md5 over the merge pairs — the meta fingerprint
    that refuses an epoch encoded with a different tokenizer than the
    state was built with."""
    pairs = [
        (m["lhs"], m["rhs"]) if isinstance(m, dict) else (m[0], m[1])
        for m in merges
    ]
    h = hashlib.md5()
    for lhs, rhs in pairs:
        h.update(lhs.encode("utf-8"))
        h.update(b"\x1f")
        h.update(rhs.encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def _load_tokenizer(store: SegmentStore, spark: SparkSession):
    """(merges list, vocab DataFrame) from the state's persisted
    tokenizer tables — the standing artifacts every epoch after the
    first encodes with."""
    mdf = store.read(spark, "merges")
    vocab = store.read(spark, "vocab")
    if mdf is None or vocab is None:
        return None, None
    rows = sorted(mdf.collect(), key=lambda r: r.step)
    merges = [
        {
            "step": r.step,
            "lhs": r.lhs,
            "rhs": r.rhs,
            "merged": r.merged,
            "pair_count": r.pair_count,
        }
        for r in rows
    ]
    return merges, vocab


def pretrain_batch(batch: DataFrame, epoch_id: int, state_dir: str,
                   **kw) -> bool:
    """Public face of :func:`_pretrain_batch` (same signature): scopes
    ``spark.sql.shuffle.partitions`` to the core count around the
    epoch's work — foreachBatch plans get no AQE coalescing (the
    ingest-sink lesson, streaming/ingest.py)."""
    from transporter_spark.session import scoped_shuffle_partitions

    spark = batch.sparkSession
    with scoped_shuffle_partitions(
        spark, spark.sparkContext.defaultParallelism
    ):
        return _pretrain_batch(batch, epoch_id, state_dir, **kw)


def _pretrain_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    merges: Optional[Sequence] = None,
    vocab: Optional[DataFrame] = None,
    seq_len: int = 512,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> bool:
    """One epoch of the continuous pretraining pipeline; returns False
    when the epoch was already applied / empty / fully curated away.

    ``merges``/``vocab`` seed the standing tokenizer: REQUIRED at the
    first applied epoch (they are persisted into the state), read back
    from the state and validated by signature on every later epoch —
    passing a DIFFERENT merge list than the state holds raises.

    Per-epoch shape: curation ∝ |batch| (projections + one hash
    window + two anti-joins against the 48 B/doc curated
    fingerprints); encode ∝ |batch| tokens (row-local cascade +
    broadcast vocab + one per-doc position window); pack ∝ |batch|
    tokens + seq_len per touched shard (the carried tails union in as
    ordinary token rows). Commit IO: one packed segment (full
    sequences only), one curated segment, one constant-sized tail
    segment, one manifest file.
    """
    store = SegmentStore(state_dir)
    meta = {"seq_len": seq_len, "min_tokens": min_tokens}
    if merges is not None:
        # a state tokenizer that differs raises in _pretrain_frames, so
        # this is the signature the epoch encodes with; without merges=
        # the state's own signature stays in the meta
        meta["merges_md5"] = _merges_signature(merges)
    return store.append_epoch(
        batch,
        epoch_id,
        lambda b: _pretrain_frames(
            b, store, merges, vocab, seq_len, min_tokens, text_col, id_col,
            source_col,
        ),
        meta=meta,
        # tail/merges/vocab are replaced wholesale
        replace=("tail", "merges", "vocab"),
    )


def _pretrain_frames(
    batch: DataFrame,
    store: SegmentStore,
    merges: Optional[Sequence],
    vocab: Optional[DataFrame],
    seq_len: int,
    min_tokens: int,
    text_col: str,
    id_col: str,
    source_col: str,
) -> Optional[dict]:
    """The epoch's frames for :func:`_pretrain_batch`: curate, encode
    with the standing tokenizer, pack with tail carry. None when the
    whole batch is curated away."""
    from transporter_spark.operators.text import (
        bpe_encode_ids,
        bpe_merges_df,
        curate_docs,
    )

    spark = batch.sparkSession
    state_merges, state_vocab = _load_tokenizer(store, spark)
    if state_merges is not None:
        if merges is not None and _merges_signature(
            merges
        ) != _merges_signature(state_merges):
            raise ValueError(
                f"pretraining state at {store.base!r} holds a different "
                "standing tokenizer than the merges passed to this "
                "epoch — encoding the stream with two vocabularies "
                "would silently corrupt the packed ids. Pass no merges "
                "(the state's are used) or rebuild the state."
            )
        merges, vocab = state_merges, state_vocab
    elif merges is None or vocab is None:
        raise ValueError(
            "first epoch needs the standing tokenizer: pass merges= "
            "and vocab= (they are persisted into the state and read "
            "back on every later epoch)"
        )
    store.check_meta(
        {
            "seq_len": seq_len,
            "min_tokens": min_tokens,
            "merges_md5": _merges_signature(merges),
        },
        "mixing packing geometries or tokenizers would silently corrupt "
        "the training stream",
    )

    # -- curate: the batch definition + cross-epoch first-wins --------
    kept = curate_docs(
        batch,
        min_tokens=min_tokens,
        text_col=text_col,
        id_col=id_col,
        source_col=source_col,
        with_nhash=True,
    )
    seen = store.read(spark, "curated")
    if seen is not None:
        kept = kept.join(
            seen.select(F.col("id").alias("_seen_id")),
            F.col(id_col) == F.col("_seen_id"),
            "left_anti",
        ).join(
            seen.select(F.col("nhash").alias("_seen_nhash")),
            F.col("nhash") == F.col("_seen_nhash"),
            "left_anti",
        )
    # three consumers below (fingerprints, encode, counts) — cut the
    # curation lineage once
    kept = kept.localCheckpoint(eager=True)
    if kept.isEmpty():
        return None

    # -- encode with the standing tokenizer ----------------------------
    ids = bpe_encode_ids(kept, merges, vocab, text_col="rtext", id_col=id_col)

    # -- pack with tail carry ------------------------------------------
    tails = store.read(spark, "tail")
    if tails is None:
        tails = spark.createDataFrame([], _TAIL_SCHEMA)
    counts = ids.groupBy(id_col).agg(F.count("*").cast("long").alias("_ntok"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = tails.select(
        F.col("source").alias(source_col),
        (
            F.col("n_seqs") * seq_len + F.size("tail_ids").cast("long")
        ).alias("_prev_total"),
    )
    offs = (
        kept.select(id_col, source_col)
        .join(counts, id_col)
        .join(prev, source_col, "left")
        .withColumn("_prev_total", F.coalesce("_prev_total", F.lit(0).cast("long")))
        .withColumn("_base", F.sum("_ntok").over(w) - F.col("_ntok") + F.col("_prev_total"))
        .select(id_col, source_col, "_base")
    )
    new_rows = ids.join(offs, id_col).select(
        F.col(source_col).alias("source"),
        (F.col("_base") + F.col("tok_idx")).alias("gpos"),
        "token_id",
        (F.col("tok_idx") == 0).alias("is_start"),
    )
    touched_sources = kept.select(
        F.col(source_col).alias("source")
    ).distinct()
    tail_rows = (
        tails.join(touched_sources, "source", "left_semi")
        .select(
            "source",
            (F.col("n_seqs") * seq_len).alias("_seq_base"),
            "tail_starts",
            F.posexplode("tail_ids").alias("pos", "token_id"),
        )
        .select(
            "source",
            (F.col("_seq_base") + F.col("pos")).alias("gpos"),
            "token_id",
            F.array_contains("tail_starts", F.col("pos").cast("long")).alias(
                "is_start"
            ),
        )
    )
    g = new_rows.unionByName(tail_rows)
    off = F.pmod(F.col("gpos"), F.lit(seq_len))
    agg = (
        g.withColumn("seq_id", F.expr(f"gpos div {seq_len}"))
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("gpos", "token_id"))),
                lambda s: s.token_id.cast("long"),
            ).alias("ids_arr"),
            F.array_sort(
                F.array_distinct(
                    F.collect_list(
                        F.when(
                            F.col("is_start") | (off == 0),
                            off.cast("long"),
                        )
                    )
                )
            ).alias("starts_arr"),
        )
        .localCheckpoint(eager=True)  # consumed by full AND partial cuts
    )
    full = agg.where(F.col("n_tokens") == seq_len).select(
        "source",
        "seq_id",
        "n_tokens",
        F.array_join(
            F.transform(F.col("ids_arr"), lambda x: x.cast("string")), "-"
        ).alias("token_ids"),
        F.array_join(
            F.transform(F.col("starts_arr"), lambda x: x.cast("string")), "-"
        ).alias("doc_starts"),
    )
    # at most ONE partial per shard by construction (positions are
    # contiguous, only the stream's last sequence can be short)
    partial = agg.where(F.col("n_tokens") < seq_len)
    new_tails = (
        touched_sources.join(
            partial.select(
                "source",
                F.col("seq_id").alias("n_seqs"),
                F.col("ids_arr").alias("tail_ids"),
                F.col("starts_arr").alias("tail_starts"),
            ),
            "source",
            "left",
        )
        .join(
            # an exactly-filled shard has no partial row: n_seqs = 1 +
            # its max emitted seq_id, tail empty
            agg.groupBy("source").agg(
                (F.max("seq_id") + 1).alias("_next_seq")
            ),
            "source",
        )
        .select(
            "source",
            F.coalesce("n_seqs", F.col("_next_seq")).alias("n_seqs"),
            F.coalesce("tail_ids", F.expr("array()").cast("array<long>")).alias(
                "tail_ids"
            ),
            F.coalesce(
                "tail_starts", F.expr("array()").cast("array<long>")
            ).alias("tail_starts"),
        )
        .unionByName(tails.join(touched_sources, "source", "left_anti"))
    )

    # -- append-only commit --------------------------------------------
    first_commit = store.manifest() is None
    return {
        "packed": full,
        "curated": kept.select(F.col(id_col).alias("id"), "nhash"),
        "tail": new_tails,
        "merges": bpe_merges_df(spark, merges) if first_commit else None,
        "vocab": vocab if first_commit else None,
    }


def compact_pretrain_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold the per-epoch packed/curated segment logs into one segment
    each (the shared list-table discipline; tail/merges/vocab are
    single-segment already)."""
    return SegmentStore(state_dir).compact_tables_commit(
        spark, ("packed", "curated")
    )


def pretrain_ingest_sink(
    stream_df: DataFrame,
    state_dir: str,
    merges: Optional[Sequence] = None,
    vocab: Optional[DataFrame] = None,
    checkpoint_dir: Optional[str] = None,
    compact_every: Optional[int] = None,
    **kw,
) -> int:
    """Drain a document stream through the continuous pretraining sink
    (availableNow); the packed training rows at ``state_dir`` are
    readable between and after runs via :func:`read_pretrain_packed`.
    Returns the number of applied epochs."""
    return drain_sink(
        stream_df,
        lambda b, e: pretrain_batch(
            b, e, state_dir, merges=merges, vocab=vocab, **kw
        ),
        state_dir, "packed", compact_pretrain_state, compact_every, checkpoint_dir,
    )


def read_pretrain_packed(spark: SparkSession, state_dir: str) -> DataFrame:
    """The training stream as of the last commit: every emitted FULL
    sequence plus each shard's current partial tail rendered as its
    final short row — exactly the batch `pack_token_ids(...,
    with_boundaries=True)` output over the accepted corpus."""
    store = SegmentStore(state_dir)
    packed = store.read(spark, "packed")
    if packed is None:
        raise FileNotFoundError(
            f"no committed pretraining state at {state_dir!r}: the sink "
            "has not applied any non-empty epoch yet"
        )
    tails = store.read(spark, "tail")
    rendered = (
        tails.where(F.size("tail_ids") > 0)
        .select(
            "source",
            F.col("n_seqs").alias("seq_id"),
            F.size("tail_ids").cast("long").alias("n_tokens"),
            F.array_join(
                F.transform(F.col("tail_ids"), lambda x: x.cast("string")),
                "-",
            ).alias("token_ids"),
            F.array_join(
                F.transform(
                    F.col("tail_starts"), lambda x: x.cast("string")
                ),
                "-",
            ).alias("doc_starts"),
        )
    )
    return packed.unionByName(rendered)


def drain_documents_pretraining(
    spark: SparkSession,
    sf_dir: str,
    state_dir: Optional[str] = None,
    num_chunks: int = 4,
    num_merges: int = 8,
    seq_len: int = 512,
    min_epochs: int = 2,
) -> DataFrame:
    """The graded drain: learn the standing tokenizer ONCE on the
    batch-curated corpus (the setup step — production tokenizers are
    a frozen artifact trained before serving), then stream the
    documents table through the continuous sink in ``num_chunks``
    doc_id-ordered epochs and return the maintained packed stream.
    Raises unless at least ``min_epochs`` epochs actually applied —
    the whole point of this query is multi-epoch == batch, so a
    fixture change that collapses the drain to one epoch must fail
    loudly, not silently weaken the claim."""
    from transporter_spark.operators.dedup import _materialize
    from transporter_spark.operators.text import (
        bpe_learn_from_counts,
        bpe_vocab_from_words,
        bpe_word_counts,
        curate_docs,
    )
    from transporter_spark.sources.files import read_table

    docs = read_table(spark, sf_dir, "documents")
    kept = curate_docs(docs).select(
        "doc_id", "source", F.col("rtext").alias("text")
    )
    wc = _materialize(bpe_word_counts(kept))
    merges = bpe_learn_from_counts(wc, num_merges)
    vocab = bpe_vocab_from_words(wc, merges)

    from transporter_spark.streaming.sources import assert_epochs_applied

    state = state_dir or tempfile.mkdtemp(prefix="ts_pretrain_") + "/state"
    stream = chunked_table_stream(spark, sf_dir, "documents", num_chunks)
    applied = pretrain_ingest_sink(
        stream, state, merges=merges, vocab=vocab, seq_len=seq_len
    )
    assert_epochs_applied(applied, min_epochs)
    return read_pretrain_packed(spark, state)
