"""Continuous pretraining sink (streaming/pretrain.py): multi-epoch
drain == batch curate->encode->pack, tail-carry across sequence
boundaries, replay idempotence, append-only commit IO, standing
tokenizer guards."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from transporter_spark.operators.text import (
    bpe_encode_ids,
    bpe_learn_from_counts,
    bpe_vocab_from_words,
    bpe_word_counts,
    curate_docs,
    pack_token_ids,
)
from transporter_spark.streaming.pretrain import (
    compact_pretrain_state,
    pretrain_batch,
    read_pretrain_packed,
)
from transporter_spark.streaming.state import SegmentStore

# tiny corpus: two shards, duplicate text across epochs (doc 20 is a
# case/punct variant of doc 1 -> normalized exact-dup), token streams
# deliberately NOT multiples of seq_len so tails carry
_DOCS = [
    (1, "web", "aa bb cc dd ee"),
    (2, "web", "ff gg hh"),
    (3, "code", "ii jj kk ll"),
    (10, "web", "mm nn"),
    (11, "code", "oo pp qq"),
    (20, "web", "AA, bb! cc dd ee"),  # near-identical to doc 1 post-norm
    (21, "code", "rr ss"),
]


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def _tokenizer(spark, docs):
    kept = curate_docs(docs, min_tokens=1).select(
        "doc_id", "source", F.col("rtext").alias("text")
    )
    wc = bpe_word_counts(kept)
    merges = bpe_learn_from_counts(wc, 2)
    vocab = bpe_vocab_from_words(wc, merges)
    return merges, vocab


def _batch_pack(docs, merges, vocab, seq_len):
    kept = curate_docs(docs, min_tokens=1)
    ids = bpe_encode_ids(kept, merges, vocab, text_col="rtext")
    return pack_token_ids(
        ids,
        kept.select("doc_id", "source"),
        seq_len=seq_len,
        with_boundaries=True,
    )


def _rows(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "source", "seq_id", "n_tokens", "token_ids", "doc_starts"
        ).collect()
    )


def _all_files(state: str):
    out = {}
    root = os.path.join(state, "segments")
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.parametrize("split", [1, 3, 5])
def test_multi_epoch_drain_equals_batch_any_boundary(spark, tmp_path, split):
    """Ordered multi-epoch delivery packs EXACTLY like the batch
    pipeline for any epoch boundary — including boundaries that leave
    a mid-sequence tail (seq_len=4 over 3-7-token docs guarantees
    carries)."""
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    state = str(tmp_path / f"state{split}")

    e0 = [r for r in _DOCS if r[0] <= _DOCS[split - 1][0]]
    e1 = [r for r in _DOCS if r[0] > _DOCS[split - 1][0]]
    for epoch, rows in enumerate([e0, e1]):
        pretrain_batch(
            _frame(spark, rows), epoch, state,
            merges=merges, vocab=vocab, seq_len=4, min_tokens=1,
        )
    got = _rows(read_pretrain_packed(spark, state))
    want = _rows(_batch_pack(docs, merges, vocab, seq_len=4))
    assert got == want


def test_cross_epoch_dedup_and_redelivery(spark, tmp_path):
    """A later epoch re-delivering an accepted id, or delivering a
    normalized duplicate of accepted TEXT, contributes nothing — the
    curated fingerprints answer both without reading packed state."""
    state = str(tmp_path / "state")
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    kw = dict(merges=merges, vocab=vocab, seq_len=4, min_tokens=1)
    assert pretrain_batch(_frame(spark, _DOCS[:5]), 0, state, **kw)
    before = _rows(read_pretrain_packed(spark, state))
    # epoch 1: redelivered id 1 + fresh duplicate text (doc 20) only
    applied = pretrain_batch(
        _frame(spark, [_DOCS[0], _DOCS[5]]), 1, state, **kw
    )
    assert not applied  # everything curated away -> no commit
    assert _rows(read_pretrain_packed(spark, state)) == before
    # epoch 2 still applies new docs on top
    assert pretrain_batch(_frame(spark, [_DOCS[6]]), 2, state, **kw)
    want = _rows(
        _batch_pack(
            _frame(spark, _DOCS[:5] + [_DOCS[6]]), merges, vocab, 4
        )
    )
    assert _rows(read_pretrain_packed(spark, state)) == want


def test_exactly_filled_shard_has_empty_tail_then_continues(spark, tmp_path):
    """A shard ending an epoch exactly on a sequence boundary leaves an
    EMPTY tail (no short row rendered) and the next epoch starts a
    fresh sequence at the right seq_id."""
    state = str(tmp_path / "state")
    e0 = [(1, "web", "a b c d")]  # 4 single-char tokens == seq_len
    e1 = [(2, "web", "e f")]
    docs = _frame(spark, e0 + e1)
    merges, vocab = _tokenizer(spark, docs)
    kw = dict(merges=merges, vocab=vocab, seq_len=4, min_tokens=1)
    pretrain_batch(_frame(spark, e0), 0, state, **kw)
    store = SegmentStore(state)
    tails = store.read(spark, "tail").collect()
    assert len(tails) == 1 and tails[0].tail_ids == [] \
        and tails[0].n_seqs == 1
    assert _rows(read_pretrain_packed(spark, state)) == _rows(
        _batch_pack(_frame(spark, e0), merges, vocab, 4)
    )
    pretrain_batch(_frame(spark, e1), 1, state, **kw)
    assert _rows(read_pretrain_packed(spark, state)) == _rows(
        _batch_pack(docs, merges, vocab, 4)
    )


def test_epoch_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "state")
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    kw = dict(merges=merges, vocab=vocab, seq_len=4, min_tokens=1)
    assert pretrain_batch(_frame(spark, _DOCS[:4]), 0, state, **kw)
    snap = _all_files(state)
    assert not pretrain_batch(_frame(spark, _DOCS[:4]), 0, state, **kw)
    assert _all_files(state) == snap
    assert SegmentStore(state).last_epoch() == 0


def test_commit_io_is_append_only_for_packed_and_curated(spark, tmp_path):
    """Per-epoch IO ∝ batch: packed/curated segments from earlier
    epochs are never rewritten; only the constant-sized
    tail/merges/vocab tables are replaced."""
    state = str(tmp_path / "state")
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    kw = dict(merges=merges, vocab=vocab, seq_len=4, min_tokens=1)
    pretrain_batch(_frame(spark, _DOCS[:4]), 0, state, **kw)
    before = _all_files(state)
    immutable = {
        p: m
        for p, m in before.items()
        if p.startswith(("packed-", "curated-", "merges-", "vocab-"))
    }
    pretrain_batch(_frame(spark, _DOCS[4:]), 1, state, **kw)
    after = _all_files(state)
    for path, meta in immutable.items():
        assert after[path] == meta, f"epoch 1 rewrote {path}"
    for path in set(after) - set(before):
        if path.startswith(("packed-", "curated-")):
            assert path.split("/")[0].endswith("-e1"), (
                f"epoch 1 wrote outside its own segments: {path}"
            )


def test_standing_tokenizer_guards(spark, tmp_path):
    state = str(tmp_path / "state")
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    with pytest.raises(ValueError, match="standing tokenizer"):
        pretrain_batch(
            _frame(spark, _DOCS[:2]), 0, state, seq_len=4, min_tokens=1
        )
    pretrain_batch(
        _frame(spark, _DOCS[:2]), 0, state,
        merges=merges, vocab=vocab, seq_len=4, min_tokens=1,
    )
    other = [{"step": 1, "lhs": "zz", "rhs": "qq", "merged": "zzqq",
              "pair_count": 1}]
    with pytest.raises(ValueError, match="different"):
        pretrain_batch(
            _frame(spark, _DOCS[2:4]), 1, state,
            merges=other, vocab=vocab, seq_len=4, min_tokens=1,
        )
    with pytest.raises(ValueError, match="seq_len"):
        pretrain_batch(
            _frame(spark, _DOCS[2:4]), 1, state,
            merges=merges, vocab=vocab, seq_len=8, min_tokens=1,
        )
    # omitting merges on a later epoch uses the state's (the restart
    # path) — and still packs correctly
    assert pretrain_batch(
        _frame(spark, _DOCS[2:4]), 1, state, seq_len=4, min_tokens=1
    )
    want = _rows(_batch_pack(_frame(spark, _DOCS[:4]), merges, vocab, 4))
    assert _rows(read_pretrain_packed(spark, state)) == want


def test_compaction_preserves_packed_content(spark, tmp_path):
    state = str(tmp_path / "state")
    docs = _frame(spark, _DOCS)
    merges, vocab = _tokenizer(spark, docs)
    kw = dict(merges=merges, vocab=vocab, seq_len=4, min_tokens=1)
    pretrain_batch(_frame(spark, _DOCS[:4]), 0, state, **kw)
    pretrain_batch(_frame(spark, _DOCS[4:]), 1, state, **kw)
    before = _rows(read_pretrain_packed(spark, state))
    assert compact_pretrain_state(spark, state)
    store = SegmentStore(state)
    assert len(store.table_segments("packed")) == 1
    assert len(store.table_segments("curated")) == 1
    assert _rows(read_pretrain_packed(spark, state)) == before


def test_chunked_drain_with_compaction_equals_batch(spark, sf_dir, tmp_path):
    """The graded query's harness (chunked file stream, one epoch per
    chunk) PLUS scheduled compaction folding the packed/curated logs
    mid-drain: the maintained stream must still equal the batch
    curate->encode->pack replay — compaction is content-preserving at
    any point in the epoch sequence."""
    import pyspark.sql.functions as F

    from transporter_spark.sources.files import read_table
    from transporter_spark.streaming.pretrain import (
        chunked_table_stream,
        pretrain_ingest_sink,
        read_pretrain_packed,
    )

    docs = read_table(spark, sf_dir, "documents")
    kept = curate_docs(docs).select(
        "doc_id", "source", F.col("rtext").alias("text")
    )
    wc = bpe_word_counts(kept)
    merges = bpe_learn_from_counts(wc, 2)
    vocab = bpe_vocab_from_words(wc, merges)

    state = str(tmp_path / "state")
    stream = chunked_table_stream(
        spark, sf_dir, "documents", num_chunks=4,
        out_dir=str(tmp_path / "chunks"),
    )
    pretrain_ingest_sink(
        stream, state, merges=merges, vocab=vocab, seq_len=64,
        compact_every=2,
    )
    assert SegmentStore(state).last_epoch() == 3
    store = SegmentStore(state)
    # the fold actually ran: fewer live packed segments than epochs
    assert len(store.table_segments("packed")) < 4

    got = _rows(read_pretrain_packed(spark, state))
    kept_full = curate_docs(docs)
    ids = bpe_encode_ids(kept_full, merges, vocab, text_col="rtext")
    want = _rows(
        pack_token_ids(
            ids,
            kept_full.select("doc_id", "source"),
            seq_len=64,
            with_boundaries=True,
        )
    )
    assert got == want


def test_pack_2epoch_oracle_matches_drain_at_nonzero_slack(spark, tmp_path):
    """The graded stream_pack_bins_2epoch row runs at close_slack=0;
    this differential pins `ffd_2epoch_oracle_sql`'s close_slack
    PARAMETERIZATION against the real 2-chunk drain on synthetic
    counts engineered so epoch-0 bins close mid-stream (load >=
    seq_len - slack), others carry, and epoch-1 items land in carried
    bins — the cross-epoch fill path is asserted to have actually
    occurred, not just matched vacuously."""
    import duckdb

    from transporter_spark.operators.text import ffd_2epoch_oracle_sql
    from transporter_spark.streaming.packing import (
        pack_bins_ingest_sink,
        read_packed_bins,
    )
    from transporter_spark.streaming.sources import chunked_table_stream

    counts = {
        ("a", 0): 10, ("b", 1): 7, ("a", 2): 8, ("b", 3): 6,
        ("a", 4): 40, ("b", 5): 14, ("a", 6): 4, ("b", 7): 9,
        ("a", 8): 3, ("b", 9): 5, ("a", 10): 12, ("b", 11): 20,
    }
    rows = [
        (doc_id, src, " ".join(f"t{doc_id}x{j}" for j in range(n)))
        for (src, doc_id), n in counts.items()
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    docs.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))

    state = str(tmp_path / "state")
    stream = chunked_table_stream(spark, sf_dir, "documents", 2)
    pack_bins_ingest_sink(stream, state, seq_len=16, close_slack=3)
    got = sorted(
        (r.source, r.bin_id, r.n_items, r.n_tokens, r.members)
        for r in read_packed_bins(spark, state).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'documents.parquet')}/*.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(
            ffd_2epoch_oracle_sql(16, close_slack=3)
        ).fetchall()
    )
    assert got == want
    # the carry path genuinely fired: some bin holds members from
    # both chunks (doc_id <= 5 and >= 6 — the 0.5-quantile split)
    def doc_ids(members):
        return [int(m.split(".")[0]) for m in members.split("-")]

    assert any(
        min(doc_ids(m)) <= 5 and max(doc_ids(m)) >= 6
        for _s, _b, _i, _t, m in got
    )
