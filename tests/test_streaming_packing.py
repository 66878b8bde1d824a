"""Continuous packing sink (streaming/packing.py): multi-epoch
arrival-order first-fit vs a pure-Python incremental replay,
single-epoch == batch FFD, open-bin state bound via close_slack,
append-only closed history, replay idempotence."""

from __future__ import annotations

import os

import pytest

from transporter_spark.streaming.packing import (
    compact_packing_state,
    pack_bins_batch,
    read_packed_bins,
)
from transporter_spark.streaming.state import SegmentStore


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "source string, doc_id long, ntok long"
    )


def _rows(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "source", "bin_id", "n_items", "n_tokens", "members"
        ).collect()
    )


def _py_incremental(epochs, seq_len, close_slack):
    """Pure-Python replay of the sink's per-epoch algorithm."""
    state = {}  # source -> {"nb": int, "open": {bid: [load, members]}}
    closed = {}

    for rows in epochs:
        by_src = {}
        for s, d, n in rows:
            by_src.setdefault(s, []).append((d, n))
        for s, docs in by_src.items():
            st = state.setdefault(s, {"nb": 0, "open": {}})
            fulls, pool = [], []
            for d, n in docs:
                for k in range(n // seq_len):
                    fulls.append((d, k))
                if n % seq_len:
                    pool.append((d, n // seq_len, n % seq_len))
            for d, k in sorted(fulls):
                closed[(s, st["nb"])] = (
                    1, seq_len, f"{d}.{k}",
                )
                st["nb"] += 1
            for d, k, rem in sorted(pool, key=lambda x: (-x[2], x[0])):
                fit = next(
                    (
                        b
                        for b in sorted(st["open"])
                        if st["open"][b][0] + rem <= seq_len
                    ),
                    None,
                )
                if fit is None:
                    fit = st["nb"]
                    st["nb"] += 1
                    st["open"][fit] = [0, []]
                st["open"][fit][0] += rem
                st["open"][fit][1].append((d, k, rem))
            for b in [
                b
                for b, (ld, _m) in st["open"].items()
                if ld >= seq_len - close_slack
            ]:
                ld, m = st["open"].pop(b)
                closed[(s, b)] = (
                    len(m), ld, "-".join(f"{d}.{k}" for d, k, _ in sorted(m))
                )
    out = dict(closed)
    for s, st in state.items():
        for b, (ld, m) in st["open"].items():
            out[(s, b)] = (
                len(m), ld, "-".join(f"{d}.{k}" for d, k, _ in sorted(m))
            )
    return sorted(
        (s, b, ni, nt, mem) for (s, b), (ni, nt, mem) in out.items()
    )


_E0 = [("a", 1, 130), ("a", 2, 40), ("b", 7, 10), ("b", 8, 63)]
_E1 = [("a", 3, 30), ("a", 4, 24), ("b", 9, 10), ("c", 20, 70)]
_E2 = [("a", 5, 34), ("b", 10, 54)]


@pytest.mark.parametrize("slack", [0, 10])
def test_multi_epoch_matches_python_replay(spark, tmp_path, slack):
    state = str(tmp_path / f"state{slack}")
    for e, rows in enumerate([_E0, _E1, _E2]):
        pack_bins_batch(
            _frame(spark, rows), e, state, seq_len=64, close_slack=slack
        )
    got = _rows(read_packed_bins(spark, state))
    want = _py_incremental([_E0, _E1, _E2], 64, slack)
    assert got == want
    # later epochs really did fill earlier bins: doc 9 (epoch 1)
    # first-fits into the bin doc 7 opened in epoch 0
    if slack == 0:
        assert ("b", 1, 2, 20, "7.0-9.0") in got


def test_single_epoch_equals_batch_ffd(spark, tmp_path):
    from transporter_spark.operators.text import pack_bins_ffd

    rows = _E0 + _E1 + _E2
    state = str(tmp_path / "state")
    pack_bins_batch(_frame(spark, rows), 0, state, seq_len=64)
    got = _rows(read_packed_bins(spark, state))
    want = _rows(pack_bins_ffd(_frame(spark, rows), seq_len=64))
    assert got == want


def test_close_slack_bounds_open_state(spark, tmp_path):
    """close_slack closes bins within slack of full: with slack 14, a
    bin at load >= 50 closes and never accepts more items."""
    state = str(tmp_path / "state")
    pack_bins_batch(
        _frame(spark, [("a", 1, 60)]), 0, state, seq_len=64, close_slack=14
    )
    store = SegmentStore(state)
    assert store.read(spark, "open").count() == 0
    # a 4-token item would have fit at slack 0 — with the bin closed
    # it opens a new one
    pack_bins_batch(
        _frame(spark, [("a", 2, 4)]), 1, state, seq_len=64, close_slack=14
    )
    got = _rows(read_packed_bins(spark, state))
    assert got == [
        ("a", 0, 1, 60, "1.0"),
        ("a", 1, 1, 4, "2.0"),
    ]


def test_replay_noop_and_meta_guard(spark, tmp_path):
    state = str(tmp_path / "state")
    assert pack_bins_batch(_frame(spark, _E0), 0, state, seq_len=64)
    before = _rows(read_packed_bins(spark, state))
    assert not pack_bins_batch(_frame(spark, _E0), 0, state, seq_len=64)
    assert _rows(read_packed_bins(spark, state)) == before
    with pytest.raises(ValueError, match="seq_len"):
        pack_bins_batch(_frame(spark, _E1), 1, state, seq_len=32)
    assert SegmentStore(state).last_epoch() == 0


def test_closed_history_is_append_only(spark, tmp_path):
    state = str(tmp_path / "state")
    pack_bins_batch(_frame(spark, _E0), 0, state, seq_len=64)
    root = os.path.join(state, "segments")

    def snap():
        out = {}
        for dirpath, _d, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    before = {p: m for p, m in snap().items() if p.startswith("closed-")}
    pack_bins_batch(_frame(spark, _E1), 1, state, seq_len=64)
    after = snap()
    for p, m in before.items():
        assert after[p] == m, f"epoch 1 rewrote {p}"


def test_compaction_preserves_bins(spark, tmp_path):
    state = str(tmp_path / "state")
    pack_bins_batch(_frame(spark, _E0), 0, state, seq_len=64)
    pack_bins_batch(_frame(spark, _E1), 1, state, seq_len=64)
    before = _rows(read_packed_bins(spark, state))
    assert compact_packing_state(spark, state)
    assert len(SegmentStore(state).table_segments("closed")) == 1
    assert _rows(read_packed_bins(spark, state)) == before


def test_no_close_epoch_preserves_closed_history(spark, tmp_path):
    """r11 review: skipping the empty closed-segment write relies on
    SegmentStore.commit's merge-omitted-tables semantics — pin that an
    epoch closing ZERO bins keeps the full closed history (and writes
    no empty segment)."""
    state = str(tmp_path / "state")
    pack_bins_batch(_frame(spark, [("a", 1, 130)]), 0, state, seq_len=64)
    before = _rows(read_packed_bins(spark, state))
    closed_segs = SegmentStore(state).table_segments("closed")
    # epoch 1: one small doc — opens a bin, closes nothing
    assert pack_bins_batch(
        _frame(spark, [("a", 2, 10)]), 1, state, seq_len=64
    )
    assert SegmentStore(state).table_segments("closed") == closed_segs
    after = _rows(read_packed_bins(spark, state))
    assert [r for r in after if r[1] < 2] == [
        r for r in before if r[1] < 2
    ]  # history intact
    # doc 2 first-fits into the open remainder bin doc 1 left behind
    assert ("a", 2, 2, 12, "1.2-2.0") in after


def test_zero_token_docs_drop_and_negative_ids_raise(spark, tmp_path):
    state = str(tmp_path / "state")
    # an epoch of ONLY zero-token docs commits nothing
    assert not pack_bins_batch(
        _frame(spark, [("a", 1, 0)]), 0, state, seq_len=64
    )
    assert SegmentStore(state).last_epoch() is None
    with pytest.raises(Exception, match="negative"):
        pack_bins_batch(
            _frame(spark, [("a", -5, 10)]), 0, state, seq_len=64
        )
    with pytest.raises(ValueError, match="close_slack"):
        pack_bins_batch(
            _frame(spark, [("a", 1, 10)]), 0, state, seq_len=64,
            close_slack=-1,
        )


def test_read_packed_bins_closed_only_state_renders(spark, tmp_path):
    """A manually seeded / partially compacted state can hold closed
    history with no open table: that is an empty open set, not an
    AttributeError (ADVICE r11)."""
    from transporter_spark.streaming.packing import read_packed_bins
    from transporter_spark.streaming.state import SegmentStore

    state = str(tmp_path / "state")
    store = SegmentStore(state)
    closed = spark.createDataFrame(
        [("a", 0, 2, 60, "1.0-2.0")],
        "source string, bin_id long, n_items long, n_tokens long, "
        "members string",
    )
    closed.write.parquet(store.seg_path("closed-e0"))
    store.commit(0, tables={"closed": ["closed-e0"]})
    rows = read_packed_bins(spark, state).collect()
    assert [(r.source, r.bin_id, r.n_items) for r in rows] == [("a", 0, 2)]
