"""Property-based tests (Hypothesis) — the randomized coverage the
reference lacks (SURVEY §5 'not present'; added per the rebuild plan).

Strategy notes: one shared SparkSession, small example counts
(DataFrame round-trips cost ~100ms each), deadline disabled.
"""

from __future__ import annotations

import math
import shutil

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from transporter_spark.operators.transforms import skip_predicate
from transporter_spark.sources.catalog import expand_namespaces

_settings = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

import re as _re

scalars = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(alphabet="0123456789.-+eExyz ", max_size=12),
)

_NUMERIC_RE = _re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _reference_convert(v):
    """The reference's convert() semantics (skipper.go:88-111):
    numbers pass; numeric strings parse; everything else errors
    (-> row dropped in our translation). String parsing modeled with
    the plain-decimal grammar both Go ParseFloat and Spark's cast
    share (NaN/Inf spellings and python-only forms excluded by the
    strategy alphabet)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        s = v.strip()
        if _NUMERIC_RE.match(s):
            try:
                return float(s)
            except ValueError:
                return None
        return None
    return None


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@_settings
@given(value=scalars, match=scalars, op=st.sampled_from([">", ">=", "<", "<="]))
def test_skip_ordered_comparators_match_reference_semantics(sess, value, match, op):
    """For every (value, match, comparator): the Spark predicate keeps
    the row iff the reference's numeric coercion + comparison would."""
    import pyspark.sql.functions as F

    df = sess.createDataFrame([(1,)], "id long").select(
        F.lit(value).alias("f")
    )
    kept = df.filter(skip_predicate(F.col("f"), op, match)).count() == 1

    lv, rv = _reference_convert(value), _reference_convert(match)
    if lv is None or rv is None:
        expected = False  # unconvertible -> dropped (engine-documented divergence:
        # the reference errors the pipeline; we drop the row)
    else:
        expected = {
            ">": lv > rv, ">=": lv >= rv, "<": lv < rv, "<=": lv <= rv
        }[op]
    assert kept == expected, (value, match, op, lv, rv)


@_settings
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")),
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_envelope_roundtrip_property(sess, texts):
    """to_envelope . from_envelope == identity for arbitrary payloads."""
    from transporter_spark.envelope import from_envelope, to_envelope

    rows = [(i, t) for i, t in enumerate(texts)]
    df = sess.createDataFrame(rows, "id long, txt string")
    back = from_envelope(to_envelope(df, ns="t"))
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@_settings
@given(
    pattern_chars=st.text(
        alphabet=st.characters(whitelist_categories=("Ll",)), min_size=1, max_size=6
    ),
    names=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
            min_size=1,
            max_size=10,
        ),
        max_size=8,
    ),
)
def test_expand_namespaces_is_python_regex_partial_match(pattern_chars, names):
    """Catalog expansion == plain re.search over non-system names."""
    import re

    got = expand_namespaces(names, pattern_chars)
    expected = [
        n
        for n in names
        if not n.startswith("system.") and re.search(pattern_chars, n)
    ]
    assert got == expected


@_settings
@given(
    updates=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=100), # ts offset
            st.sampled_from(["insert", "update", "delete"]),
        ),
        min_size=1,
        max_size=12,
    ),
    split_at=st.integers(min_value=0, max_value=12),
)
def test_cdc_apply_order_insensitive_across_batch_splits(sess, updates, split_at):
    """Applying a change log in ONE batch vs split into TWO batches (in
    either order) converges to the same live state — the correctness
    core of out-of-order CDC apply. Changes get unique (ts, seq) so
    LWW is total."""
    import pyspark.sql.functions as F
    from datetime import datetime, timedelta

    from transporter_spark.streaming.cdc import apply_cdc_batch, live_rows

    base = datetime(2024, 1, 1)
    keyed = [
        (op, base + timedelta(seconds=ts), i, f"v{i}_{ts}_{op}")
        for i, (key, ts, op) in enumerate(updates)
    ]

    # seq (unique) breaks ts ties deterministically; key = seq % 4
    def env(subset):
        if not subset:
            subset = []
        df = sess.createDataFrame(
            subset, "op string, ts timestamp, seq long, v string"
        )
        return df.select(
            "op",
            "ts",
            F.lit("t").alias("ns"),
            F.struct(
                (F.col("seq") % 4).alias("k"), F.col("seq"), F.col("v")
            ).alias("data"),
        )

    split_at = min(split_at, len(keyed))
    one = live_rows(apply_cdc_batch(None, env(keyed), ["k"], ["seq"]))
    a = apply_cdc_batch(None, env(keyed[:split_at]), ["k"], ["seq"])
    two = live_rows(apply_cdc_batch(a, env(keyed[split_at:]), ["k"], ["seq"]))
    b = apply_cdc_batch(None, env(keyed[split_at:]), ["k"], ["seq"])
    two_rev = live_rows(apply_cdc_batch(b, env(keyed[:split_at]), ["k"], ["seq"]))

    def canon(df):
        return sorted(map(tuple, df.select("k", "seq", "v").collect()))

    assert canon(one) == canon(two) == canon(two_rev)


# ---------------------------------------------------------------------------
# round-2 connector contracts
# ---------------------------------------------------------------------------

@given(
    filters=st.dictionaries(
        st.sampled_from(["users", "orders"]),
        st.dictionaries(
            st.sampled_from(["active", "region", "tier"]),
            st.one_of(st.booleans(), st.integers(-5, 5), st.text(max_size=4)),
            max_size=3,
        ),
        max_size=2,
    ),
    last_id=st.one_of(st.none(), st.integers(0, 10**9), st.text(max_size=8)),
)
@_settings
def test_mongo_copy_query_laws(filters, last_id):
    """Resume predicate always wins; no filter key is ever lost; the
    input filter dict is never mutated (catQuery, reader.go:172-179)."""
    from transporter_spark.sources.mongo import copy_query

    before = {c: dict(f) for c, f in filters.items()}
    q = copy_query("users", filters, last_id)
    if last_id is not None:
        assert q["_id"] == {"$gt": last_id}
    for k, v in filters.get("users", {}).items():
        if k != "_id":
            assert q[k] == v
    assert filters == before  # pure


@given(
    rows=st.lists(
        st.lists(
            st.one_of(
                st.binary(max_size=12),
                st.text(max_size=12),
                st.integers(-(2**31), 2**31),
                st.none(),
            ),
            min_size=2,
            max_size=2,
        ),
        min_size=0,
        max_size=8,
    ),
)
@_settings
def test_binlog_update_pairing_law(rows):
    """For any even-length row list, updates emit exactly the odd
    indices (after-images), and insert/delete emit every row —
    |updates| == |rows|/2 regardless of content."""
    from transporter_spark.sources.binlog import map_rows_event

    cols = [("a", "varchar"), ("b", "varchar")]
    if len(rows) % 2 == 1:
        rows = rows[:-1]
    ev = {"schema": "s", "table": "t", "rows": rows}
    upd = map_rows_event({**ev, "event_type": "UPDATE_ROWS_EVENTv2"}, cols)
    ins = map_rows_event({**ev, "event_type": "WRITE_ROWS_EVENTv2"}, cols)
    assert len(upd) == len(rows) // 2
    assert len(ins) == len(rows)
    assert all(op == "update" and ns == "s.t" for op, ns, _ in upd)


@given(
    changes=st.lists(
        st.one_of(
            st.fixed_dictionaries({"new_val": st.dictionaries(st.sampled_from(["id"]), st.integers(), min_size=1)}),
            st.fixed_dictionaries({"old_val": st.dictionaries(st.sampled_from(["id"]), st.integers(), min_size=1)}),
            st.fixed_dictionaries(
                {
                    "old_val": st.dictionaries(st.sampled_from(["id"]), st.integers(), min_size=1),
                    "new_val": st.dictionaries(st.sampled_from(["id"]), st.integers(), min_size=1),
                }
            ),
        ),
        max_size=10,
    )
)
@_settings
def test_rethink_classification_total_on_valid_changes(changes):
    """Every error-free notification with at least one value classifies
    to exactly one op; op agrees with value presence."""
    from transporter_spark.sources.rethinkdb import classify_change

    for ch in changes:
        op, doc = classify_change(ch)
        if "old_val" in ch and "new_val" in ch:
            assert op == "update" and doc == ch["new_val"]
        elif "new_val" in ch:
            assert op == "insert" and doc == ch["new_val"]
        else:
            assert op == "delete" and doc == ch["old_val"]


@_settings
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=7200), min_size=1, max_size=25),
)
def test_sessionize_matches_sequential_reference(sess, gaps):
    """sessionize == the obvious sequential algorithm: walk a user's
    events in time order, increment the session counter whenever the
    gap exceeds the threshold (> 1800s here)."""
    import datetime as dt

    from transporter_spark.operators.temporal import sessionize

    t = dt.datetime(2024, 1, 1)
    times = []
    for g in gaps:
        t = t + dt.timedelta(seconds=g)
        times.append(t)
    rows = [(i, 1, ts) for i, ts in enumerate(times)]
    df = sess.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", "30 minutes").collect()
    }
    expected, seq, prev = {}, 0, None
    for i, ts in enumerate(times):
        if prev is None or (ts - prev).total_seconds() > 1800:
            seq += 1
        expected[i] = seq
        prev = ts
    assert got == expected


@_settings
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1,
                  max_size=40, unique=True),
    cap=st.integers(min_value=1, max_value=10),
    ngroups=st.integers(min_value=1, max_value=4),
)
def test_cap_per_group_laws(sess, keys, cap, ngroups):
    """(1) every group ends at most `cap` rows; (2) a group smaller
    than cap is untouched; (3) the kept KEY SET is invariant under
    input order (selection depends only on md5, not arrival)."""
    import pyspark.sql.functions as F

    from transporter_spark.operators.sampling import cap_per_group

    rows = [(k, f"g{k % ngroups}") for k in keys]
    df = sess.createDataFrame(rows, "k long, g string")
    out = cap_per_group(df, "g", "k", cap).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["g"], []).append(r["k"])
    from collections import Counter

    input_sizes = Counter(g for _, g in rows)
    for g, kept in by_group.items():
        assert len(kept) == min(cap, input_sizes[g])
    kept_a = sorted(r["k"] for r in out)
    kept_b = sorted(
        r["k"]
        for r in cap_per_group(
            df.orderBy(F.col("k").desc()).repartition(5), "g", "k", cap
        ).collect()
    )
    assert kept_a == kept_b


@_settings
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefg"), min_size=0, max_size=25
        ).map(lambda toks: " ".join(toks)),
        min_size=1,
        max_size=6,
    ),
    dup_idx=st.integers(min_value=0, max_value=5),
)
def test_prune_repeated_spans_laws(sess, docs, dup_idx):
    """Span-prune invariants on arbitrary corpora: (a) every input doc
    comes back exactly once; (b) kept_text's tokens are a subsequence
    of the input's tokens (excision never reorders or invents); (c)
    docs shorter than the window are untouched; (d) an exact duplicate
    pair (>= W tokens) is fully excised from BOTH copies — identical
    docs repeat every one of their windows."""
    from transporter_spark.operators.dedup import release_cached
    from transporter_spark.operators.text import prune_repeated_spans

    W = 5
    rows = [(i, t) for i, t in enumerate(docs)]
    # plant an exact duplicate of one doc (only meaningful when the
    # chosen doc has at least W tokens)
    victim = rows[dup_idx % len(rows)][1]
    rows.append((100, victim))
    df = sess.createDataFrame(rows, "doc_id long, text string")
    out = prune_repeated_spans(df, window_tokens=W, min_df=2)
    got = {r.doc_id: r.kept_text for r in out.collect()}
    release_cached(out)
    assert sorted(got) == sorted(i for i, _ in rows)          # (a)

    def is_subseq(small, big):
        it = iter(big)
        return all(tok in it for tok in small)

    for i, t in rows:
        assert is_subseq(got[i].split(), t.split()), (i, t)   # (b)
    for i, t in rows:
        if len(t.split()) < W and t != victim:
            assert got[i] == t                                # (c)
    if len(victim.split()) >= W:
        assert got[100] == ""                                 # (d)
        assert got[dup_idx % len(docs)] == ""


@_settings
@given(
    members=st.sets(st.text(alphabet="xyz012", min_size=1, max_size=6),
                    min_size=1, max_size=15),
    probes=st.sets(st.text(alphabet="xyz012", min_size=1, max_size=6),
                   min_size=1, max_size=15),
)
def test_bloom_no_false_negatives_property(sess, members, probes):
    """The Bloom law under arbitrary member/probe sets: every probe
    that IS a member reports member=True (false negatives are
    impossible by construction — the whole point of the sketch)."""
    from transporter_spark.operators.sketches import (
        bloom_contains,
        bloom_words,
    )

    mdf = sess.createDataFrame([(m,) for m in members], "item string")
    pdf = sess.createDataFrame(
        [(i, p) for i, p in enumerate(sorted(probes))], "pid long, item string"
    )
    words = bloom_words(mdf, "item")
    got = {
        r.pid: r.member
        for r in bloom_contains(words, pdf, "item", ["pid"]).collect()
    }
    for i, p in enumerate(sorted(probes)):
        if p in members:
            assert got[i] is True, f"false negative for {p!r}"


@given(
    ops=st.lists(
        st.sampled_from(["insert", "update", "delete"]), min_size=1, max_size=60
    ),
    max_actions=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=60, deadline=None)
def test_es_bulk_body_split_laws(ops, max_actions):
    """The `_bulk` body-split contract the graded es_bulk_ops oracle
    replays, as laws over random op sequences (pure function — no
    Spark): (1) concatenating the bodies reproduces every action's
    lines in input order (no drop, no reorder, no duplication);
    (2) every delete at position > 0 STARTS a body (the
    flush-before-delete ordering guard, clients/v5/writer.go:99-101);
    (3) no body holds more than max_actions actions; (4) every body
    ends with exactly one trailing newline."""
    from transporter_spark.sources.bulk import es_bulk_payloads

    rows = [
        {"op": op, "ns": "t", "data": {"_id": i, "v": i}}
        for i, op in enumerate(ops)
    ]
    bodies = list(es_bulk_payloads(rows, max_actions=max_actions))

    # expected per-action line groups (v5): delete = 1 meta line;
    # insert = index meta + doc; update = update meta + {"doc": ...}
    import json as _json

    def dumps(d):
        return _json.dumps(d, sort_keys=True, separators=(",", ":"), default=str)

    expected = []
    for i, op in enumerate(ops):
        meta_id = str(i)
        if op == "delete":
            expected.append(
                [dumps({"delete": {"_index": "t", "_id": meta_id, "_type": "t"}})]
            )
        elif op == "update":
            expected.append(
                [
                    dumps({"update": {"_index": "t", "_type": "t", "_id": meta_id}}),
                    dumps({"doc": {"v": i}}),
                ]
            )
        else:
            expected.append(
                [
                    dumps({"index": {"_index": "t", "_type": "t", "_id": meta_id}}),
                    dumps({"v": i}),
                ]
            )

    # (4) + reassembly for (1)
    all_lines = []
    for b in bodies:
        assert b.endswith("\n") and not b.endswith("\n\n")
        all_lines.extend(b[:-1].split("\n"))
    assert all_lines == [ln for entry in expected for ln in entry]

    # (2) and (3): walk bodies against the op sequence
    entry_iter = iter(range(len(ops)))
    per_body_ops = []
    for b in bodies:
        lines = b[:-1].split("\n")
        taken = []
        while lines:
            i = next(entry_iter)
            group = expected[i]
            assert lines[: len(group)] == group
            lines = lines[len(group) :]
            taken.append(i)
        per_body_ops.append(taken)
    for body_ops in per_body_ops:
        assert len(body_ops) <= max_actions
    for bi, body_ops in enumerate(per_body_ops):
        for pos, i in enumerate(body_ops):
            if ops[i] == "delete" and i > 0:
                # a delete never sits mid-body: it opened this body
                assert pos == 0, (bi, pos, i)


# --- CDC parser laws (r14: the wire_sources grade family randomized) ---

_bare_ident = st.text(alphabet="abcdefgh012.9_", min_size=1, max_size=8).filter(
    lambda s: not s[0].isdigit()
)
# quoted idents: any printable char except the delimiters the renderer
# can't escape ("), newlines, and the brackets/colon the bare grammar owns
_quoted_inner = st.text(
    alphabet=st.characters(
        blacklist_characters='"\n\r', blacklist_categories=("Cs", "Cc")
    ),
    min_size=1,
    max_size=10,
)
_pg_value_text = st.text(
    alphabet=st.characters(blacklist_characters="\n\r", blacklist_categories=("Cs", "Cc")),
    max_size=20,
)


def _render_ident(name, quoted):
    return f'"{name}"' if quoted else name


@settings(max_examples=60, deadline=None)
@given(
    schema=st.tuples(st.booleans(), _bare_ident, _quoted_inner),
    table=st.tuples(st.booleans(), _bare_ident, _quoted_inner),
    op=st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    cols=st.lists(
        st.tuples(
            st.tuples(st.booleans(), _bare_ident, _quoted_inner),
            st.one_of(
                st.tuples(st.just("integer"), st.integers(-(2**62), 2**62)),
                st.tuples(
                    st.just("double precision"),
                    st.floats(allow_nan=False, allow_infinity=False),
                ),
                st.tuples(st.just("boolean"), st.booleans()),
                st.tuples(st.just("text"), _pg_value_text),
                st.tuples(st.just("text"), st.none()),
                # parametrized numerics coerce on the BASE type;
                # array types stay literal text
                st.tuples(st.just("numeric(10,2)"), st.just("12.34")),
                st.tuples(st.just("integer[]"), st.just("{1,2,3}")),
            ),
        ),
        max_size=5,
    ),
)
def test_pgdecode_parse_roundtrip_law(schema, table, op, cols):
    """parse_test_decoding_line inverts the test_decoding render for
    ARBITRARY identifiers and values (the graded pgdecode_parse_ops
    fixtures walk specific cases; this walks the grammar): quoted
    idents (spaces/dots/brackets inside), '' escaping for any quote
    pattern in text values, null, the casify coercions, and the
    literal-text passthrough for parametrized/array types. Renderer
    written from the postgres contrib format spec, independent of the
    parser's regexes."""
    from transporter_spark.sources.pgdecode import parse_test_decoding_line

    def ident(t, *, allow_dot):
        q, bare, quoted = t
        if q:
            return _render_ident(quoted, True), quoted
        # bare grammar: no dots in schema (the ns split), no colon in table
        name = bare if allow_dot else bare.replace(".", "_")
        return name, name

    schema_txt, schema_name = ident(schema, allow_dot=False)
    table_txt, table_name = ident(table, allow_dot=False)

    parts, expected = [], {}
    seen = set()
    for (col_t, (typ, val)) in cols:
        col_txt, col_name = ident(col_t, allow_dot=True)
        if col_name in seen:
            continue  # dict semantics: last wins; keep names unique instead
        seen.add(col_name)
        if val is None:
            raw, want = "null", None
        elif typ == "integer":
            raw, want = str(val), val
        elif typ == "double precision":
            raw, want = repr(val), float(repr(val))
        elif typ == "boolean":
            raw, want = ("true", True) if val else ("false", False)
        elif typ == "text":
            raw, want = "'" + val.replace("'", "''") + "'", val
        elif typ == "numeric(10,2)":
            raw, want = val, float(val)
        else:  # array: literal passthrough
            raw, want = val, val
        parts.append(f"{col_txt}[{typ}]:{raw}")
        expected[col_name] = want

    line = f"table {schema_txt}.{table_txt}: {op}: " + " ".join(parts)
    parsed = parse_test_decoding_line(line)
    assert parsed is not None, line
    ns, got_op, doc = parsed
    assert ns == f"{schema_name}.{table_name}"
    assert got_op == op.lower()
    assert doc == expected, (line, doc, expected)


@settings(max_examples=40, deadline=None)
@given(
    noise=st.sampled_from(
        ["", "BEGIN 701", "COMMIT 701", "table ", "no match here"]
    ),
    xid=st.integers(0, 2**31),
)
def test_pgdecode_skips_non_row_lines(noise, xid):
    from transporter_spark.sources.pgdecode import parse_test_decoding_line

    assert parse_test_decoding_line(noise) is None
    assert parse_test_decoding_line(f"BEGIN {xid}") is None
    assert parse_test_decoding_line(f"COMMIT {xid}") is None


@settings(max_examples=60, deadline=None)
@given(
    op=st.sampled_from(["i", "u", "d", "n", "c"]),
    doc_id=st.integers(-(2**31), 2**31),
    secs=st.integers(0, 2**31 - 1),
    ordinal=st.integers(0, 2**32 - 1),
    have_o2_id=st.booleans(),
    fetch_found=st.booleans(),
    filters=st.dictionaries(
        st.text(alphabet="abcxyz", min_size=1, max_size=5),
        st.integers(0, 9),
        max_size=3,
    ),
)
def test_oplog_classify_laws(op, doc_id, secs, ordinal, have_o2_id, fetch_found, filters):
    """classify_oplog_entry laws over random entries: (1) ts is ALWAYS
    the MongoTimestamp seconds half regardless of the ordinal bits;
    (2) i/d pass entry.o through untouched; (3) u emits the re-fetched
    doc, never the oplog delta, and the find query is exactly
    copy_query(filters) + the _id overwrite; (4) u skips (None) when
    o2._id is missing or the fetch fails; (5) non-i/u/d never
    classify."""
    from transporter_spark.sources.mongo import classify_oplog_entry, copy_query

    ts_full = (secs << 32) | ordinal
    o = {"_id": doc_id, "v": "x"}
    entry = {"op": op, "ns": "db.c", "ts": ts_full, "o": {"$set": {"poison": 1}} if op == "u" else o}
    if op == "u":
        entry["o2"] = {"_id": doc_id} if have_o2_id else {}

    seen_queries = []

    def fetch(query):
        seen_queries.append(query)
        return {"_id": doc_id, "cur": True} if fetch_found else None

    got = classify_oplog_entry(entry, "c", fetch, {"c": dict(filters)})

    if op in ("n", "c"):
        assert got is None
        return
    if op == "i":
        assert got == ("insert", o, secs)
        return
    if op == "d":
        assert got == ("delete", o, secs)
        return
    # op == "u"
    if not have_o2_id:
        assert got is None and not seen_queries
        return
    expected_query = copy_query("c", {"c": dict(filters)})
    expected_query["_id"] = doc_id
    assert seen_queries == [expected_query]
    if fetch_found:
        assert got == ("update", {"_id": doc_id, "cur": True}, secs)
        assert "$set" not in got[1]  # the delta never leaks
    else:
        assert got is None


@settings(max_examples=60, deadline=None)
@given(
    n_cols=st.integers(0, 4),
    extra=st.integers(0, 3),
    vals=st.lists(st.integers(-100, 100), min_size=0, max_size=7),
)
def test_binlog_backfill_drift_law(n_cols, extra, vals):
    """backfill_columns law: a row longer than the column metadata
    (schema drift mid-binlog) names the overflow positionally _colN at
    the ABSOLUTE index, and never drops or reorders a value."""
    from transporter_spark.sources.binlog import backfill_columns

    row = (vals + [0] * 10)[: n_cols + extra]
    columns = [(f"c{i}", "bigint") for i in range(n_cols)]
    doc = backfill_columns(row, columns)
    assert list(doc) == [f"c{i}" for i in range(min(n_cols, len(row)))] + [
        f"_col{i}" for i in range(n_cols, len(row))
    ]
    assert list(doc.values()) == list(row)


@settings(max_examples=60, deadline=None)
@given(
    seq_a=st.integers(1, 10**8),
    seq_b=st.integers(1, 10**8),
    pos_a=st.integers(0, 2**31),
    pos_b=st.integers(0, 2**31),
)
def test_binlog_offset_rotation_total_order(seq_a, seq_b, pos_a, pos_b):
    """_offset_key orders binlog positions by NUMERIC file suffix then
    position, including the widening past 999999 that wedges a
    lexicographic comparison (mysql-bin.1000000 must sort AFTER
    mysql-bin.999999): the key order must equal (seq, pos) order for
    any suffix pair, zero-padded or widened."""
    from transporter_spark.sources.binlog import _offset_key, binlog_offset

    def name(seq):
        return f"mysql-bin.{seq:06d}"  # mysql's width: pads short, widens long

    ka = _offset_key(binlog_offset(name(seq_a), pos_a))
    kb = _offset_key(binlog_offset(name(seq_b), pos_b))
    want = ((seq_a, pos_a) > (seq_b, pos_b)) - ((seq_a, pos_a) < (seq_b, pos_b))
    got = (ka > kb) - (ka < kb)
    assert got == want, (ka, kb)


@settings(max_examples=40, deadline=None)
@given(
    tables=st.lists(
        st.text(alphabet="abcuv_0123", min_size=1, max_size=10), max_size=8
    ),
    pattern=st.text(alphabet="abcuv.*_", min_size=1, max_size=6),
)
def test_filter_tables_is_unanchored_search(tables, pattern):
    """filter_tables == plain re.search over the listing — the
    reference's regexp.MatchString namespace semantics
    (pipeline/node.go:453), the same law expand_namespaces pins.
    Unanchored: a mid-name match keeps the table; no implicit ^ or $."""
    import re

    from transporter_spark.sources.rethinkdb import filter_tables

    try:
        pat = re.compile(pattern)
    except re.error:
        return  # strategy can emit invalid regex (e.g. leading '*')
    assert filter_tables(tables, pattern) == [
        t for t in tables if pat.search(t)
    ]


_NO_SURROGATES = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8)
_JS_SAFE_INTS = st.integers(min_value=-(2**53 - 1), max_value=2**53 - 1)


@st.composite
def _payloads(draw, doubles):
    """(struct DDL, rows) for an envelope ``data`` column: unicode text,
    JS-safe ints, bools, nulls anywhere below the top, nested structs
    and arrays; doubles only when asked."""
    leaves = {"string": _NO_SURROGATES, "bigint": _JS_SAFE_INTS, "boolean": st.booleans()}
    if doubles:
        leaves["double"] = st.floats(allow_nan=False, allow_infinity=False)

    def field_type(depth):
        kind = draw(st.sampled_from(sorted(leaves) + (["struct", "array"] if depth < 2 else [])))
        if kind == "array":
            ddl, values = field_type(depth + 1)
            return f"array<{ddl}>", st.lists(values, max_size=3)
        if kind == "struct":
            return struct_type(depth + 1)
        return kind, leaves[kind]

    def struct_type(depth):
        names = draw(st.lists(st.sampled_from("abcdef"), min_size=1, max_size=4, unique=True))
        fields = [(n, *field_type(depth)) for n in names]
        ddl = "struct<" + ",".join(f"{n}:{t}" for n, t, _ in fields) + ">"
        return ddl, st.tuples(*[st.one_of(st.none(), v) for _, _, v in fields])

    ddl, values = struct_type(0)
    return ddl, draw(st.lists(values, min_size=1, max_size=4))


_needs_node = pytest.mark.skipif(shutil.which("node") is None, reason="no node executable")


@pytest.mark.parametrize("lang", ["py", pytest.param("js", marks=_needs_node)])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_identity_doc_udf_reencodes_like_json_dumps(sess, lang, data):
    """An identity transform's ``data.json`` equals
    ``json.dumps(json.loads(to_json(data)), default=str)`` byte for
    byte, for a python fn and a node script alike. Doubles are drawn
    for ``py`` only: JavaScript prints an integral double as an int
    (1.0 -> 1) and drops the sign of -0.0, so a double survives a node
    round trip by value, not by text."""
    import json

    import pyspark.sql.functions as F

    from transporter_spark.registry import build_operator

    ddl, rows = data.draw(_payloads(doubles=lang == "py"))
    df = sess.createDataFrame(
        [("insert", None, str(i), row) for i, row in enumerate(rows)],
        f"op string, ts timestamp, ns string, data {ddl}",
    )

    def identity(doc):
        return doc

    cfg = {"fn": identity} if lang == "py" else {"source": "function transform(doc) { return doc; }"}
    got = dict(build_operator(lang, **cfg)(df).select("ns", "data.json").collect())
    want = {
        ns: json.dumps(json.loads(j), default=str)
        for ns, j in df.select("ns", F.to_json("data")).collect()
    }
    assert got == want
