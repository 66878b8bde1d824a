"""Corpus deduplication operators — exact and near-duplicate.

These are the scale-path operators a 100TB training-data pipeline needs.
Design rules: everything is expressed as joins/aggregations over
*exploded shingle* frames so Catalyst distributes them; candidate
generation is always bucketed (hash group or LSH band) so no all-pairs
comparison ever materializes; the only cross-engine-stable hash used is
md5 (available in Spark, DuckDB, and every warehouse) so results are
reproducible and oracle-checkable.

Cross-engine hash note: Spark's ``hash()``/``xxhash64`` are
Spark-specific seeds; md5-prefix-as-int is the portable choice. At
production scale swap ``_stable_hash64`` to ``xxhash64`` (faster, same
distribution) — semantics are unchanged, only reproducibility across
engines is lost.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transporter_spark.registry import register

# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------

def stable_hash(col: Column, nibbles: int = 8) -> Column:
    """Portable hash: first ``nibbles`` hex digits of md5 as a bigint
    (0 .. 16^nibbles - 1; nibbles <= 15 keeps it in int64). The ONE
    audited Spark/DuckDB twin — DuckDB side:
    CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, nibbles))::UBIGINT
    AS BIGINT). Used at 8 nibbles by the dedup family and 15 (60 bits)
    by the sketches."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, nibbles), 16, 10
    ).cast("long")


def stable_hash32(col: Column) -> Column:
    """Portable 32-bit hash: `stable_hash` at its 8-nibble default."""
    return stable_hash(col)


def tokens(col_name: str) -> Column:
    """Whitespace tokenization (non-space runs; no empty tokens)."""
    return F.expr(f"regexp_extract_all({col_name}, '\\\\S+', 0)")


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column. The tokenizer
    appears 4x textually but stays inside one expression, where
    whole-stage codegen's subexpression elimination evaluates it once
    per row."""
    toks = f"regexp_extract_all({text_col}, '\\\\S+', 0)"
    return F.expr(
        f"array_distinct(CASE WHEN size({toks}) < {n} "
        f"THEN array(concat_ws(' ', {toks})) "
        f"ELSE transform(sequence(1, size({toks}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) END)"
    )


# Logical-plan node classes that are provably shuffle-free and cheap
# to width-introspect: leaves that already KNOW their partitioning
# (file relations, checkpointed/cached RDDs, local data) plus the
# narrow row-local operators that preserve it. Anything else — joins,
# aggregates, windows, sorts, repartitions, limits, and every node
# class a future Spark version might add — fails CLOSED (no spread):
# under AQE, rdd.getNumPartitions() on a plan with exchanges
# MATERIALIZES its query stages (runs real jobs) just to learn the
# width, and frames that went through a shuffle are as wide as
# shuffle.partitions anyway. (r16: this replaced a substring denylist
# over plan.toString() — a structural walk can't be fooled by node
# renames and skips building the full plan string per call; behavior
# on every current call site is pinned by
# tests/test_plans.py::test_spread_small_scan_decisions.)
_SPREADABLE_NODES = frozenset(
    {
        "LogicalRelation",       # DSv1 file scan
        "DataSourceV2Relation",  # DSv2 scan
        "DataSourceV2ScanRelation",
        "HiveTableRelation",
        "LogicalRDD",            # localCheckpoint leaf
        "InMemoryRelation",      # cached frame
        "LocalRelation",
        "Range",
        "OneRowRelation",
        "Project",
        "Filter",
        "Generate",              # explode: row-local, width-preserving
        "Union",                 # width = sum of children
    }
)


def spread_small_scan(df: DataFrame, width: Optional[int] = None) -> DataFrame:
    """Round-robin a frame whose plan has FEWER partitions than the
    cluster has cores — the r11 lesson generalized: a single-file
    table is ONE input split, so any CPU-dense per-row work fused
    into the scan stage (regex tokenization, md5 hashing, HOF
    expansion) runs on one task. The repartition is conditional on
    the actual partition count, so at production scale (splits >=
    cores) it is a no-op and no shuffle is added.

    ``width``: target task count, defaulting to defaultParallelism.
    Callers with very CPU-heterogeneous rows pass a multiple of it
    (e.g. 2x for wave balancing) — still scale-derived, never a
    constant, and still a no-op once the scan is at least that wide."""
    np = width or df.sparkSession.sparkContext.defaultParallelism
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _SPREADABLE_NODES:
                return df
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(np) if n < np else df


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) word n-gram shingle rows — same shingle STRINGS as
    `word_shingles` (incl. the <n-token whole-doc fallback), but built
    without higher-order functions.

    Why not explode(word_shingles(...)): lambda expressions (transform/
    array_distinct CASE) are CodegenFallback — the row is evaluated
    interpreted, subexpression elimination is off, and the tokenizer
    regex runs up to 4x per row. Measured 3x slower than this shape at
    sf0.1. Here: one regex per row in a codegen'd posexplode projection,
    shingles assembled by window lead() over (doc, token-position) —
    all JVM-side, no HOF.

    NOT deduplicated: min-aggregates (MinHash) don't care, and set
    consumers (`_shingle_frame`) dedup on the hash after. Output of the
    main branch is hash(id)-partitioned (the window's exchange), so a
    following groupBy("id") needs no extra shuffle beyond the union
    with the short-doc branch.
    """
    toks = rf"regexp_extract_all({text_col}, '\\S+', 0)"
    ntok = F.expr(f"size({toks})")
    # spread the regex+explode: fused into a single-split scan they
    # run on ONE task (r15; no-op when the input is already wide)
    df = spread_small_scan(df)
    # <n tokens -> ONE shingle = all tokens joined by single spaces,
    # which is exactly the whitespace-normalized text (empty docs -> "")
    short = df.filter(ntok < n).select(
        F.col(id_col).alias("id"),
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("sh"),
    )
    tok = df.filter(ntok >= n).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(toks)).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, n)]
    long = tok.select(
        "id",
        F.concat_ws(" ", F.col("tok"), *leads).alias("sh"),
        (leads[-1] if leads else F.col("tok")).alias("_tail"),
    ).filter(F.col("_tail").isNotNull()).drop("_tail")
    return long.unionByName(short)


def _materialize(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Cut plan lineage before a self-join on an expression-heavy frame.

    Self-joining a deep tree (e.g. a 64-aggregate MinHash signature)
    makes Catalyst analyze + codegen the whole tree once PER BRANCH and
    per downstream stage — measured 60-200s of pure planning/compile on
    frames with ~5k rows. localCheckpoint replaces the plan with its
    materialized RDD: downstream stages see a leaf.

    reliable=True uses a storage-backed checkpoint instead (requires
    spark.sparkContext.setCheckpointDir): local checkpoints have no
    lineage, so an executor loss mid-iteration restarts the whole job —
    at 1000-executor scale that's a when, not an if. The local bench
    keeps the fast path by default.
    """
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _cached_eager(df: DataFrame) -> DataFrame:
    """Persist (memory-and-disk) and populate EAGERLY with a count.

    The eager count closes the lazy-cache race (concurrently-submitted
    broadcast-build consumers each recomputing the subtree before the
    cache fills — the r15 profiling finding), while KEEPING the
    CacheManager entry that plain persist creates: repeated executions
    of the same deterministic plan (a bench loop, a session re-running
    a query) are served from the cache by logical-plan equality, which
    a localCheckpoint (fresh RDD identity per call) cannot provide.
    Use for deterministic-plan frames that callers may rebuild;
    `_materialize` remains right for per-epoch/per-batch frames whose
    plans are unique per call."""
    from pyspark import StorageLevel

    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def release_cached(df: DataFrame) -> None:
    """Unpersist every cached frame a dedup operator attached to its
    result (see _shingle_frame). Call after the consuming action in
    long-lived sessions — cached shingle frames otherwise accumulate
    and evict useful executor storage."""
    for cached in getattr(df, "_ts_cached", ()):
        try:
            cached.unpersist()
        except Exception:
            pass


def _attach_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    existing = list(getattr(result, "_ts_cached", ()))
    result._ts_cached = existing + list(cached)
    return result


# ---------------------------------------------------------------------------
# exact dedup — hash groupBy
# ---------------------------------------------------------------------------

@register("dedup_exact")
def dedup_exact(
    cols: Sequence[str], id_col: str = "doc_id"
) -> Callable[[DataFrame], DataFrame]:
    """Exact deduplication on md5 of the listed columns: keeps the row
    with the smallest id per content hash. One shuffle on the 32-hex
    hash key — uniform by construction, no skew at any scale."""

    def apply(df: DataFrame) -> DataFrame:
        fingerprint = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
        w_cols = df.columns
        ranked = df.withColumn("_h", fingerprint).withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy(F.col(id_col))),
        )
        return ranked.filter(F.col("_rn") == 1).select(*w_cols)

    return apply


def fingerprint_index(
    df: DataFrame, cols: Sequence[str], id_col: str = "doc_id"
) -> DataFrame:
    """(id, fp) content-fingerprint table — the persistable state of
    EXACT dedup, the cheap front of the incremental pipeline (run it
    before LSH: identical docs then never reach minhash, which is also
    what keeps `max_bucket` recall-safe). 32 bytes per doc; bucket or
    partition by fp prefix for a shuffle-free probe join at scale."""
    fp = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    return df.select(F.col(id_col).alias("id"), fp.alias("fp"))


def incremental_dedup_exact(
    new_docs: DataFrame,
    index: DataFrame,
    cols: Sequence[str],
    id_col: str = "doc_id",
    bloom_words: "Optional[DataFrame | 'BloomSketch']" = None,
    bloom_k: Optional[int] = None,
    bloom_m_bits: Optional[int] = None,
) -> DataFrame:
    """Exact-dedup an ingest batch against a persisted fingerprint
    index: returns the batch rows whose content hash is absent from
    the index AND smallest-id-unique within the batch. Cost per batch:
    hash ∝ |batch| + one anti-join on fp. The anti-join builds on the
    index side, so Spark plans a sort-merge anti join shuffling 32-byte
    keys (never document bodies); bucket the persisted index table by
    fp and the index side needs no shuffle at all — only the batch
    moves (bucket count must equal spark.sql.shuffle.partitions and
    autoBucketedScan pinned off for index tables, else the planner
    re-shuffles the bucketed side — pinned in tests/test_plans.py).
    Append `fingerprint_index(kept)` after commit, same discipline as
    the LSH `band_index`.

    ``bloom_words`` (a GLOBAL Bloom word table built over the index's
    ``fp`` strings — maintain it alongside the index with
    `sketches.bloom_words` + the idempotent `bloom_merge` on every
    append) turns the anti-join into probe-then-verify: every batch
    fingerprint is marked INLINE against the ~8 KiB broadcast sketch
    (`bloom_probe_mark`, zero batch-side exchange), definite-new rows
    (no false negatives) skip the anti-join entirely, and only probe
    HITS — true dups plus the ~1e-5 false-positive sliver — reach the
    exact anti-join, so its exchange carries probe survivors instead
    of the whole batch and the index side is read only for them. A
    false positive cannot over-excise: the exact anti-join keeps any
    row whose fp is genuinely absent. Output is identical to the
    plain path (pinned in tests). Prefer passing a
    `sketches.BloomSketch` (or `streaming.sketches.read_bloom_sketch`
    output) over a bare word table: the sketch carries its build
    k/m_bits and the probe validates them — a drifted geometry would
    otherwise produce silent FALSE NEGATIVES (true dups kept), the
    one error the no-false-negatives contract can't absorb
    (ADVICE r7; bare tables still get a one-sided word_idx range
    guard)."""
    fp = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    hashed = new_docs.withColumn("_fp", fp)
    w = Window.partitionBy("_fp").orderBy(F.col(id_col))
    in_batch_first = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if bloom_words is not None:
        from transporter_spark.operators.sketches import bloom_probe_mark

        # k/m_bits pass through un-defaulted: a BloomSketch supplies
        # (and validates) its own build geometry, and a bare word
        # table gets the probe-side range guard — a mismatched
        # geometry raises instead of silently keeping true dups
        # (false negatives), per ADVICE r7
        marked = bloom_probe_mark(
            in_batch_first,
            "_fp",
            bloom_words,
            out_col="_bpf",
            k=bloom_k,
            m_bits=bloom_m_bits,
        )
        definite_new = marked.where(~F.col("_bpf")).drop("_bpf")
        suspects = marked.where(F.col("_bpf")).drop("_bpf")
        verified = suspects.join(
            index, suspects["_fp"] == index["fp"], "left_anti"
        )
        return definite_new.unionByName(verified).drop("_fp")
    kept = in_batch_first.join(
        index, in_batch_first["_fp"] == index["fp"], "left_anti"
    )
    return kept.drop("_fp")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact similarity; the verifier for LSH paths)
# ---------------------------------------------------------------------------

def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: Optional[int]
) -> DataFrame:
    """(id, h) exploded distinct-shingle frame, cached — it feeds the
    self-join AND both size lookups, and recomputing the regex+explode
    three times dominates runtime otherwise. Shingles are reduced to a
    64-bit hash for the join key: long equi-joins beat string joins and
    the collision risk is ~|shingles|^2 / 2^65.

    max_df (scale knob): drop shingles appearing in more than max_df
    docs. Stop-shingle frequency skew is THE failure mode of the
    self-join at corpus scale — a shingle shared by 1M docs contributes
    5*10^11 pairs. Capping df changes recall only for pairs that share
    *no* rarer shingle; near-dups by definition share many.
    """
    sh = (
        shingle_rows(df, text_col, id_col, n)
        .select("id", F.xxhash64("sh").alias("h"))
        # set semantics for Jaccard: one row per (doc, shingle). The
        # main shingle branch is already hash(id)-partitioned by the
        # window, so the distinct's partial agg dedups map-side and the
        # exchange carries near-distinct rows only.
        .distinct()
    )
    if max_df is not None:
        keep = sh.groupBy("h").count().filter(F.col("count") <= max_df).select("h")
        sh = sh.join(keep, "h")
    # Eagerly-populated persist (r15: was a LAZY persist — the
    # self-join's broadcast-build branches raced the unpopulated cache
    # and each recomputed the regex+explode pass). The count fills the
    # cache once; consumers attach the frame for release_cached.
    return _cached_eager(sh)


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard >= threshold.

    Distributed shape: explode distinct shingles -> self-equi-join on
    the 64-bit shingle hash (co-partitioned shuffle join, NOT a cross
    join) -> count intersections -> Jaccard from |A|,|B|,|A∩B|.
    Returns (id_a, id_b, jaccard).
    """
    sh, inter, sizes = _inter_sizes(df, text_col, id_col, n, max_df)
    return _attach_cached(_jaccard_from_inter(inter, sizes, threshold), sh)


def _inter_sizes(df, text_col, id_col, n, max_df):
    """Shared candidate construction for the exact-overlap scorers
    (jaccard_pairs / containment_pairs): cached shingle frame, per-doc
    shingle sizes, and intersection counts from the 64-bit-hash
    self-equi-join with the a.id < b.id dedup condition. One place, so
    the join shape / max_df interaction can never diverge between the
    two scorers."""
    sh = _shingle_frame(df, text_col, id_col, n, max_df)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return sh, inter, sizes


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
) -> DataFrame:
    """All pairs (a < b) with n-gram CONTAINMENT >= threshold, where
    containment = |A∩B| / min(|A|,|B|) — the asymmetric complement to
    `jaccard_pairs`: a short document quoted inside a long one scores
    near 1.0 here while its Jaccard is diluted to ~|A|/|B| (the reason
    dataset-dedup pipelines run containment AFTER symmetric near-dup:
    it is what catches boilerplate wrappers and embedded quotes).

    Same distributed shape as `jaccard_pairs` (shared `_shingle_frame`
    cache, 64-bit shingle-hash equi-join, map-side-combined
    intersection counts, `max_df` stop-shingle cap) — only the final
    scoring differs. Returns (id_a, id_b, containment, direction)
    where direction = 'a_in_b' when A is the smaller (more contained)
    side, else 'b_in_a'.
    """
    sh, inter, sizes = _inter_sizes(df, text_col, id_col, n, max_df)
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    scored = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("inter").cast("double")
            / F.least("sz_a", "sz_b").cast("double"),
        )
        .withColumn(
            "direction",
            F.when(F.col("sz_a") <= F.col("sz_b"), F.lit("a_in_b")).otherwise(
                F.lit("b_in_a")
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "direction")
    )
    return _attach_cached(scored, sh)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1  # Carter-Wegman modulus: a*h stays < 2^62


def _hash_family(num: int, seed: int = 42) -> List[tuple]:
    """Deterministic affine-family parameters (a, b). Python-side
    constants baked into the plan — identical on every run/engine."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE - 1), rnd.randrange(0, _MERSENNE - 1))
        for _ in range(num)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    (a_i * h32(shingle) + b_i) mod M.

    Shape: explode shingles, compute the 32-bit stable hash once per
    shingle, then num_hashes element-wise mins in ONE groupBy (map-side
    partial agg does most of the work; shuffle carries num_hashes longs
    per doc-partition, not per shingle). With the 31-bit Mersenne
    modulus, a < 2^31 and (h mod M) < 2^31 keep every product < 2^62 —
    safe under ANSI overflow checking.
    """
    # shingle_rows spreads the CPU-bound hash work via the window's
    # hash(id) exchange (no explicit repartition needed) and skips
    # dedup — duplicate shingles can't change a MIN aggregate.
    # portable=True: md5-derived base hash, reproducible in any
    # engine (oracle-checkable). Default: xxhash64 — ~3x cheaper,
    # still deterministic across Spark runs (fixed seed).
    sh = shingle_rows(df, text_col, id_col, n).withColumn(
        "h",
        F.pmod(
            stable_hash32(F.col("sh")) if portable else F.xxhash64("sh"),
            F.lit(_MERSENNE),
        ),
    )
    return _minhash_from_hashes(sh, num_hashes, seed)


def _minhash_from_hashes(
    sh: DataFrame, num_hashes: int, seed: int
) -> DataFrame:
    """(id, signature) from a base-hash shingle frame (id, h). A MIN
    aggregate is invariant under both duplication and deduplication of
    its inputs, so any (id, h) multiset with the same underlying SET —
    the raw exploded rows or `_shingle_frame`'s cached distinct — gives
    bit-identical signatures (r16: lets the LSH path derive signatures
    from the same cached shingle frame the verify step reads, one
    tokenization pass per execution instead of two)."""
    fam = _hash_family(num_hashes, seed)
    mins = []
    for i, (a_coeff, b_coeff) in enumerate(fam):
        expr = f"pmod({a_coeff}L * h + {b_coeff}L, {_MERSENNE}L)"
        mins.append(F.min(F.expr(expr)).alias(f"mh_{i}"))
    sig = sh.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature")
    )


def band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    portable: bool = False,
    reliable_checkpoint: bool = False,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, band, bsig) — the LSH band table for a corpus, i.e. the
    PERSISTABLE index state of near-dup detection. Written once (e.g.
    parquet partitioned or bucketed by band), it lets each ingest batch
    be deduplicated against the corpus WITHOUT re-minhashing 100 TB:
    only the batch is shingled; candidate lookup is an equi-join on
    (band, bsig) against this table (`incremental_lsh_pairs`).

    `bands` rows per document, each carrying a ~40-byte band signature —
    the index is ~3 orders of magnitude smaller than the corpus text.
    """
    if num_hashes % bands != 0:
        # the Hamming twin's check_banding rule: a ragged split would
        # silently drop the trailing num_hashes % bands signature slots
        # from every band, weakening recall with no error anywhere (and
        # the portable oracle builder already raises on this geometry)
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: a "
            "ragged band split silently ignores the trailing hashes"
        )
    r = num_hashes // bands
    # r15 note: AQE's 1MB minPartitionSize floor coalesces the stage
    # that reads the shingle window's exchange (hash + 64 products per
    # shingle — the CPU-dense part of the signature build) to 3 tasks
    # at sf0.1. A 64KB floor SCOPED to this materialization was built
    # and A/B-measured (alternating, one session): parity — the wider
    # stage's 32 task dispatches cost exactly what the CPU spread
    # saves on this host (the batch-1 session-default revert's lesson,
    # reproduced per-site), so it was retracted. Inert at scale either
    # way: shuffle bytes / parallelism exceeds the 1MB floor long
    # before 100 TB and AQE picks full width on its own.
    if shingles is not None:
        # Precomputed (id, h) distinct shingle frame (r16): the MIN
        # aggregates are invariant under the dedup (see
        # _minhash_from_hashes), and the base hash of `_shingle_frame`
        # IS the non-portable xxhash64 — so signatures derived here are
        # bit-identical to the streamed path. Callers pass the frame
        # they also verify with (minhash_lsh_pairs), so the corpus is
        # tokenized ONCE per execution and the sig aggregation reads a
        # cached leaf; no separate lineage cut needed — the caller
        # materializes the banded output right after, and the plan
        # above it is one shallow aggregate over the cached frame.
        if portable:
            raise ValueError(
                "shingles reuse requires the non-portable (xxhash64) "
                "base hash; the portable signature path hashes the "
                "shingle STRINGS (stable_hash32), which the (id, h) "
                "frame no longer carries"
            )
        sig = _minhash_from_hashes(
            shingles.withColumn("h", F.pmod(F.col("h"), F.lit(_MERSENNE))),
            num_hashes,
            seed,
        )
    else:
        sig = _materialize(
            minhash_signatures(
                df, text_col, id_col, n, num_hashes, seed, portable
            ),
            reliable_checkpoint,
        )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            ",", *[F.col("signature")[i * r + j].cast("string") for j in range(r)]
                        ).alias("bsig"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "bs.band", "bs.bsig")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    portable: bool = False,
    reliable_checkpoint: bool = False,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding.

    bands=16 over 64 hashes -> rows-per-band r=4; collision probability
    ~ 1-(1-j^4)^16 (S-curve centered near j≈0.55). Candidates are pairs
    sharing at least one full band; with verify=True each candidate is
    re-scored with exact shingle Jaccard and filtered at `threshold`
    (the standard dedup pipeline: LSH recalls, exact verifies).

    Scale shape: signatures groupBy -> explode to `bands` rows per doc ->
    self-join on (band_id, band_signature). No cross join; bucket sizes
    are the only skew risk.

    max_bucket (scale knob): skip (band, bsig) buckets holding more
    than max_bucket docs before the self-join — a bucket of B docs
    contributes B²/2 candidates, and million-doc buckets are exactly
    what identical boilerplate produces (a 1M-doc bucket alone is
    5·10^11 pairs). Recall is lost only for pairs WHOSE EVERY shared
    band is oversized; run exact `dedup_exact` first so identical docs
    never reach LSH, and genuine near-dups keep colliding in their
    rarer bands (same contract as `max_df` on the Jaccard path).

    reliable_checkpoint=True swaps every lineage cut in this path
    (signatures, banded rows, candidate pairs) from localCheckpoint to
    a storage-backed checkpoint (setCheckpointDir first): local
    checkpoints die with an executor, restarting the whole dedup job
    at cluster scale.
    """
    # r16: on the fast (xxhash64) path the signature pass and the
    # verify pass share ONE cached distinct shingle frame — the corpus
    # is tokenized once per execution instead of twice (the signature
    # MIN aggregates are invariant under the distinct, and the verify
    # join only ever reads candidate docs' rows out of it). portable
    # signatures hash the shingle strings with a different base hash,
    # so that path keeps the streamed build.
    sh_full = (
        None
        if portable
        else _shingle_frame(df, text_col, id_col, n, max_df=None)
    )
    banded = _materialize(
        band_index(
            df, text_col, id_col, n, num_hashes, bands, seed, portable,
            reliable_checkpoint, shingles=sh_full,
        ),
        reliable_checkpoint,
    )
    banded = _cap_buckets(banded, max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand if sh_full is None else _attach_cached(cand, sh_full)
    cand = _materialize(cand, reliable_checkpoint)
    return _verify_candidates(
        cand, df, text_col, id_col, n, threshold, sh=sh_full
    )


def _cap_buckets(
    banded: DataFrame,
    max_bucket: Optional[int],
    keys: Sequence[str] = ("band", "bsig"),
) -> DataFrame:
    """Drop candidate buckets larger than max_bucket docs (see
    minhash_lsh_pairs). One extra aggregation over the band table —
    tiny next to the B² candidates an uncapped hot bucket would emit.
    ``keys`` names the bucket key columns: (band, bsig) for the
    MinHash LSH tables, (band, chunk) for the banded-Hamming
    fingerprint tables (SimHash / pHash / video frames) — the ONE cap
    definition for every bucketed candidate generator. Recall caveat
    is identical everywhere: a pair is lost only when EVERY bucket it
    shares is oversized, which for degenerate corpora (millions of
    byte-identical images → one hot (band, chunk) per band) is
    exactly the case exact dedup should have handled first."""
    if max_bucket is None:
        return banded
    keys = list(keys)
    ok = (
        banded.groupBy(*keys)
        .count()
        .filter(F.col("count") <= max_bucket)
        .select(*keys)
    )
    return banded.join(ok, keys)


def _verify_candidates(
    cand: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    sh: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: verify ONLY the
    candidates (never the all-pairs exact join — that would defeat
    LSH): candidates fan out to their shingles, then an equi-join on
    (doc, shingle-hash) counts intersections.

    ``sh``: an already-built full-corpus distinct shingle frame (the
    one the signature pass consumed — r16). The candidate joins below
    restrict it to candidate docs' rows by construction (`inter` joins
    on the pair ids; `sizes` is only ever read through those joins),
    so reusing it verifies the same pairs with the same counts while
    skipping a second tokenization pass entirely.

    Without it: re-shingle only docs that appear in a candidate pair —
    a semi-join before the explode. Verify cost then scales with
    |candidates|, not |corpus|: at 100TB the candidate set is
    typically <1% of docs, and re-tokenizing the other 99% was the
    dominant cost of this stage. (Plain semi-join, not forced
    broadcast: AQE broadcasts it when the candidate id list is small,
    falls back to shuffle when it isn't.)
    """
    if sh is None:
        cand_ids = (
            cand.select(F.col("id_a").alias("_cid"))
            .unionByName(cand.select(F.col("id_b").alias("_cid")))
            .distinct()
        )
        docs_in_play = docs.join(
            cand_ids, F.col(id_col) == F.col("_cid"), "leftsemi"
        )
        sh = _shingle_frame(docs_in_play, text_col, id_col, n, max_df=None)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        cand.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, (F.col("id_b") == F.col("b.id")) & (F.col("a.h") == F.col("b.h")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _attach_cached(_jaccard_from_inter(inter, sizes, threshold), sh)


def incremental_lsh_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    portable: bool = False,
    reliable_checkpoint: bool = False,
    max_bucket: Optional[int] = None,
    new_bands: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-dup pairs for an INGEST BATCH against an already-indexed
    corpus — the shape that makes LSH dedup sustainable at 100 TB:
    re-minhashing the whole corpus per daily batch is a non-starter, so
    the corpus contributes only its persisted `band_index` table (bands
    × ~40 bytes per doc, ~3 orders of magnitude smaller than the text).

    Per-batch cost: shingle+minhash ∝ |batch|; candidate lookup is an
    equi-join of the batch's bands against the index on (band, bsig) —
    bucket the persisted index by these keys and the corpus side needs
    no shuffle at all; exact-Jaccard verification reads text only for
    docs in candidate pairs (one semi-joined corpus scan).

    Returns verified pairs (id_a < id_b, jaccard) where at least one
    side is a new doc: new-vs-corpus plus new-vs-new. Corpus-internal
    pairs are by definition already handled when the corpus was built.
    `index=None` derives the index from `corpus_docs` (testing / first
    build); production passes the persisted parquet.

    Append `band_index(new_docs)` (i.e. the `new_bands` computed here)
    to the index table after the batch commits — the index stays
    complete without any recompute.
    """
    # new_bands: pass the batch's already-materialized band table to
    # avoid re-minhashing it (the ingest sink computes it once and also
    # appends it to the index after commit)
    if new_bands is None:
        new_bands = _materialize(
            band_index(
                new_docs, text_col, id_col, n, num_hashes, bands, seed,
                portable, reliable_checkpoint,
            ),
            reliable_checkpoint,
        )
    if index is None:
        index = band_index(
            corpus_docs, text_col, id_col, n, num_hashes, bands, seed,
            portable, reliable_checkpoint,
        )
    # max_bucket guards the INDEX side too: a boilerplate bucket of B
    # corpus docs turns one new colliding doc into B candidates — at
    # B=10^6 that's a verification explosion per batch doc. Same recall
    # contract as minhash_lsh_pairs.
    new_bands = _cap_buckets(new_bands, max_bucket)
    index = _cap_buckets(index, max_bucket)
    a, b = new_bands.alias("a"), index.alias("b")
    vs_corpus = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    na, nb = new_bands.alias("a"), new_bands.alias("b")
    vs_new = na.join(
        nb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    cand = vs_corpus.unionByName(vs_new).distinct()
    if not verify:
        return cand
    cand = _materialize(cand, reliable_checkpoint)
    # verification needs only (id, text); projecting first also keeps the
    # union legal when batch and corpus carry different passenger columns.
    # Corpus rows whose id also appears in the batch are dropped before
    # the union (anti-join on the key): a caller that did NOT pre-filter
    # re-delivered docs would otherwise double the shared ids' shingle
    # rows and corrupt the verified Jaccard values.
    new_sel = new_docs.select(F.col(id_col), F.col(text_col))
    corpus_sel = corpus_docs.select(F.col(id_col), F.col(text_col)).join(
        new_docs.select(F.col(id_col)), [id_col], "left_anti"
    )
    docs = new_sel.unionByName(corpus_sel)
    return _verify_candidates(cand, docs, text_col, id_col, n, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash: bit j of the fingerprint is the sign of
    sum over tokens of (+1 if bit j of h32(token) else -1).

    Columnar shape: explode tokens, one stable hash per token, then
    `bits` conditional-sum aggregates in a single groupBy (map-side
    combine keeps shuffle tiny). Hamming-near pairs come from banding
    the fingerprint bits (same LSH idea as minhash).
    """
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.expr(f"regexp_extract_all({text_col}, '\\\\S+', 0)")
            ).alias("tok"),
        )
        .repartition("id")  # parallelize the bits x |tokens| agg work
        .withColumn("h", stable_hash32(F.col("tok")))
    )
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("id").agg(*sums)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return agg.select("id", fp.alias("simhash"))


def check_banding(
    bits: Optional[int], bands: int, max_hamming: Optional[int] = None
) -> None:
    """THE pigeonhole-geometry validation, shared by every banded
    Hamming path (SimHash text, pHash image) and callable up front by
    operators that run an eager job (materialize/persist) before the
    banding would naturally raise: bands must divide bits exactly (a
    ragged band silently weakens the guarantee; skipped when bits is
    None — already-banded inputs validated it at banding time) and,
    when a radius is given, bands > max_hamming (completeness of the
    candidate join)."""
    if bits is not None and bits % bands != 0:
        raise ValueError(
            f"bits={bits} not divisible by bands={bands}: a ragged "
            "band would silently weaken the pigeonhole guarantee"
        )
    if max_hamming is not None and bands <= max_hamming:
        raise ValueError(
            f"pigeonhole needs bands > max_hamming "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )


def band_fingerprint(
    fp: DataFrame, fp_col: str, bits: int, bands: int
) -> DataFrame:
    """Pigeonhole-band a 64-bit-or-less integer fingerprint column:
    (id, fp_col) -> (id, fp_col, band, chunk), `bands` rows per doc,
    chunk = the band's (bits/bands)-wide slice of the fingerprint.
    Any two fingerprints within Hamming radius < bands share at least
    one exact chunk (pigeonhole), so an equi-join on (band, chunk) is
    a complete candidate generator. Shared by the SimHash text index
    and the image pHash index (operators/multimodal.py) — one banding
    definition, one recall proof, and one divisibility guard (a
    ragged band would silently weaken the pigeonhole guarantee)."""
    check_banding(bits, bands)
    width = bits // bands
    return fp.select(
        "id",
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(fp_col), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", fp_col, "bc.band", "bc.chunk")


def simhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """(id, simhash, band, chunk) — the banded-fingerprint table, i.e.
    the PERSISTABLE index state of SimHash near-dup detection (the
    SimHash twin of `band_index`): `bands` rows of ~20 bytes per doc.
    Written once (bucket/partition by (band, chunk) at scale), it lets
    each ingest batch probe for Hamming-near corpus docs WITHOUT
    re-fingerprinting the corpus (`incremental_simhash_pairs`)."""
    # validate geometry BEFORE the eager fingerprint job: an invalid
    # bits/bands split must fail up front, not after a full corpus
    # materialize (matching image_phash_pairs' ordering)
    check_banding(bits, bands)
    fp = _materialize(simhash(df, text_col, id_col, bits))
    return band_fingerprint(fp, "simhash", bits, bands)


def _simhash_verified(cand: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, a.simhash, b.simhash) candidate rows -> verified
    distinct pairs; pure fingerprint arithmetic, no text."""
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def banded_hamming_pairs(
    banded: DataFrame,
    fp_col: str,
    max_hamming: int,
    bands: int,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Hamming-near pairs from a banded fingerprint table (the
    `band_fingerprint` shape: id, fp_col, band, chunk): self
    equi-join on (band, chunk), verify true distance with
    bit_count(xor) over the fingerprints the table already carries.
    The ONE candidate-generation definition shared by the SimHash
    text path and the image/video pHash paths
    (operators/multimodal.py) — pigeonhole completeness needs bands >
    max_hamming, enforced through the shared `check_banding` (bits
    already validated by the banding that produced the input).

    ``max_bucket`` (scale knob, the `minhash_lsh_pairs` guard through
    the shared `_cap_buckets`): skip (band, chunk) buckets holding
    more than max_bucket fingerprints before the self-join — an
    adversarial all-same-image corpus puts B docs in ONE chunk per
    band and would emit bands*B²/2 candidates. A within-radius pair
    is lost only when EVERY chunk it shares is oversized, i.e. when
    the docs are near-identical at corpus scale — run exact dedup
    first, same caveat as the MinHash cap."""
    check_banding(None, bands, max_hamming)
    banded = _cap_buckets(banded, max_bucket, keys=("band", "chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col(f"a.{fp_col}").alias("sim_a"),
        F.col(f"b.{fp_col}").alias("sim_b"),
    )
    return _simhash_verified(cand, max_hamming)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Near-dup candidate pairs: docs whose simhash differs in at most
    `max_hamming` bits. Pigeonhole banding: split the fingerprint into
    `bands` > max_hamming chunks; any pair within the radius shares at
    least one exact chunk -> equi-join on (band, chunk), verify true
    hamming distance with bit_count(xor)."""
    # full-geometry check (incl. bands > max_hamming) before the
    # index's eager materialize job, so bad geometry never burns a
    # corpus fingerprint pass
    check_banding(bits, bands, max_hamming)
    banded = simhash_index(df, text_col, id_col, bits, bands)
    return banded_hamming_pairs(
        banded, "simhash", max_hamming, bands, max_bucket=max_bucket
    )


def incremental_banded_hamming_pairs(
    new_banded: DataFrame,
    index: DataFrame,
    fp_col: str,
    max_hamming: int,
    bands: int,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Hamming-near pairs for a banded BATCH fingerprint table against
    a persisted banded index (the `band_fingerprint` shape on both
    sides) — the incremental twin of `banded_hamming_pairs` and the
    ONE batch-vs-index candidate definition shared by the SimHash text
    path and the image pHash path (operators/multimodal.py).
    Candidates come from the (band, chunk) equi-join (new-vs-corpus
    plus new-vs-new); verification is bit_count(xor) over the
    fingerprints both tables already carry. Disjoint ids assumed — run
    the id re-delivery guard first, as the ingest sinks do.
    ``max_bucket`` caps hot (band, chunk) buckets on EACH side
    independently (the MinHash incremental precedent — same recall
    caveat as `banded_hamming_pairs`)."""
    check_banding(None, bands, max_hamming)
    new_banded = _cap_buckets(new_banded, max_bucket, keys=("band", "chunk"))
    index = _cap_buckets(index, max_bucket, keys=("band", "chunk"))
    a, b = new_banded.alias("a"), index.alias("b")
    vs_corpus = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            # xor is symmetric: side order doesn't matter for hamming
            F.col(f"a.{fp_col}").alias("sim_a"),
            F.col(f"b.{fp_col}").alias("sim_b"),
        )
    )
    na, nb = new_banded.alias("a"), new_banded.alias("b")
    vs_new = na.join(
        nb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col(f"a.{fp_col}").alias("sim_a"),
        F.col(f"b.{fp_col}").alias("sim_b"),
    )
    return _simhash_verified(vs_corpus.unionByName(vs_new), max_hamming)


def incremental_simhash_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    new_banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Hamming-near pairs for an INGEST BATCH against a persisted
    `simhash_index` — the cheapest member of the incremental-dedup
    family: only the batch is tokenized/fingerprinted, candidates come
    from a (band, chunk) equi-join against the index, and verification
    is bit_count(xor) over the fingerprints BOTH tables already carry —
    corpus TEXT is never read at any stage (plan-pinned). Pigeonhole
    recall is exact (bands > max_hamming guarantees every within-radius
    pair shares a chunk), so the result equals the full-corpus
    `simhash_pairs` restricted to pairs touching a batch doc.

    Returns (id_a < id_b, hamming), new-vs-corpus plus new-vs-new
    via the shared `incremental_banded_hamming_pairs` core. Append
    `new_banded` (disjoint ids assumed — run the id/fp re-delivery
    guard first, as the ingest sink does) to the index after
    commit."""
    check_banding(bits, bands, max_hamming)
    if new_banded is None:
        new_banded = _materialize(
            simhash_index(new_docs, text_col, id_col, bits, bands)
        )
    return incremental_banded_hamming_pairs(
        new_banded, index, "simhash", max_hamming, bands
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def no_pushdown(col: Column) -> Column:
    """Identity wrapper that stops the optimizer pushing a predicate
    built on ``col`` below its Project — e.g. into a join CONDITION,
    where Spark evaluates it with interpreted expression eval per
    candidate pair instead of in the codegen'd post-join pipeline
    (measured: the semdedup pair-cosine threshold pushed into the SMJ
    condition cost ~200us/pair interpreted; kept above the join it
    whole-stage-codegens). spark_partition_id() is declared
    non-deterministic, so any expression containing it is ineligible
    for pushdown; the WHEN branch is always taken (partition ids are
    >= 0), so the value — and therefore the query result — is
    unchanged."""
    return F.when(F.spark_partition_id() >= 0, col)


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side:
    zip_with product + aggregate sum — no Python in the loop."""
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)")
    na = F.expr(f"sqrt(aggregate(zip_with({a}, {a}, (x, y) -> x * y), 0D, (s, v) -> s + v))")
    nb = F.expr(f"sqrt(aggregate(zip_with({b}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v))")
    return dot / (na * nb)


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_bits: int = 0,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold).

    block_bits=0: exact all-pairs via self-join on a trivial key — only
    for corpus slices that fit a broadcast. block_bits=k>0: sign-LSH
    blocking — bucket by the signs of the first k components (a crude
    but deterministic hyperplane family), join within bucket; recall
    <1.0, the price of scale, verified downstream like minhash."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if block_bits > 0:
        sig = F.concat_ws(
            "",
            *[
                F.when(F.col("vec")[i] >= 0, "1").otherwise("0")
                for i in range(block_bits)
            ],
        )
        v = v.withColumn("blk", sig)
        cond = (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    else:
        cond = F.col("a.id") < F.col("b.id")
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_expr("a.vec", "b.vec").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination — n-gram overlap against an eval set
# ---------------------------------------------------------------------------

def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    bloom_prefilter: bool = False,
    bloom_k: Optional[int] = None,
    bloom_m_bits: Optional[int] = None,
    bloom_words: "Optional[DataFrame | 'BloomSketch']" = None,
) -> DataFrame:
    """Flag training documents that share any word n-gram with a
    benchmark/eval set (the standard pre-training decontamination gate:
    n=8..13 in published pipelines; n is a knob).

    Returns (doc_id, n_shared, contaminated): count of DISTINCT shared
    n-grams and a boolean. Shape: benchmark grams are deduped then
    joined to corpus grams on the 64-bit gram hash. The benchmark side
    is tiny (eval sets are thousands of docs, the corpus is billions)
    so Spark broadcasts it — the corpus is scanned once, no corpus-side
    shuffle for the join; the count agg shuffles only matching grams.

    ``bloom_prefilter=True`` is the scale path for BIG blocklists (a
    multi-benchmark gram set at 100M+ grams is gigabytes — past the
    broadcast budget): build the ~8 KiB-per-2^15-bits Bloom word table
    over the benchmark grams and probe every corpus gram INLINE first
    (`sketches.bloom_probe_mark` — k BroadcastHashJoins of the word
    table, zero corpus-side exchange), so only probe SURVIVORS reach
    the exact verify join and the count aggregation. No false
    negatives (identical output to the exact path, pinned in tests);
    false positives are killed by the exact verify, so the sketch can
    never over-flag. Probe keys are the gram STRINGS through the
    audited md5-prefix `stable_hash` (engine-replayable), not
    xxhash64.

    ``bloom_words`` supplies a PRE-BUILT blocklist sketch over the
    benchmark's gram strings (the continuous-decontamination path:
    `streaming.sketches.read_bloom_sketch` of the maintained
    blocklist state) instead of building one from `benchmark` here —
    the word OR-merge is idempotent, so the maintained state equals
    the inline build bit-for-bit and the output is unchanged. The
    geometry is REQUIRED with it (ADVICE r9): a geometry-carrying
    `BloomSketch` (validated at the probe), or explicit
    bloom_k+bloom_m_bits for a bare table (range-guarded only) —
    a bare table alone raises rather than silently probing at
    default geometry (false-negative risk on a safety gate).
    Implies ``bloom_prefilter``; `benchmark` still supplies the exact
    verify side."""
    corpus_grams = shingle_rows(df, text_col, id_col, n).select(
        F.col("id").alias("doc_id"), F.col("sh")
    )
    bench_grams = benchmark.select(
        F.explode(word_shingles(text_col, n)).alias("g")
    )
    cached = []
    if bloom_prefilter or bloom_words is not None:
        from transporter_spark.operators.sketches import (
            DEFAULT_K,
            DEFAULT_M_BITS,
            bloom_probe_mark,
            bloom_sketch,
        )

        if bloom_words is None:
            k = bloom_k or DEFAULT_K
            m_bits = bloom_m_bits or DEFAULT_M_BITS
            # the geometry rides WITH the word table (BloomSketch,
            # VERDICT r8 item 3): the probe below validates build
            # k/m_bits instead of trusting this function's own
            # bookkeeping — if the build and probe constants ever
            # drift apart, the call raises rather than silently losing
            # the no-false-negatives guarantee. persisted: the k probe
            # joins each reference the word table — without persist
            # Spark plans k independent rebuilds of the whole
            # benchmark-sketch subtree (no CSE across join branches)
            sketch = bloom_sketch(
                bench_grams.distinct(), "g", k=k, m_bits=m_bits
            )
            # eager persist (r15): the k probe joins broadcast this
            # table and raced a LAZY cache into k rebuilds; the eager
            # count populates it once and keeps plan-equality reuse
            sketch = sketch._replace(words=_cached_eager(sketch.words))
            cached.append(sketch.words)
            probe_kw = {}
        else:
            # maintained-state path: geometry (and any persistence)
            # belongs to the caller's sketch; explicit k/m_bits pass
            # through un-defaulted so a BloomSketch validates them.
            # A bare word table WITHOUT explicit geometry is refused
            # (ADVICE r9): _bloom_resolve would silently probe at
            # DEFAULT k/m_bits, and a blocklist built at any other
            # geometry then yields Bloom FALSE NEGATIVES — on a
            # decontamination gate that means contaminated docs skip
            # the exact verify undetected, with only the one-sided
            # word_idx range guard in the way. The sketch's
            # no-false-negatives contract is the whole point here, so
            # the geometry must be carried (BloomSketch /
            # read_bloom_sketch) or claimed explicitly.
            from transporter_spark.operators.sketches import BloomSketch

            if not isinstance(bloom_words, BloomSketch) and (
                bloom_k is None or bloom_m_bits is None
            ):
                raise ValueError(
                    "decontaminate(bloom_words=<bare DataFrame>) needs "
                    "its build geometry: pass a BloomSketch (from "
                    "bloom_sketch/read_bloom_sketch) or explicit "
                    "bloom_k AND bloom_m_bits — probing at default "
                    "geometry risks silent Bloom false negatives on a "
                    "safety gate"
                )
            sketch = bloom_words
            probe_kw = {"k": bloom_k, "m_bits": bloom_m_bits}
        corpus_grams = bloom_probe_mark(
            corpus_grams, "sh", sketch, out_col="_bpf", **probe_kw
        ).where(F.col("_bpf")).drop("_bpf")
    corpus = corpus_grams.select(
        "doc_id", F.xxhash64("sh").alias("h")
    ).distinct()
    bench = bench_grams.select(F.xxhash64("g").alias("h")).distinct()
    hits = (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )
    return _attach_cached(out, *cached) if cached else out


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components by min-label propagation.

    edges: (id_a, id_b) undirected; vertices: (id). Every edge endpoint
    must be a vertex id — under that precondition the driver-local path
    (small edge sets) and the distributed loop give the same labels and
    raise the same error. Returns (id, component) where component = min
    id reachable. Iterative —
    each round every vertex adopts the min label among itself and its
    neighbors (one join + one aggregation); converges in O(graph
    diameter) rounds. The loop runs TWO rounds per Spark job (r15):
    convergence only needs the certificate that SOME round changed
    nothing, so the driver checks every second round — half the
    job/barrier dispatches and half the lineage cuts for every CC
    consumer, at a worst-case overshoot of one no-op round on an
    already-converged label frame. Lineage is cut per job (the
    standard iterative-Spark pattern; same reason GraphX checkpoints).

    Dedup graphs are near-degenerate (tiny stars around a canonical
    doc), so the loop usually converges in 2-3 rounds (1-2 jobs)
    regardless of corpus size; measured at sf0.1 the semantic-cell
    graphs are the exception (semdedup: 8 rounds = 4 jobs). A graph
    still unconverged after max_iter rounds raises rather than
    silently splitting one cluster into several (which would keep
    extra near-copies). (Pointer jumping — label(label(v)) — was
    measured this round and dropped: min-label jump targets carry no
    doubling guarantee, 8 -> 7 rounds on the semdedup graph, and
    fusion already halves its job count.)

    reliable_checkpoint=True cuts lineage to storage instead of
    executor memory (set spark.sparkContext.setCheckpointDir first):
    local checkpoints die with an executor, restarting the whole job at
    cluster scale.
    """
    if max_iter < 1:  # both paths need at least the certificate round
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Pre-partition both loop-invariant frames on their join keys ONCE:
    # localCheckpoint preserves the hash partitioning in the LogicalRDD,
    # so every round's edge-label join needs no exchange on either side
    # and the only per-round shuffle is the groupBy(id_a) aggregation.
    # symmetrize via ONE posexplode, not a self-union (r15): Spark
    # plans no CSE across union branches, so the union form evaluated
    # the ENTIRE edge subtree twice — for the banded families that is
    # the candidate join + verification + vote, the most expensive
    # part of the whole query (measured: the video vote chain appeared
    # twice per run). The explode emits the same row multiset from a
    # single evaluation.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
                ),
                F.struct(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                ),
            )
        ).alias("_e")
    ).select("_e.id_a", "_e.id_b")
    # Shuffle width for the loop: one task per core, NOT the global
    # shuffle default — the loop runs 2-20 rounds of joins over frames
    # that are tiny relative to the corpus (pairs + labels), and
    # per-round scheduling overhead dominates with e.g. 200 near-empty
    # partitions on a vanilla session. Scoping the conf (loop is
    # synchronous) keeps the pre-partitioned frames and each round's
    # join/agg on the SAME width, so the only per-round exchange stays
    # the groupBy. At cluster scale defaultParallelism = total cores.
    from transporter_spark.session import (
        scoped_confs,
        scoped_shuffle_partitions,
    )

    spark = edges.sparkSession
    np = spark.sparkContext.defaultParallelism
    # AQE off inside the loop (r15): both loop frames are pre-hash-
    # partitioned on their join keys at the scoped width, so the
    # per-round join plans with NO exchange and the only shuffle is
    # the fixed-width groupBy — there is nothing for AQE to coalesce,
    # demote, or skew-split (its skew handling applies to joins with
    # exchanges, which this loop deliberately has none of). What AQE
    # DOES add here is a sequential QueryStage materialization + driver
    # replan per exchange per round — pure latency on an iterative
    # loop (measured ~3x the round cost at sf0.1, any scale's round
    # count). Static planning keeps each round one job, one plan.
    # Lineage cuts here are LAZY local checkpoints (r16): the width
    # counts right below materialize them in the SAME job — the r15
    # shape paid an eager checkpoint job AND a count job per frame
    # (4 jobs per CC call); this runs 2. Reliable checkpoints stay
    # eager (a lazy rdd.checkpoint() recomputes the frame in a second
    # job to write it to storage).
    def _cut_entry(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return _materialize(df, True)
        return df.localCheckpoint(eager=False)

    with scoped_shuffle_partitions(spark, np):
        # entry frames materialize OUTSIDE the AQE-off scope: their
        # lineage holds the expensive candidate/edge subtrees (banded
        # joins, pair cosines), which should keep AQE's coalescing and
        # join demotion
        sym = _cut_entry(sym.repartition(F.col("id_b")))
        # The edge count doubles as the entry frame's checkpoint
        # materialization (still inside the np-width scope) and drives
        # both scale-adaptive decisions below.
        n_sym = sym.count()
        if n_sym <= _CC_DRIVER_MAX_EDGE_ROWS:
            # Small edge set (r16): solve components on the driver in
            # one pass — one collect instead of 1-4 sequential loop
            # jobs. The vertex frame stays distributed AND untouched:
            # no hash repartition, no checkpoint — with no loop joins
            # to co-partition for, the broadcast-mapping join below
            # needs neither, so the consumer's final job reads
            # vertices' own (usually already-materialized) lineage
            # once (see _cc_driver_components for the
            # identical-contract proof).
            return _cc_driver_components(sym, vertices, max_iter)
        labels0 = _cut_entry(
            vertices.select(
                F.col("id"), F.col("id").alias("component")
            ).repartition(F.col("id"))
        )
        # Scale-adaptive loop width (r15, guide §2: derive partitioning
        # from input size, not a constant): label propagation is ~tens
        # of bytes and ~no CPU per row, so the right width is
        # rows-per-task sized — a fixed defaultParallelism pays
        # (cores x stages x rounds) task dispatches even when the whole
        # graph fits one task (measured ~2s/round of pure dispatch at
        # sf0.1), while one task per ~1M rows keeps cluster-scale
        # graphs at full parallelism (width clamps back to
        # defaultParallelism). The count doubles as the labels frame's
        # checkpoint materialization.
        n_rows = max(n_sym, labels0.count())
    width = max(1, min(np, (n_rows + 999_999) // 1_000_000))
    if width != np:
        # re-cut at the loop width so every round's join sees both
        # sides hash-partitioned at shuffle.partitions and plans NO
        # exchange (the whole point of the pre-partitioning). Also
        # lazy (r16): the loop's first job materializes both recut
        # frames (one 1-wide exchange each over the checkpointed
        # entries) — the r15 eager recut paid two more jobs here.
        with scoped_shuffle_partitions(spark, width):
            sym = _cut_entry(sym.repartition(width, F.col("id_b")))
            labels0 = _cut_entry(
                labels0.repartition(width, F.col("id"))
            )
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": width,
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        return _cc_loop(sym, labels0, max_iter, reliable_checkpoint)


# Edge-row bound for the driver-local CC path: below it the entire
# symmetrized edge list is collected (two longs per row — a few MB at
# the bound) and components are solved in one BFS pass on the driver,
# replacing 1-4 sequential loop JOBS (each a full driver round-trip +
# barrier) with one collect. Above it the distributed loop runs
# unchanged, so the bound is size-adaptive, never core-count-tuned:
# at 100 TB a mostly-clean corpus or an incremental batch still
# produces KB-scale edge lists (dedup graphs track true duplication,
# not corpus size) and takes the fast path, while a giant duplicate
# graph falls back to the loop the moment it outgrows the bound.
_CC_DRIVER_MAX_EDGE_ROWS = 100_000

# Relabel-expression bound for the driver path: mappings at or below it
# ship as a literal map projection (no join, no broadcast exchange);
# bigger ones take the broadcast join. Measured map-minus-join wall at
# sf0.1 graph sizes (same-session alternating full-query rebuilds, the
# single-parse expr form): 244 entries -0.53s, 1933 entries -0.12s per
# run — the map wins at every measured size once the expression arrives
# as ONE parsed string (the F.lit() form's 2n py4j round-trips, not the
# optimizer, were the earlier "superlinear map cost": +1.58s at 1933).
# Bounded so the parsed expression stays metadata-sized; above it the
# flat-cost broadcast join is the safe form.
_CC_LITERAL_MAP_MAX = 4096


def _cc_not_converged(max_iter: int) -> RuntimeError:
    """The one non-convergence error of both CC paths (no label count:
    the driver path never runs the rounds that would count them)."""
    return RuntimeError(
        f"connected_components did not converge in {max_iter} rounds: "
        f"the duplicate graph has a chain longer than max_iter hops — "
        f"raise max_iter"
    )


def _cc_driver_components(
    sym: DataFrame, vertices: DataFrame, max_iter: int
) -> DataFrame:
    """Driver-local connected components for small edge sets — result-
    and CONTRACT-identical to `_cc_loop`: labels are each vertex's min
    reachable id, and the max_iter budget raises in EXACTLY the cases
    the loop raises. The loop observes its zero-change certificate in
    round R+1, where R = max over vertices v of dist(v, min-id vertex
    of v's component) (a vertex at distance r strictly lowers its
    label in round r, so rounds 1..R all change and round R+1 is the
    first quiet one); it raises iff max_iter <= R. R is computed here
    as the max BFS distance from the per-component min-id vertices.

    Untouched vertices (no incident edge) keep component = id via the
    left join below, so only the ≤ 2x|edges| non-trivial mappings ever
    reach the driver — the vertex frame itself stays distributed
    (collecting IT would be corpus-sized)."""
    from collections import deque

    adj: dict = {}
    for row in sym.collect():
        a, b = row[0], row[1]
        adj.setdefault(a, []).append(b)
    comp: dict = {}
    for v in adj:
        if v in comp:
            continue
        members = [v]
        comp[v] = v
        dq = deque((v,))
        while dq:
            u = dq.popleft()
            for w in adj[u]:
                if w not in comp:
                    comp[w] = v
                    members.append(w)
                    dq.append(w)
        m = min(members)
        for u in members:
            comp[u] = m
    # round budget: R = eccentricity of the min-id vertex within each
    # component, maxed over components (multi-source BFS from minima)
    dist = {m: 0 for m in set(comp.values())}
    dq = deque(dist)
    rounds_needed = 0
    while dq:
        u = dq.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                if dist[w] > rounds_needed:
                    rounds_needed = dist[w]
                dq.append(w)
    if max_iter <= rounds_needed:
        raise _cc_not_converged(max_iter)
    spark = vertices.sparkSession
    id_type = vertices.schema["id"].dataType.simpleString()
    nontrivial = [(v, m) for v, m in comp.items() if v != m]
    if not nontrivial:
        return vertices.select("id", F.col("id").alias("component"))
    if len(nontrivial) <= _CC_LITERAL_MAP_MAX and id_type == "bigint":
        # literal-map relabel: component = coalesce(map[id], id) — a
        # pure projection over the vertex frame, no join, no broadcast
        # exchange, no LocalRelation. The map is built as ONE SQL
        # string parsed JVM-side: the first cut (2n F.lit() Column
        # objects) paid 2n py4j round-trips per call — measured ~1.6s
        # at 1933 mappings, the literal map's entire apparent
        # "superlinear cost" — where one expr() parse is flat.
        pairs_sql = ", ".join(f"{v}L, {m}L" for v, m in nontrivial)
        relabel = F.expr(f"map({pairs_sql})")[F.col("id")]
        return vertices.select(
            "id", F.coalesce(relabel, F.col("id")).alias("component")
        )
    mapping = spark.createDataFrame(
        nontrivial, f"id {id_type}, _cc_m {id_type}"
    )
    return vertices.join(F.broadcast(mapping), "id", "left").select(
        "id", F.coalesce("_cc_m", F.col("id")).alias("component")
    )


def _cc_loop(
    sym: DataFrame,
    labels: DataFrame,
    max_iter: int,
    reliable_checkpoint: bool,
) -> DataFrame:
    """``sym`` and ``labels`` arrive pre-materialized and pre-hash-
    partitioned on id_b / id (connected_components does that outside
    the AQE-off scope)."""
    # LAZY local checkpoints (r15): the loop is strictly sequential and
    # every job ends in a counting action anyway, so marking the frame
    # for checkpoint and letting the convergence count materialize it
    # runs ONE job per step instead of two (eager checkpoint + count).
    # Reliable checkpoints stay eager: a lazy rdd.checkpoint() would
    # re-compute the frame in a second job to write it to storage.
    def _cut(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return _materialize(df, True)
        return df.localCheckpoint(eager=False)

    spark = labels.sparkSession
    # the caller scopes shuffle.partitions to the loop width
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _one_round(cur: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(cur, sym.id_b == cur.id)
            .groupBy("id_a")
            .agg(F.min("component").alias("nmin"))
        )
        return cur.join(
            neighbor_min, cur.id == neighbor_min.id_a, "left"
        ).select(
            cur.id,
            F.least(
                F.col("component"),
                F.coalesce(F.col("nmin"), F.col("component")),
            ).alias("component"),
            (
                F.coalesce(F.col("nmin"), F.col("component"))
                < F.col("component")
            ).alias("_changed"),
        )

    # TWO propagation rounds per job (r15): convergence needs only the
    # certificate that SOME round changed nothing (min-label updates
    # are monotone, so a zero-change round == the unique fixed point,
    # no matter what the previous sub-round did), so the driver checks
    # every SECOND round: half the job dispatches, driver round-trips
    # and lineage cuts per CC call, for a worst-case overshoot of one
    # no-op round over an already-converged (vertex-count-sized) label
    # frame. The intra-job intermediate frame feeds two consumers (the
    # edge join and the next round's left-join base); the explicit
    # repartition pins an Exchange there, which the two consumers
    # share via ReusedExchange — the sub-round is evaluated ONCE (the
    # same no-CSE-across-branches trap the sym self-union hit; an
    # unexchanged intermediate would be pipelined into, and recomputed
    # by, both consumer stages). The change flag still rides the
    # materialization: the convergence count is part of the same job
    # that stores the job's final frame.
    changed = 0
    rounds = 0
    while rounds < max_iter:
        stepped = _one_round(labels)
        rounds += 1
        if rounds < max_iter:
            mid = stepped.drop("_changed").repartition(width, F.col("id"))
            stepped = _one_round(mid)
            rounds += 1
        stepped = _cut(stepped)
        changed = stepped.filter(F.col("_changed")).count()
        labels = stepped.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        raise _cc_not_converged(max_iter)
    return labels


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    use_lsh: bool = True,
    portable: bool = False,
    max_iter: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Full near-dup dedup decision: candidate pairs (LSH or exact) ->
    connected components -> one canonical doc per cluster (min id).
    Returns (doc_id, component, is_canonical). Pair-level thresholds
    alone under-merge (A~B, B~C but A!~C must still be ONE group to
    avoid keeping two near-copies) — the component step closes that.

    max_iter bounds the CC rounds (raises on non-convergence);
    reliable_checkpoint swaps the loop's lineage cuts to storage-backed
    checkpoints for executor-loss durability at cluster scale.
    """
    pairs = (
        minhash_lsh_pairs(
            df,
            text_col,
            id_col,
            n,
            threshold=threshold,
            portable=portable,
            reliable_checkpoint=reliable_checkpoint,
        )
        if use_lsh
        else jaccard_pairs(df, text_col, id_col, n, threshold)
    )
    vertices = df.select(F.col(id_col).alias("id"))
    try:
        comp = connected_components(
            pairs.select("id_a", "id_b"),
            vertices,
            max_iter=max_iter,
            reliable_checkpoint=reliable_checkpoint,
        )
    finally:
        # connected_components materialized the pairs eagerly (lineage
        # cut), so the shingle cache behind them can be dropped now
        release_cached(pairs)
    return comp.select(
        F.col("id").alias(id_col),
        "component",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def dedup_canonical_best(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    **cluster_kw,
) -> DataFrame:
    """`dedup_clusters` with the canonical-selection policy real
    pipelines use: keep each cluster's BEST member by ``quality_col``
    (longest text, highest classifier score, freshest crawl — any
    ordering column), ties broken by smallest id so the choice is
    total and reproducible. The min-id default is an arbitrary
    survivor; when near-dup clusters mix a full document with its
    truncated or boilerplate-wrapped copies, argmax-by-quality keeps
    the superset copy — the difference between deduping and silently
    preferring the worst version.

    Scale shape: everything up to component labels is `dedup_clusters`
    (banded candidates, CC rounds ∝ diameter); the selection adds ONE
    hash shuffle of (id, component, quality) triples — never text —
    and a rank window per component (near-dup clusters are stars, so
    partitions are small by construction). Returns
    (id_col, component, quality_col, is_canonical) for every doc;
    singleton clusters keep their only member."""
    comp = dedup_clusters(df, text_col, id_col, **cluster_kw).drop(
        "is_canonical"
    )
    joined = comp.join(df.select(id_col, quality_col), id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return joined.select(
        id_col,
        "component",
        quality_col,
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SymSpell-style fuzzy join (edit-distance blocking)
# ---------------------------------------------------------------------------

def symspell_variants(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 1,
) -> DataFrame:
    """(id, s, var) symmetric-deletion variant table — the ONE variant
    definition behind the fuzzy join, and its PERSISTABLE index state
    (the SymSpell twin of `band_index`/`simhash_index`): write it once
    (bucket by var at scale) and each ingest batch probes for
    edit-distance-near corpus strings WITHOUT regenerating corpus
    variants (`incremental_symspell_pairs`)."""
    if max_distance not in (1, 2):
        raise ValueError("symspell supports max_distance in (1, 2)")
    d1 = (
        "array_union(array(s), transform(sequence(1, length(s)), "
        "i -> concat(substr(s, 1, i - 1), substr(s, i + 1, length(s)))))"
    )
    if max_distance == 1:
        variants = F.expr(f"if(length(s) = 0, array(s), {d1})")
    else:
        # delete positions i < j of the ORIGINAL string: prefix,
        # middle (chars i+1..j-1), suffix — sequence() bounds guarded
        # (Spark sequence descends when start > stop, so i stops at
        # length-1 and the whole branch is gated at length >= 2)
        d2 = (
            "flatten(transform(sequence(1, length(s) - 1), "
            "i -> transform(sequence(i + 1, length(s)), "
            "j -> concat(substr(s, 1, i - 1), substr(s, i + 1, j - i - 1), "
            "substr(s, j + 1, length(s))))))"
        )
        variants = F.expr(
            f"if(length(s) = 0, array(s), "
            f"if(length(s) = 1, {d1}, array_union({d1}, {d2})))"
        )
    return df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("s")
    ).withColumn("var", F.explode(variants))


def incremental_symspell_pairs(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "s",
    id_col: str = "id",
    max_distance: int = 1,
    new_variants: Optional[DataFrame] = None,
) -> DataFrame:
    """Edit-distance-near pairs for an INGEST BATCH against a
    persisted `symspell_variants` index — the fuzzy-join member of the
    incremental-dedup family: only the batch generates variants,
    candidates come from an equi-join on the variant key against the
    index (new-vs-corpus plus new-vs-new), and exact Levenshtein
    verifies over the strings BOTH tables already carry — corpus
    strings are never re-expanded. Symmetric-deletion recall is exact
    (edit-script alignment), so the result equals the full-corpus
    `symspell_pairs` restricted to pairs touching a batch row.

    Returns (id_a < id_b, dist). Disjoint ids assumed — run the id
    re-delivery guard first, as the continuous sink
    (streaming/fuzzy.py) does; append `new_variants` to the index
    after commit."""
    if new_variants is None:
        new_variants = _materialize(
            symspell_variants(new_df, text_col, id_col, max_distance)
        )
    a, b = new_variants.alias("a"), index.alias("b")
    vs_corpus = a.join(
        b,
        (F.col("a.var") == F.col("b.var")) & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        # levenshtein is symmetric: side order doesn't matter
        F.col("a.s").alias("_sa"),
        F.col("b.s").alias("_sb"),
    )
    na, nb = new_variants.alias("a"), new_variants.alias("b")
    vs_new = na.join(
        nb,
        (F.col("a.var") == F.col("b.var")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.s").alias("_sa"),
        F.col("b.s").alias("_sb"),
    )
    cand = vs_corpus.unionByName(vs_new).distinct()
    return (
        cand.withColumn("dist", F.levenshtein(F.col("_sa"), F.col("_sb")))
        .filter(F.col("dist") <= max_distance)
        .select("id_a", "id_b", "dist")
    )


def symspell_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_distance: int = 1,
) -> DataFrame:
    """Approximate-string self-join for typo-level matching: pairs of
    rows whose ``text_col`` values are within Levenshtein
    ``max_distance`` (1 or 2 — the SymSpell d<=2 scheme).

    Blocking is symmetric deletion (the SymSpell insight, public):
    every string emits itself plus each deletion of up to
    ``max_distance`` characters as a variant key; two strings within
    edit distance d ALWAYS share a <=d-deletion variant (align the
    edit script: delete the touched positions on both sides and the
    remainders coincide — at d=1: substitution -> same-position
    deletions collide, insert/delete -> the longer string's deletion
    equals the shorter, equality -> the string itself), so the
    equi-join on variants has full recall and exact Levenshtein
    verification never misses.

    Scale shape: the variant fan-out is length+1 rows per string at
    d=1 and ~length^2/2 at d=2 — a constant of the SCHEMA (key
    strings: names, titles, codes), not the corpus; candidates come
    from an equi-join on the variant key — bucket sizes stay small
    for natural text, and there is NO pairwise comparison outside
    verified candidates. This is the spell-correction / entity-typo
    join pattern at corpus scale; d=2 is the operating point the
    original SymSpell ships with.
    """
    v = symspell_variants(df, text_col, id_col, max_distance)
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, (F.col("a.var") == F.col("b.var")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("_sa"),
            F.col("b.s").alias("_sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein(F.col("_sa"), F.col("_sb")))
        .filter(F.col("dist") <= max_distance)
        .select("id_a", "id_b", "dist")
    )


def pair_recall(
    truth_pairs: DataFrame,
    found_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Recall of a candidate/near-dup pair set against ground truth —
    the dedup-family twin of `similarity.ann_recall_at_k`: the number
    a user tunes bands/num_hashes/max_bucket against, computed as a
    join + aggregation so the LSH paths are graded on their RECALL,
    not just the exactness of their verification arithmetic.

    Both inputs are (id_a, id_b) pair frames (extra columns — jaccard,
    hamming — ignored). Each side is normalized first: ids ordered
    with least/greatest (a frame that emitted (b, a) still matches)
    and DISTINCT-projected (recall is a SET measure — a pair list
    assembled from overlapping sources scores identically to its
    deduplicated form instead of fanning the join out). Self-pairs
    (id_a == id_b) are dropped: a degenerate generator that emits them
    must not inflate either side. Returns ONE row:
    (n_truth, n_found, n_hits, recall) where n_hits = |truth ∩ found|
    and recall = n_hits / n_truth as an IEEE double — NULL when truth
    is empty (0/0 is undefined, not 1.0 and not 0.0). Found pairs
    outside truth affect n_found only — this measures recall;
    precision is n_hits / n_found, derivable from the same row.

    Scale shape: pair frames are candidate-sized (bounded by the
    generators' own caps), the equi-join on (id_a, id_b) and the
    global count are one small shuffle; all counting is exact
    integers, the division at the boundary is deterministic IEEE
    double math on both engines."""

    def norm(df: DataFrame) -> DataFrame:
        a, b = F.col(id_a), F.col(id_b)
        return (
            df.select(
                F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
        )

    t = norm(truth_pairs).withColumn("_t", F.lit(1))
    f = norm(found_pairs).withColumn("_f", F.lit(1))
    # ONE full-outer equi-join yields all three counts — no second
    # aggregation, no 1x1 cross join
    joined = t.join(f, ["id_a", "id_b"], "full_outer")
    return (
        joined.agg(
            F.count("_t").cast("long").alias("n_truth"),
            F.count("_f").cast("long").alias("n_found"),
            F.count(F.when(F.col("_t").isNotNull() & F.col("_f").isNotNull(), 1))
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "n_truth",
            "n_found",
            "n_hits",
            F.when(
                F.col("n_truth") > 0,
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double"),
            ).alias("recall"),
        )
    )
