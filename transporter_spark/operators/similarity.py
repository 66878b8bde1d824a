"""Embedding similarity search (approximate nearest neighbor).

Baseline: brute-force cosine top-k — a broadcast nested-loop join with
a JVM-side dot product (zip_with/aggregate), then a per-query window
rank. Scale path: IVF-style bucketing — assign every vector to its
nearest centroid, search only the query's closest `nprobe` buckets;
recall < 1 is the price, the candidate multiplier is
nprobe/num_centroids.

No Python touches vectors in either path; arrays stay in Tungsten rows.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transporter_spark.registry import register
from transporter_spark.operators.dedup import cosine_expr


def ann_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is broadcast (it is the small side by construction); the
    corpus streams through once — at 100TB this is one scan + a
    per-partition top-k (the window is per query-id, and AQE handles
    the tiny result). Self-matches (same id) are excluded.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr("qvec", "cvec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = None,
    dims: Optional[int] = None,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (IVF cell).

    centroids: (centroid_id, centroid_vec) — small, broadcast. In a real
    deployment centroids come from a KMeans sample (pyspark.ml.KMeans);
    any deterministic centroid set works — the engine shape is the same.
    Output is the corpus plus `cell`, typically written partitioned by
    cell so probes prune at the file level (partition pruning).

    round_dp: round assignment similarities before ranking (with the
    cell-asc tiebreak this makes assignments engine- and
    partitioning-invariant — used by the oracle-checked query).
    """
    return _ivf_assign(
        corpus, centroids, id_col, vec_col, round_dp, dims
    ).select(id_col, "vec", "cell")


def _ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = None,
    dims: Optional[int] = None,
) -> DataFrame:
    """`ivf_index` plus the assignment similarity: (id, vec, cell, sim)
    — one row per corpus vector, `sim` the (rounded) cosine to the
    chosen centroid. The argmax is a groupBy max(struct) instead of a
    row_number window (r15): identical selection — the struct orders by
    (sim, -cell), i.e. sim DESC then cell ASC, over the same rounded
    sims, and NaN/null field ordering agrees with the window's
    (desc = NaN first, nulls last; struct max = NaN largest, null
    field smallest) — but the aggregate combines map-side, so the
    exchange carries one row per vector instead of one per
    (vector, centroid), and the per-partition sort disappears.

    Per-side norms are computed ONCE per row / per centroid before the
    crossJoin (the `semantic_decontaminate` precedent): bit-identical
    arithmetic — the pair expression is still dot / (na * nb) with
    na = sqrt(sum(v*v)) — with k-fold fewer norm reductions."""
    cen = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("centroid_vec").cast("array<double>").alias("cen_vec"),
    ).withColumn("_cn", _norm_expr("cen_vec", dims))
    sim = dot_expr("vec", "cen_vec", dims) / (F.col("_vn") * F.col("_cn"))
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .withColumn("_vn", _norm_expr("vec", dims))
        .crossJoin(F.broadcast(cen))
        .select(id_col, "vec", "cell", "_vn", sim.alias("sim"))
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("sim"),
                (-F.col("cell")).alias("_nc"),
                F.col("vec"),
                F.col("_vn"),
            )
        ).alias("_b")
    )
    return best.select(
        id_col,
        F.col("_b.vec").alias("vec"),
        (-F.col("_b._nc")).alias("cell"),
        F.col("_b.sim").alias("sim"),
        F.col("_b._vn").alias("_vn"),
    )


def dot_expr(
    a: str, b: str, dims: Optional[int] = None, strict: bool = False
) -> Column:
    """JVM-side dot product of two array<double> columns — the shared
    reduction of `cosine_expr` exposed on its own so callers can hoist
    the per-side norms out of pair loops (same fold, same order, same
    doubles).

    ``dims`` (r15): higher-order functions are CodegenFallback —
    interpreted, ~20us per 64-dim pair — so when the caller KNOWS the
    vector width it gets an unrolled `0D + a[0]*b[0] + ...` expression
    instead, which whole-stage codegen compiles. The unrolled sum is
    the SAME left fold starting from the same 0D literal — identical
    IEEE adds in identical order — guarded by a per-row size check.

    ``strict`` (r15 batch 6) picks what the guard's ELSE branch does:

    - strict=False: fall back to the aggregate expression — results are
      bit-identical for every input, right or ragged. RETRACTED for the
      hot paths: the HOF fallback is a CodegenFallback child inside
      every CaseWhen, so the whole conditional is planned interpreted
      and the tree bloats — measured net LOSS on every query it
      touched.
    - strict=True: raise_error per row — the geometry-guard posture of
      `_pq_slices`/the sketch family. No HOF child anywhere in the
      tree, so whole-stage codegen compiles the unrolled sum. Callers
      assert the corpus width is fixed (the PQ family already enforces
      divisibility per row and the repo's embedding tables are
      constant-width); a ragged row fails loud instead of silently
      computing at a different width."""
    slow = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    )
    if dims is None:
        return slow
    fast = F.lit(0.0)
    for i in range(dims):
        fast = fast + F.expr(f"{a}[{i}] * {b}[{i}]")
    guard = (F.expr(f"size({a})") == dims) & (F.expr(f"size({b})") == dims)
    if strict:
        err = F.expr(
            f"raise_error(concat('dot_expr: expected width {dims}, got ', "
            f"cast(size({a}) as string), '/', cast(size({b}) as string)))"
        ).cast("double")
        return F.when(guard, fast).otherwise(err)
    return F.when(guard, fast).otherwise(slow)


def _norm_expr(col: str, dims: Optional[int] = None) -> Column:
    """sqrt of the self dot product — the exact per-side factor
    `cosine_expr` computes inline, hoisted to once per row."""
    return F.sqrt(dot_expr(col, col, dims))


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = None,
) -> DataFrame:
    """IVF-bucketed ANN: search only each query's `nprobe` nearest cells.

    Both sides get cell assignments from the same broadcast centroids;
    the candidate join is an equi-join on `cell` — co-partitioned
    shuffle, no cross join. Candidate count ~= corpus * nprobe / n_cells.
    """
    indexed = ivf_index(corpus, centroids, id_col, vec_col, round_dp)
    return ann_ivf_search(
        indexed, queries, centroids, k, nprobe, id_col, vec_col, round_dp
    )


def ann_ivf_search(
    indexed: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = None,
) -> DataFrame:
    """Probe a PERSISTED IVF index: `indexed` is the (id, vec, cell)
    table `ivf_index` produced — written once (partitioned by `cell`)
    and reused across query batches, the ANN twin of the dedup
    `band_index` pattern. New corpus vectors append incrementally:
    assign them with `ivf_index` against the SAME centroid set and
    append the rows; no existing assignment changes.

    When the index parquet is partitioned by cell, the probe join
    prunes at the file level: the query side's nprobe cells are few,
    so Spark's dynamic partition pruning reads only those directories —
    at 100 TB the scan cost is nprobe/n_cells of the corpus, before a
    single row is decoded (pinned in tests/test_dedup.py).
    """
    cen = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("centroid_vec").cast("array<double>").alias("cen_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    qsim = cosine_expr("qvec", "cen_vec")
    if round_dp is not None:
        qsim = F.round(qsim, round_dp)
    q_cells = (
        q.crossJoin(F.broadcast(cen))
        .select("query_id", "qvec", "cell", qsim.alias("sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    cand = indexed.join(q_cells, "cell").filter(
        F.col("query_id") != F.col(id_col)
    )
    final = cosine_expr("qvec", "vec")
    if round_dp is not None:
        final = F.round(final, round_dp)
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        final.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@register("ann_topk")
def ann_topk(
    queries_filter: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame], DataFrame]:
    """Registry wrapper: corpus frame in, top-k per query out; the query
    set is the subset of the corpus matching `queries_filter`."""

    def apply(df: DataFrame) -> DataFrame:
        return ann_brute_force(df, df.filter(queries_filter), k, id_col, vec_col)

    return apply


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_dp: "int | None" = None,
) -> DataFrame:
    """Embedding-space decontamination: flag training vectors whose
    embedding lies within cosine ``threshold`` of ANY benchmark/eval
    vector — the semantic complement of the n-gram `decontaminate`
    gate (paraphrased eval leakage shares no n-grams but is
    embedding-close).

    Returns one row per contaminated training doc: (id, best_bench_id,
    max_cosine) — the strongest benchmark match, ties broken by bench
    id so the output is deterministic across partitionings.

    Scale shape: benchmark embedding sets are thousands of rows (tiny)
    — Spark broadcasts them; the training corpus streams once through
    a nested-loop score + per-id window on the few above-threshold
    hits. No corpus-side shuffle before the filter; the window moves
    only contaminated rows. ``round_dp`` rounds the cosine BEFORE the
    threshold/ranking for cross-engine float stability (same policy as
    `ann_brute_force` oracles).
    """
    # norms are per-ROW values: computing them once per row instead of
    # inside the per-pair join condition is bit-identical arithmetic
    # (same doubles, same divide) but cuts the interpreted HOF
    # aggregates per pair from three to one (the dot product) —
    # measured ~3x on the |train| x |bench| nested loop.
    def _norm(col: str):
        return F.sqrt(
            F.expr(
                f"aggregate(zip_with({col}, {col}, (x, y) -> x * y), 0D,"
                " (s, v) -> s + v)"
            )
        )

    # spread the CPU-bound scoring loop: one round-robin shuffle of the
    # train side is negligible next to the |train| x |bench| dot
    # products that follow (at any scale), and a single-file parquet
    # input would otherwise score on ONE core.
    t = (
        train.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .repartition(train.sparkSession.sparkContext.defaultParallelism)
        .withColumn("_tn", _norm("vec"))
    )
    b = bench.select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).cast("array<double>").alias("bvec"),
    ).withColumn("_bn", _norm("bvec"))
    dot = F.expr(
        "aggregate(zip_with(vec, bvec, (x, y) -> x * y), 0D, (s, v) -> s + v)"
    )
    # zero-norm guard (ANSI mode makes x/0 an error): an all-zero
    # embedding (empty doc / padding row) has undefined cosine — NULL
    # here, which then falls out of the >= threshold filter.
    denom = F.col("_tn") * F.col("_bn")
    cos = F.when(denom > 0, dot / denom)
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    scored = t.join(F.broadcast(b)).select("id", "bench_id", cos.alias("cosine"))
    hits = scored.filter(F.col("cosine") >= threshold)
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("bench_id"))
    return (
        hits.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "id",
            F.col("bench_id").alias("best_bench_id"),
            F.col("cosine").alias("max_cosine"),
        )
    )


def semdedup_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
    max_iter: int = 20,
    reliable_checkpoint: bool = False,
    dims: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style embedding-cluster near-dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication") — the semantic step next to the lexical MinHash
    family: cluster the embedding space (here: assign to the provided
    k-means centroids via `ivf_index` — broadcast centroids, one
    corpus scan), connect INTRA-CLUSTER pairs whose cosine reaches
    ``threshold`` into duplicate groups, and keep ONE member per
    group: the paper's policy, the member with the LOWEST cosine to
    its cluster centroid (the most boundary-defining example; ties by
    smallest id so the choice is total and reproducible — the
    `dedup_canonical_best` argmax discipline with -centroid_sim as the
    quality). Returns (id_col, cell, centroid_sim, component,
    is_canonical) for EVERY input vector; singleton groups keep their
    only member.

    100 TB shape — cells, never all-pairs: candidate pairs come from a
    self equi-join ON THE CELL KEY (pinned: no cartesian/BNLJ), so the
    pair count is sum over cells of |cell|^2/2, not corpus^2/2 — the
    paper's O(n^2/k) with cluster count k sized so a cell fits a
    partition (their 50k clusters for LAION-440M). Components are
    min-label propagation over cell-local edges (rounds ∝ component
    diameter — near-dup groups are stars); the canonical argmax adds
    one (id, component, sim) shuffle — vectors never re-shuffle after
    assignment. ``round_dp`` rounds both the assignment and the pair
    cosines so verdicts are partitioning- and engine-invariant."""
    from transporter_spark.operators.dedup import _cached_eager, _materialize

    # eagerly-populated persist (r15: was a LAZY .persist()): the
    # assignment feeds the self-join's two branches AND the final
    # label join — Spark plans no CSE across join branches — and with
    # a LAZY cache the concurrently-submitted broadcast-build jobs of
    # those branches all raced the empty cache and each recomputed the
    # full assignment (measured: a cold first run cost ~7x the steady
    # state). The eager count fills the cache exactly once; identical
    # re-executions then reuse it by plan equality.
    # repartition(defaultParallelism) before the cut: the assignment's
    # groupBy output is BYTE-tiny relative to the O(n^2/k) pair-cosine
    # loop it feeds, so AQE's byte-based coalescing collapses it to 1-2
    # partitions and the pair scoring runs nearly serial (measured: a
    # 2-task 4s stage at sf0.1). One round-robin pass of (id, vec,
    # norm) rows is negligible next to the intra-cell pair work at any
    # scale — the semantic_decontaminate precedent.
    spark = corpus.sparkSession
    assigned = _semdedup_assign(
        corpus, centroids, id_col, vec_col, round_dp, dims
    ).repartition(spark.sparkContext.defaultParallelism)
    if reliable_checkpoint:
        with_sim = _materialize(assigned, True)
    else:
        with_sim = _cached_eager(assigned)
    from transporter_spark.operators.dedup import _attach_cached

    out = _semdedup_label(
        with_sim, threshold, id_col, round_dp, max_iter,
        reliable_checkpoint, dims,
    )
    # attach the cached assignment for release in long-lived sessions
    return _attach_cached(out, with_sim)


def _semdedup_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    round_dp: Optional[int],
    dims: Optional[int] = None,
) -> DataFrame:
    """(id, vec, cell, centroid_sim, _vn): every vector with its
    assigned cell and (rounded) cosine to that cell's centroid — the
    frame the batch operator and the continuous sink both start from
    (computed ONCE per epoch there; the sink's standing-set rejection
    reuses it). `_vn` is the row's vector norm, hoisted here so pair
    scoring downstream (`_semdedup_label`, the sink's standing-set
    join) never recomputes per-side norms inside the pair loop.

    r15: the assignment similarity rides the `_ivf_assign` argmax
    directly — the former re-join of the centroid table and second
    cosine evaluation computed the SAME rounded value the argmax had
    already produced."""
    return _ivf_assign(
        corpus, centroids, id_col, vec_col, round_dp, dims
    ).select(
        id_col, "vec", "cell", F.col("sim").alias("centroid_sim"), "_vn"
    )


def _semdedup_label(
    with_sim: DataFrame,
    threshold: float,
    id_col: str,
    round_dp: Optional[int],
    max_iter: int,
    reliable_checkpoint: bool,
    dims: Optional[int] = None,
) -> DataFrame:
    """Component labels + canonical argmax over an assigned frame
    (see `semdedup_prune` for semantics). Callers persist ``with_sim``
    — it is referenced by three join branches."""
    from transporter_spark.operators.dedup import connected_components

    edges = _semdedup_edges(with_sim, threshold, id_col, round_dp, dims)
    comp = connected_components(
        edges,
        with_sim.select(F.col(id_col).alias("id")),
        max_iter=max_iter,
        reliable_checkpoint=reliable_checkpoint,
    )
    labeled = with_sim.select(id_col, "cell", "centroid_sim").join(
        comp.select(F.col("id").alias(id_col), "component"), id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.asc("centroid_sim"), F.asc(id_col)
    )
    return labeled.select(
        id_col,
        "cell",
        "centroid_sim",
        "component",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def _semdedup_edges(
    with_sim: DataFrame,
    threshold: float,
    id_col: str,
    round_dp: Optional[int],
    dims: Optional[int] = None,
) -> DataFrame:
    """Intra-cell duplicate EDGES over an assigned frame — the scale
    contract of the family: a self EQUI-join on the cell key
    (O(n^2/k)), never all-pairs (plan-pinned in tests/test_plans.py).
    Per-side norms come hoisted from the frame (`_vn`): the pair
    expression is still dot / (na * nb) — identical doubles, identical
    order — but the two sqrt reductions run once per ROW instead of
    once per PAIR (the semantic_decontaminate ~3x lesson). The
    threshold filter stays ABOVE the join (`no_pushdown`): folded into
    the SMJ condition the whole pair-cosine would be evaluated with
    interpreted expression eval per candidate pair (measured 3x)."""
    from transporter_spark.operators.dedup import no_pushdown

    a, b = with_sim.alias("a"), with_sim.alias("b")
    pcos = dot_expr("a.vec", "b.vec", dims) / (
        F.col("a._vn") * F.col("b._vn")
    )
    if round_dp is not None:
        pcos = F.round(pcos, round_dp)
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            pcos.alias("_c"),
        )
        .where(no_pushdown(F.col("_c")) >= threshold)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the compression layer of production ANN:
# a 64-dim float32 vector (256 B) becomes m sub-codes (m bytes at
# ksub<=256), and search scans CODES with per-query lookup tables
# (ADC), never raw vectors. At 100 TB of embeddings that is the
# difference between scanning 100 TB and scanning ~1.5 TB of codes.
# ---------------------------------------------------------------------------


def _sq_l2_fix(a: str, b: str) -> Column:
    """Engine-exact squared-L2 between two array<double> columns in
    integer MICRO units: the dot-product identity |a|^2 - 2ab + |b|^2
    (the SAME reduction both engines run — Spark aggregate-sum here,
    DuckDB list_dot_product in the oracle, the ann-family precedent),
    rounded to 6dp, then double->string->DECIMAL(38,12)*1e6->BIGINT —
    the repo's exact fixed-point boundary (a direct double cast drifts;
    see queries._dsum). Integer distances make every downstream argmin
    and SUM order- and engine-invariant."""

    def dot(x, y):
        return F.expr(
            f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0D, (s, v) -> s + v)"
        )

    return _l2_fix_from(dot(a, a), dot(a, b), dot(b, b))


def _l2_fix_from(aa: Column, ab: Column, bb: Column) -> Column:
    """The `_sq_l2_fix` fixed-point boundary over already-computed dot
    products: (aa - 2*ab + bb) evaluated in the SAME association order
    as the inline form, so callers can hoist the per-side self-dots
    out of pair loops (computed once per row / once per codebook
    entry) with bit-identical results."""
    l2 = aa - 2 * ab + bb
    return (
        (F.round(l2, 6).cast("string").cast("decimal(38,12)") * 1_000_000)
        .cast("long")
    )


def _pq_slices(vec_expr: str, m: int) -> str:
    """The m sub-vector slices of ``vec_expr`` as one transform
    expression, GUARDED: Spark's slice() silently truncates (it does
    NOT raise on a short range — ADVICE r7), so a vector whose length
    isn't divisible by m would be encoded/searched with its trailing
    dimensions silently ignored across the whole PQ family. The guard
    raises per-row instead (USER_RAISED_EXCEPTION), the same fail-loud
    posture as the Bloom/span geometry checks."""
    guarded = (
        f"if(size({vec_expr}) % {m} = 0, cast({vec_expr} as array<double>), "
        f"raise_error(concat('pq: vector length ', "
        f"cast(size({vec_expr}) as string), "
        f"' not divisible by m={m}')))"
    )
    return (
        f"transform(sequence(0, {m - 1}), "
        f"j -> slice({guarded}, "
        f"j * (size({vec_expr}) div {m}) + 1, size({vec_expr}) div {m}))"
    )


def pq_codebooks(
    seed_vectors: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(j, code, cvec): sub-codebooks from a FIXED seed set — entry
    ``code`` of subquantizer ``j`` is the j-th slice of the seed vector
    with id ``code`` (the deterministic fixed-seed discipline of the
    ann_ivf centroids: any deterministic codebook works, the engine
    shape is the same; real deployments train per-slice k-means —
    `kmeans_update` — and persist the result). Requires len(vec) % m
    == 0 — enforced per-row by `_pq_slices`' raise_error guard."""
    return seed_vectors.select(
        F.col(id_col).cast("long").alias("code"),
        F.posexplode(F.expr(_pq_slices(vec_col, m))).alias("j", "cvec"),
    ).select("j", "code", "cvec")


def pq_encode_rows(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: Sequence[str] = (),
    dims: Optional[int] = None,
    strict: bool = False,
) -> DataFrame:
    """(id, [carry...], j, code): each vector's m sub-assignments —
    argmin integer-micro L2 to its subquantizer's entries, ties to the
    smallest code (total, reproducible). ONE corpus scan and ZERO
    exchanges: slices come from a posexplode, the codebook arrives as
    ONE broadcast row per subquantizer (its ksub entries packed into a
    code-sorted array), and the per-slice argmin is evaluated row-local
    as array_min(transform(entries, e -> struct(d2, code))).code.
    This row form IS the searchable index (`pq_search` consumes it);
    `pq_encode` packs it to one codes-array row per vector. ``carry``
    names extra columns to ride along (e.g. the IVF ``cell`` for the
    residual index — avoids re-joining the assignment).

    Shape history (r15): a row_number window over the n x m x ksub
    candidate fan-out, then a groupBy min(struct(d2, code)) argmin
    (map-side combine, exchange of one row per slice), now the
    row-local HOF argmin: the fan-out never becomes rows at all, so
    the per-partition SORT of n*m*ksub candidate rows (min(struct) is
    not hash-aggregable — Spark planned a SortAggregate) and the
    aggregation exchange disappear with it. array_min over
    struct(d2, code) is the same (d2 ASC, code ASC) total order as
    min(struct(d2, code)) — entries are code-unique, so the tiebreak
    is identical — and every d2 is the same `_l2_fix_from` fixed-point
    over the same hoisted self-dots (_aa per slice, _bb per codebook
    entry) with the same HOF ab fold: bit-identical selections
    (verified: identical result sets at sf0.1, old vs new, plus DuckDB
    oracle sim green on all 8 PQ-family queries). Local timings read
    at parity (min 2.16s old vs 1.98s new on ivfpq_refine_topk; the
    occasional 15s outlier was observed on BOTH shapes — host
    scheduling, not the plan); the win is structural and scales: one
    Exchange + one per-partition Sort of the n*m*ksub candidate rows
    gone from every encode."""
    carry = list(carry)
    # per-side self-dots hoisted out of the ksub-wide candidate loop
    # (r15): _aa once per (id, j) slice, _bb once per codebook entry;
    # the pair expression keeps the exact inline association order
    # ((aa - 2*ab) + bb), so every d2 is bit-identical. ``dims`` is
    # the FULL vector width; slices are dims div m wide (the
    # `_pq_slices` guard already enforces divisibility per row).
    sub = dims // m if dims is not None else None
    sliced = corpus.select(
        F.col(id_col),
        *carry,
        F.posexplode(
            F.expr(_pq_slices(vec_col, m))
        ).alias("j", "svec"),
    ).withColumn("_aa", dot_expr("svec", "svec", sub, strict))
    cbarr = (
        codebooks.withColumn("_bb", dot_expr("cvec", "cvec", sub, strict))
        .groupBy("j")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("code", "cvec", "_bb"))
            ).alias("entries")
        )
    )
    # the lambda-side d2 is textually the same fixed-point boundary as
    # `_l2_fix_from` (round 6dp -> string -> DECIMAL(38,12) * 1e6 ->
    # BIGINT) over the same HOF ab fold — keep the two in sync
    d2 = (
        "cast(cast(cast(round((_aa - 2 * aggregate(zip_with(svec, e.cvec, "
        "(x, y) -> x * y), 0D, (s, v) -> s + v)) + e._bb, 6) as string) "
        "as decimal(38,12)) * 1000000 as bigint)"
    )
    return sliced.join(F.broadcast(cbarr), "j").select(
        id_col,
        *carry,
        "j",
        F.expr(
            f"array_min(transform(entries, e -> named_struct("
            f"'d2', {d2}, 'code', e.code))).code"
        ).alias("code"),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<long>): the packed PQ code — m small ints per
    vector (the 100x-compression artifact you persist)."""
    rows = pq_encode_rows(corpus, codebooks, m, id_col, vec_col)
    return rows.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "code"))),
            lambda s: s.code,
        ).alias("codes")
    )


def pq_search(
    code_rows: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
) -> DataFrame:
    """ADC top-k: asymmetric distance — the QUERY stays a raw vector,
    the corpus is its codes. Per query, a lookup table of
    integer-micro L2s to every (j, code) codebook entry (#queries x m
    x ksub rows — metadata-sized, broadcast); a document's
    approximate distance is the SUM of its m looked-up entries —
    exact integer addition, so ranking is engine- and
    partitioning-invariant. The scan reads CODES only (m small ints
    per doc), never corpus vectors; the rank window partitions by
    query. Self-matches (same id) are excluded. Returns
    (query_id, {id_col}, adc_d2, rk)."""
    qsliced = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.expr(_pq_slices(vec_col, m))
        ).alias("j", "qvec"),
    )
    lut = qsliced.join(F.broadcast(codebooks), "j").select(
        "query_id", "j", "code", _sq_l2_fix("qvec", "cvec").alias("d2")
    )
    scored = (
        code_rows.join(F.broadcast(lut), ["j", "code"])
        .where(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def ivfpq_search(
    indexed_codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    round_dp: Optional[int] = 8,
) -> DataFrame:
    """IVF-PQ — the production ANN layout (FAISS's IndexIVFPQ;
    Jégou et al. 2011 §IV): the coarse quantizer prunes WHICH cells
    are read, the product quantizer shrinks WHAT is read. Queries
    assign to their ``nprobe`` nearest cells (broadcast centroids,
    same tiebreaks as `ann_ivf_search`); candidates come from an
    equi-join on ``cell`` against ``indexed_codes`` — the (id, cell,
    j, code) rows `ivf_index` + `pq_encode_rows` produce, written
    partitioned by cell so the probe prunes files; scoring is the ADC
    integer-micro LUT sum of `pq_search`, restricted to candidates.
    At 100 TB: read nprobe/n_cells of the corpus, and what is read is
    codes (~1% of vector bytes) — multiplicative savings. Returns
    (query_id, {id_col}, adc_d2, rk)."""
    cen = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("centroid_vec").cast("array<double>").alias("cen_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    qsim = cosine_expr("qvec", "cen_vec")
    if round_dp is not None:
        qsim = F.round(qsim, round_dp)
    q_cells = (
        q.crossJoin(F.broadcast(cen))
        .select("query_id", "cell", qsim.alias("sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("sim"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cell")
    )
    qsliced = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.expr(_pq_slices(vec_col, m))
        ).alias("j", "qvec"),
    )
    lut = qsliced.join(F.broadcast(codebooks), "j").select(
        "query_id", "j", "code", _sq_l2_fix("qvec", "cvec").alias("d2")
    )
    cand = indexed_codes.join(F.broadcast(q_cells), "cell").where(
        F.col("query_id") != F.col(id_col)
    )
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "j", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def pq_residual_frame(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
    dims: Optional[int] = None,
) -> DataFrame:
    """(id, cell, rvec): each vector's RESIDUAL to its assigned
    centroid (element-wise subtraction — identical IEEE ops on both
    engines). Residuals are what FAISS's IndexIVFPQ actually encodes:
    within a cell they are centered near zero, so a shared sub-codebook
    quantizes them far better than raw vectors — the coarse quantizer
    removes the mean, PQ encodes the remainder."""
    assigned = ivf_index(corpus, centroids, id_col, vec_col, round_dp, dims)
    cen = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("centroid_vec").cast("array<double>").alias("cen_vec"),
    )
    return assigned.join(F.broadcast(cen), "cell").select(
        id_col,
        "cell",
        F.expr("zip_with(vec, cen_vec, (x, y) -> x - y)").alias("rvec"),
    )


def ivfpq_residual_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
    dims: Optional[int] = None,
    encode_dims: Optional[int] = None,
) -> DataFrame:
    """(id, cell, j, code): the residual-encoded IVF-PQ index rows —
    ONE corpus pass (assignment + residual + sub-code argmin; the cell
    rides the encode via `carry`, no re-join). Write partitioned by
    cell; ``codebooks`` must live in residual space (build them with
    `pq_codebooks` over `pq_residual_frame` of the seed vectors)."""
    res = pq_residual_frame(
        corpus, centroids, id_col, vec_col, round_dp, dims
    )
    # repartition(defaultParallelism) between the assignment and the
    # encode (r15): the residual rows are byte-tiny relative to the
    # n x m x ksub encode fan-out they feed (three interpreted-HOF dot
    # products per candidate ~ m*ksub*dims flops per row), so AQE's
    # byte-based coalescing collapses the post-assignment exchange to
    # ONE partition and the entire encode runs serial (measured at
    # sf0.1: a 1.7-2.4s single-task stage per run, 1M-row broadcast
    # join). One round-robin pass of (id, cell, rvec) rows is
    # negligible next to the per-row encode work at any scale — the
    # semdedup-assignment precedent.
    spark = corpus.sparkSession
    res = res.repartition(spark.sparkContext.defaultParallelism)
    # encode_dims (r15 batch 6): strict-unrolled dots for the encode's
    # n x m x ksub candidate scoring — MEASURED NET LOSS, no caller
    # passes it (same-session alternating pairs: HOF 2.40s vs strict
    # unroll 3.05s on the full refine query). Even WITHOUT the retracted
    # form's HOF fallback branch (here the ELSE is a raise_error, so
    # whole-stage codegen does compile the 8-term sums), the codegen'd
    # unroll is slower than the interpreted HOF aggregate at slice width
    # — the r15 retraction's conclusion holds unconditionally. Kept as
    # documented plumbing so the A/B can be repeated.
    return pq_encode_rows(
        res, codebooks, m, id_col=id_col, vec_col="rvec", carry=["cell"],
        dims=encode_dims if encode_dims is not None else dims,
        strict=encode_dims is not None,
    )


def ivfpq_residual_search(
    indexed_codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    round_dp: Optional[int] = 8,
) -> DataFrame:
    """Residual IVF-PQ search — the faithful FAISS IndexIVFPQ probe:
    a query computes a SEPARATE residual (and so a separate ADC
    lookup table) per probed cell, because the stored codes quantize
    cell-relative residuals; candidate distances are the
    (query, cell)-scoped LUT sums over the candidate's codes. LUT
    volume is #queries x nprobe x m x ksub — still metadata-sized,
    broadcast. Everything after the raw-vector residual subtraction is
    the integer-micro fixed-point of the plain PQ path, so rankings
    replay bit-for-bit. Returns (query_id, {id_col}, adc_d2, rk)."""
    cen = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("centroid_vec").cast("array<double>").alias("cen_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    qsim = cosine_expr("qvec", "cen_vec")
    if round_dp is not None:
        qsim = F.round(qsim, round_dp)
    q_cells = (
        q.crossJoin(F.broadcast(cen))
        .select("query_id", "qvec", "cell", "cen_vec", qsim.alias("sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("sim"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id",
            "cell",
            F.expr("zip_with(qvec, cen_vec, (x, y) -> x - y)").alias("rqv"),
        )
    )
    qsliced = q_cells.select(
        "query_id",
        "cell",
        F.posexplode(
            F.expr(_pq_slices("rqv", m))
        ).alias("j", "qs"),
    )
    lut = qsliced.join(F.broadcast(codebooks), "j").select(
        "query_id", "cell", "j", "code",
        _sq_l2_fix("qs", "cvec").alias("d2"),
    )
    cand = indexed_codes.join(
        F.broadcast(q_cells.select("query_id", "cell")), "cell"
    ).where(F.col("query_id") != F.col(id_col))
    scored = (
        cand.join(F.broadcast(lut), ["query_id", "cell", "j", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d2").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def l2_normalize_rows(
    df: DataFrame,
    vec_col: str = "embedding",
    round_dp: int = 7,
    keep: Sequence[str] = ("vec_id",),
) -> DataFrame:
    """Unit-normalize an array column JVM-side (zip_with/aggregate —
    no Python), with components ROUNDED at ``round_dp``: the division
    by a 64-term sum is where engine summation order could differ by
    an ulp, so quantizing the normalized components makes every
    downstream distance/fixed-point computation run on bit-identical
    inputs on both engines (DuckDB twin: list_transform(e, x ->
    round(x / sqrt(list_dot_product(e, e)), dp))). Normalization is
    what aligns the PQ family's L2-ADC objective with the cosine
    ground truth: on unit vectors L2^2 = 2 - 2*cos, so L2 ranking ==
    cosine ranking (the `ann_recall_at_k` docstring's fix, applied).

    Two projections, not one expression: the norm is computed ONCE
    per row into a staging column and the (interpreted,
    CodegenFallback) transform lambda references it — an inlined norm
    would re-run the d-term aggregate per ELEMENT, O(d²)/row. Returns
    ``keep`` + the normalized ``vec_col``; run once at index build and
    materialize the result (the graded query does), not per-probe.

    A zero-norm row RAISES per-row (ADVICE r10): x/0 would silently
    emit NaN components and corrupt every downstream cosine/PQ
    ranking — the fail-loud discipline of bpe_encode_ids' unknown-
    symbol raise, applied to the geometry boundary. Drop or impute
    zero vectors upstream if the corpus legitimately contains them."""
    staged = df.select(
        *keep,
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.expr(
            "sqrt(aggregate(zip_with(_v_src, _v_src, (p, q) -> p * q), "
            "0D, (s, v) -> s + v))".replace(
                "_v_src", f"cast({vec_col} as array<double>)"
            )
        ).alias("_raw_norm"),
    ).select(
        *keep,
        "_v",
        # NOT isnan too: Spark orders NaN above every double, so a
        # NaN norm (NaN component upstream) would pass a bare `> 0D`
        # and the guard would wave through exactly the corruption it
        # exists to stop (r11 review)
        F.expr(
            "if(_raw_norm > 0D and not isnan(_raw_norm), _raw_norm, "
            "cast(raise_error("
            "'l2_normalize_rows: zero-norm or NaN-norm vector — "
            "normalizing would emit NaN components and silently "
            "corrupt downstream cosine/PQ rankings; drop or impute "
            "bad embeddings upstream') as double))"
        ).alias("_norm"),
    )
    return staged.select(
        *keep,
        F.expr(f"transform(_v, x -> round(x / _norm, {round_dp}))").alias(
            vec_col
        ),
    )


def ann_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
) -> DataFrame:
    """EXACT-refine stage of a production ANN stack (FAISS
    IndexRefineFlat): re-score an approximate shortlist with true
    cosine over the RAW vectors and keep the top k. The approximate
    stage only has to get the true neighbors INTO the shortlist
    (recall@shortlist), not rank them — which is how a coarse,
    cheap-to-scan PQ index still serves high recall@k.

    ``shortlist`` is (query_id, {id_col}) rows from any ANN search
    (extra columns ignored). Scale shape: the shortlist is #queries x
    k' rows — metadata-sized — and is BROADCAST against the corpus,
    so the exact re-scoring reads raw vectors for only the
    shortlisted ids in one corpus scan (at 100 TB: the expensive
    full-precision distance touches #queries x k' vectors, never the
    corpus). Returns (query_id, neighbor_id, cosine, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    sl = shortlist.select(
        "query_id", F.col(id_col).alias("neighbor_id")
    ).distinct()
    cos = cosine_expr("qvec", "cvec")
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    scored = (
        c.join(F.broadcast(sl), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_refine_search(
    indexed_codes: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    round_dp: Optional[int] = 8,
) -> DataFrame:
    """The tuned two-stage probe: residual IVF-PQ produces an ADC
    shortlist of ``shortlist`` candidates per query (codes-only scan,
    nprobe-pruned), then `ann_rerank` re-scores just those with exact
    cosine over the raw vectors. ``corpus`` supplies the raw vectors
    for the refine stage (NORMALIZE both it and ``queries`` with
    `l2_normalize_rows` for the cosine-aligned operating point)."""
    short = ivfpq_residual_search(
        indexed_codes, queries, centroids, codebooks,
        k=shortlist, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        m=m, round_dp=round_dp,
    )
    return ann_rerank(
        short, corpus, queries, k=k,
        id_col=id_col, vec_col=vec_col, round_dp=round_dp,
    )


def kmeans_update(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
    comp_dp: int = 6,
) -> DataFrame:
    """One Lloyd iteration's centroid-update partials: assign every
    vector to its nearest centroid (`ivf_index` — broadcast centroids,
    one corpus scan, per-vector window over k rows), then emit the
    MERGEABLE partial per (cell, dim): exact component sum + member
    count. The new centroid is sum/n — division is left to the caller
    (presentation), so the output stays exact and re-aggregable, the
    same discipline as a partial aggregate's (sum, count) pair.

    Exactness policy: components are rounded to ``comp_dp`` decimals
    and summed as DECIMAL(38,12) via the string cast (the repo-wide
    `_dsum` policy) — decimal addition is associative, so the sums are
    identical across partitionings and engines; a float sum would
    depend on reduction order. Scale shape: posexplode keeps
    (cell, dim) keys at k x dims — the groupBy is map-side combined
    into a tiny frame regardless of corpus size.
    """
    p = kmeans_partials(corpus, centroids, id_col, vec_col, round_dp, comp_dp)
    return p.select(
        "cell",
        "dim",
        F.col("sum_dec").cast("string").cast("double").alias("sum_val"),
        "n",
    )


def kmeans_partials(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: Optional[int] = 8,
    comp_dp: int = 6,
) -> DataFrame:
    """`kmeans_update`'s internal mergeable form: (cell, dim,
    sum_dec DECIMAL(38,12), n). Kept decimal so downstream merges
    (the streaming sink's delta-merge) stay associative; the double
    boundary cast happens once, at presentation."""
    assigned = ivf_index(corpus, centroids, id_col, vec_col, round_dp)
    comp = assigned.select(
        "cell", F.posexplode("vec").alias("dim", "comp")
    )
    dec = (
        F.round(F.col("comp"), comp_dp)
        .cast("string")
        .cast("decimal(38,12)")
    )
    return (
        comp.groupBy("cell", "dim")
        .agg(F.sum(dec).cast("decimal(38,12)").alias("sum_dec"),
             F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# ANN quality audit: recall@k of an approximate index vs brute force
# ---------------------------------------------------------------------------

def ann_recall_at_k(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate ANN result against the brute-force
    ground truth — the number every ANN user actually tunes
    nprobe/m/nbits against, computed as a join + aggregation so the
    approximation family is graded on its QUALITY, not just the
    exactness of its arithmetic.

    Both inputs are (query, neighbor) top-k frames (extra columns
    ignored). Each side is DISTINCT-projected first — recall is a SET
    measure, so a frame assembled from overlapping sources (a union
    of epoch results, a re-delivered sink read) scores identically to
    its deduplicated form instead of fanning the join out and
    silently corrupting the counts. After dedup, more than k rows for
    any exact-side query PROVES the input wasn't a top-k frame — the
    audit raises per-row (fail-loud, the sketch-family discipline)
    rather than reporting a recall over the wrong denominator.
    Returns one row per exact-side query: (query_id, n_exact, n_hits,
    recall) where n_hits = |exact ∩ approx| and recall = n_hits /
    n_exact as an IEEE double (n_exact, not the nominal k, so a query
    with fewer than k legal neighbors can still score 1.0). A query
    the approx side missed entirely scores 0.0 — the LEFT join keeps
    it visible instead of silently dropping it.

    Scale shape: both sides are k rows per query (metadata-sized next
    to the corpora that produced them); the equi-join on (query,
    neighbor) and the per-query count are one small shuffle. All
    counting is exact integers; the single division at the boundary
    is deterministic IEEE double math on both engines."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = exact_topk.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
    ).distinct()
    a = approx_topk.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.lit(1).alias("_hit"),
    ).distinct()
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("_hit").cast("long").alias("n_hits"),
        )
        .where(
            F.expr(
                f"if(n_exact <= {k}, true, raise_error(concat("
                f"'ann_recall_at_k: query ', cast(query_id as string), "
                f"' has ', cast(n_exact as string), ' distinct exact "
                f"neighbors > k={k} — the exact side is not a top-{k} "
                f"frame')))"
            )
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
    )
