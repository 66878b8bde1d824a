"""Dedup operator semantics: LSH candidate recall vs the exact-Jaccard
ground truth, simhash behavior, embedding blocking."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from transporter_spark.operators.dedup import (
    band_index,
    dedup_exact,
    embedding_dup_pairs,
    incremental_lsh_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from transporter_spark.sources.files import read_table


def test_dedup_exact_removes_clones(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    kept = dedup_exact(cols=["text"])(docs.unionByName(clones))
    assert kept.count() == docs.count()
    # keep-smallest-id: every kept id is an original id
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_minhash_lsh_recall_against_exact(spark, sf_dir):
    """LSH(64 hashes, 16 bands) must recall nearly all true pairs at
    j>=0.5 (band collision prob ~1-(1-j^4)^16 = 0.93 at j=0.5, ~1 at
    j>=0.7) and its verified output must be a subset of the exact
    result (verification filters false positives)."""
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh <= exact  # verify step guarantees no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    fp = {r.id: r.simhash for r in simhash(df).collect()}
    assert fp[1] == fp[2]
    pairs = simhash_pairs(df, max_hamming=3, bands=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} >= {(1, 2)}
    for r in pairs:
        if (r.id_a, r.id_b) == (1, 2):
            assert r.hamming == 0


def test_embedding_blocking_is_subset_of_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(emb, threshold=0.3).collect()
    }
    blocked = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(emb, threshold=0.3, block_bits=2).collect()
    }
    assert blocked <= exact


def test_minhash_deterministic_across_runs(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    a = sorted(map(tuple, minhash_lsh_pairs(docs, threshold=0.1).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(docs, threshold=0.1).collect()))
    assert a == b


def test_connected_components_merges_chains(spark):
    """A~B, B~C (but no A~C edge) must land in ONE component."""
    from transporter_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id long")
    comp = {r.id: r.component for r in connected_components(edges, vertices).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[99] == 99  # isolated vertex is its own component


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter hops must raise, not silently split
    one cluster into several (which would keep extra near-copies)."""
    from transporter_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(9)], "id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, vertices, max_iter=2)
    # ...and enough rounds converges the same chain fine
    comp = {
        r.id: r.component
        for r in connected_components(chain, vertices, max_iter=10).collect()
    }
    assert set(comp.values()) == {0}


def test_connected_components_round_budget_exact_under_fusion(spark):
    """The 2-rounds-per-job fusion must not change the max_iter
    contract: a path whose farthest vertex needs R propagation rounds
    (plus the no-change certificate round) still raises at max_iter=R
    and converges at max_iter=R+1 — the fused loop may not over- or
    under-spend the round budget, only batch its convergence checks."""
    from transporter_spark.operators.dedup import connected_components

    # path 0-1-2-3: the min label reaches vertex 3 in round 3; round 4
    # is the zero-change certificate
    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(4)], "id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, vertices, max_iter=3)
    comp = {
        r.id: r.component
        for r in connected_components(chain, vertices, max_iter=4).collect()
    }
    assert set(comp.values()) == {0}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """Storage-backed lineage cuts (executor-loss durability at cluster
    scale) must produce identical components to the local fast path."""
    from transporter_spark.operators.dedup import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11]], "id long")
    fast = connected_components(edges, vertices).collect()
    durable = connected_components(
        edges, vertices, reliable_checkpoint=True
    ).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, durable))
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # checkpoints actually wrote


@pytest.fixture
def cc_loop(monkeypatch):
    """Force connected_components onto its distributed loop: every test
    graph is far below the driver-BFS edge bound, so by default only
    the driver path runs."""
    from transporter_spark.operators import dedup

    def no_driver(*a, **k):
        raise AssertionError("driver path taken")

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGE_ROWS", -1)
    monkeypatch.setattr(dedup, "_cc_driver_components", no_driver)


@pytest.mark.parametrize(
    "case",
    [
        test_connected_components_merges_chains,
        test_connected_components_raises_on_nonconvergence,
        test_connected_components_round_budget_exact_under_fusion,
        test_connected_components_reliable_checkpoint,
    ],
    ids=lambda f: f.__name__.removeprefix("test_connected_components_"),
)
def test_connected_components_loop_path(request, cc_loop, case):
    """Each connected-components test above, on the loop path (_cc_loop)
    instead of the driver BFS: same labels, same max_iter contract."""
    import inspect

    case(**{n: request.getfixturevalue(n) for n in inspect.signature(case).parameters})


def _cc_graph(spark):
    # chains, a star, a cycle, a bridge joining two of them, isolated ids
    edges = [(i, i + 1) for i in range(0, 7)] + [(20, j) for j in range(21, 26)]
    edges += [(30, 31), (31, 32), (32, 30), (6, 25), (41, 40), (50, 52)]
    ids = sorted({v for e in edges for v in e} | {60, 61})
    return (
        spark.createDataFrame(edges, "id_a long, id_b long"),
        spark.createDataFrame([(i,) for i in ids], "id long"),
    )


def test_connected_components_driver_equals_loop(spark, monkeypatch):
    from transporter_spark.operators import dedup

    edges, vertices = _cc_graph(spark)
    # a 10-vertex chain under a 2-round budget: both paths raise, with
    # one message
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    chain_ids = spark.createDataFrame([(i,) for i in range(10)], "id long")

    def not_converged():
        with pytest.raises(RuntimeError, match="did not converge") as err:
            dedup.connected_components(chain, chain_ids, max_iter=2)
        return str(err.value)

    driver = sorted(map(tuple, dedup.connected_components(edges, vertices).collect()))
    driver_err = not_converged()
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGE_ROWS", -1)
    loop = sorted(map(tuple, dedup.connected_components(edges, vertices).collect()))
    assert driver == loop
    assert not_converged() == driver_err
    comp = dict(driver)
    assert comp[25] == comp[20] == comp[0] == 0 and comp[32] == 30
    assert comp[41] == 40 and comp[52] == 50 and comp[61] == 61


@pytest.mark.parametrize("path", ["driver", "loop"])
@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_rejects_max_iter_below_one(spark, request, path, max_iter):
    """Both paths reject a budget below one round, even on a graph with
    no edges (which the loop would otherwise accept and the driver
    path reject)."""
    from transporter_spark.operators.dedup import connected_components

    if path == "loop":
        request.getfixturevalue("cc_loop")
    vertices = spark.createDataFrame([(1,), (2,)], "id long")
    for edges in ([], [(1, 2)]):
        edges_df = spark.createDataFrame(edges, "id_a long, id_b long")
        with pytest.raises(ValueError, match="max_iter must be >= 1"):
            connected_components(edges_df, vertices, max_iter=max_iter)


def test_minhash_lsh_reliable_checkpoint(spark, sf_dir, tmp_path):
    """The LSH path's lineage cuts (signatures, banded rows, candidate
    pairs) must honor reliable_checkpoint too — a localCheckpoint there
    dies with an executor and restarts the whole dedup job at cluster
    scale. Identical pairs either way, and the checkpoint dir is
    actually used."""
    from transporter_spark.operators.dedup import minhash_lsh_pairs

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    fast = minhash_lsh_pairs(docs).collect()
    durable = minhash_lsh_pairs(docs, reliable_checkpoint=True).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, durable))
    import os

    assert os.listdir(str(tmp_path / "ckpt"))


def test_incremental_exact_dedup_matches_full(spark, sf_dir):
    """Exact dedup of an ingest batch against a persisted fingerprint
    index must keep exactly the rows full dedup_exact over
    corpus ∪ batch would keep from the batch (batch ids > corpus ids,
    so smallest-id-wins favors the standing corpus — first-wins)."""
    from transporter_spark.operators.dedup import (
        fingerprint_index,
        incremental_dedup_exact,
    )

    corpus = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # batch: clones of corpus text, an in-batch duplicate pair, novel rows
    clones = corpus.limit(10).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    novel = spark.createDataFrame(
        [(800000, "novel alpha"), (800001, "novel beta"), (800002, "novel alpha")],
        "doc_id long, text string",
    )
    batch = clones.unionByName(novel)

    idx = fingerprint_index(corpus, ["text"])
    kept = incremental_dedup_exact(batch, idx, ["text"])
    kept_ids = {r.doc_id for r in kept.collect()}

    full = dedup_exact(cols=["text"])(corpus.unionByName(batch))
    expect = {
        r.doc_id for r in full.collect() if r.doc_id >= 700000
    }
    assert kept_ids == expect
    assert kept_ids == {800000, 800001}  # clones gone, in-batch dup collapsed


def test_max_bucket_caps_boilerplate_blowup(spark, sf_dir):
    """A boilerplate bucket of B identical docs contributes B²/2
    candidates; max_bucket skips oversized (band, bsig) buckets so
    pure-boilerplate pairs vanish while genuine near-dups (colliding
    in small buckets) survive — the standard post-exact-dedup LSH skew
    guard."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = spark.createDataFrame(
        [(900000 + i, "standard legal boilerplate footer text repeated verbatim "
          "across every page of the crawl " * 3) for i in range(30)],
        "doc_id long, text string",
    )
    both = docs.unionByName(boiler)

    uncapped = minhash_lsh_pairs(both, threshold=0.2)
    capped = minhash_lsh_pairs(both, threshold=0.2, max_bucket=10)
    unc = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cap = {(r.id_a, r.id_b) for r in capped.collect()}
    boiler_ids = set(range(900000, 900030))
    # uncapped: the 30 identical docs alone emit 435 pairs
    assert len({p for p in unc if p[0] in boiler_ids}) == 435
    # capped: every boilerplate band bucket holds 30 > 10 docs -> gone
    assert not {p for p in cap if p[0] in boiler_ids or p[1] in boiler_ids}
    # genuine corpus near-dups live in small buckets -> identical sets
    assert {p for p in cap if p[0] not in boiler_ids} == {
        p for p in unc if p[0] not in boiler_ids and p[1] not in boiler_ids
    }


def test_incremental_lsh_matches_full_recompute(spark, sf_dir):
    """The incremental path (batch bands ⋈ persisted index + batch
    self-join) must produce EXACTLY the full-recompute pairs restricted
    to pairs touching a new doc — same hash family, same banding, same
    verification, so the sets are equal, not approximately equal."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    full = minhash_lsh_pairs(docs, threshold=0.2)
    expected = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    inc = incremental_lsh_pairs(new, corpus, threshold=0.2)
    got = {(r.id_a, r.id_b, round(r.jaccard, 12)) for r in inc.collect()}
    assert got == expected
    assert expected, "test corpus must contain near-dups touching the batch"


def test_incremental_lsh_from_persisted_index(spark, sf_dir, tmp_path):
    """Production shape: the corpus index is a parquet table written
    once; a later session reads it back and dedups an ingest batch
    against it without touching corpus text except for verification.
    Results must equal the derive-index-inline path."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    idx_path = str(tmp_path / "band_index")
    band_index(corpus).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    inline = incremental_lsh_pairs(new, corpus, threshold=0.2)
    persisted = incremental_lsh_pairs(new, corpus, index=idx, threshold=0.2)
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, persisted.collect())
    )
    # candidate generation is equi-join only — no cross product anywhere
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_jaccard_pairs_cache_released(spark, sf_dir):
    """The shingle frame persisted inside jaccard_pairs must be
    releasable by the caller (long-lived sessions would otherwise
    accumulate cached frames until executor storage evicts)."""
    from transporter_spark.operators.dedup import jaccard_pairs, release_cached

    docs = read_table(spark, sf_dir, "documents").limit(50)
    pairs = jaccard_pairs(docs, threshold=0.2)
    pairs.count()  # consume
    cached = getattr(pairs, "_ts_cached", [])
    assert cached and all(c.storageLevel.useMemory for c in cached)
    release_cached(pairs)
    assert all(not c.storageLevel.useMemory for c in cached)


def test_dedup_clusters_on_documents(spark, sf_dir):
    from transporter_spark.operators.dedup import dedup_clusters, jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, threshold=0.2, use_lsh=False)
    rows = clusters.collect()
    assert len(rows) == docs.count()  # every doc labeled
    canon = [r for r in rows if r.is_canonical]
    # canonical docs = number of components; every component's canonical
    # is its min id
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.doc_id)
    for comp_id, members in by_comp.items():
        assert min(members) == comp_id
    assert len(canon) == len(by_comp)
    # and clustering is at least as coarse as the pair relation
    for p in jaccard_pairs(docs, threshold=0.2).collect():
        ca = [r.component for r in rows if r.doc_id == p.id_a][0]
        cb = [r.component for r in rows if r.doc_id == p.id_b][0]
        assert ca == cb


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF-bucketed ANN with nprobe=4 of 8 cells must recall most of
    the exact top-5 neighbors (deterministic centroids = first 8
    corpus vectors; recall < 1.0 is the scale trade, but on random
    data nprobe/2 of the cells still captures most near neighbors)."""
    import pyspark.sql.functions as F
    from transporter_spark.operators.similarity import ann_brute_force, ann_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_brute_force(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(emb, queries, centroids, k=5, nprobe=4).collect()
    }
    assert len(approx) == len(exact)  # still returns k per query
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"


def test_ann_ivf_persisted_index_with_partition_pruning(spark, sf_dir, tmp_path):
    """The ANN twin of the dedup band_index pattern: the IVF assignment
    table persists partitioned by cell and is probed without
    recomputing assignments. Results must equal the inline path, and
    the probe join must dynamically prune index partitions — at scale
    only nprobe/n_cells of the corpus is even read."""
    from transporter_spark.operators.similarity import (
        ann_ivf,
        ann_ivf_search,
        ivf_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = emb.limit(8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = emb.filter(F.col("vec_id") % 37 == 0)

    idx_path = str(tmp_path / "ivf_index")
    ivf_index(emb, centroids).write.partitionBy("cell").parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    inline = ann_ivf(emb, queries, centroids, k=5, nprobe=2)
    persisted = ann_ivf_search(idx, queries, centroids, k=5, nprobe=2)
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, persisted.collect())
    )
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_decontaminate_flags_only_overlapping_docs(spark):
    from transporter_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated words appear in this one sentence"),
            (3, "prefix quick brown fox jumps over suffix tokens here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(99, "a quick brown fox jumps over everything")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in decontaminate(corpus, bench, n=5).collect()}
    assert rows[1].contaminated and rows[1].n_shared >= 1
    assert not rows[2].contaminated and rows[2].n_shared == 0
    assert rows[3].contaminated  # shares "quick brown fox jumps over"


def test_decontaminate_bloom_prefilter_identical_even_fp_heavy(spark, sf_dir):
    """The Bloom prefilter is semantics-free: decontaminate(
    bloom_prefilter=True) equals the exact path row-for-row EVEN with
    a deliberately undersized sketch (m=256 bits for hundreds of
    members → false positives everywhere) — no false negatives means
    zero recall loss, and the exact verify kills every false positive
    before it can over-flag."""
    from transporter_spark.operators.dedup import decontaminate

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    exact = {
        (r.doc_id, r.n_shared, r.contaminated)
        for r in decontaminate(docs, bench, n=5).collect()
    }
    stressed = {
        (r.doc_id, r.n_shared, r.contaminated)
        for r in decontaminate(
            docs, bench, n=5, bloom_prefilter=True, bloom_k=2,
            bloom_m_bits=256,
        ).collect()
    }
    assert exact == stressed


def test_incremental_exact_bloom_prefilter_identical_even_fp_heavy(
    spark, sf_dir
):
    """Probe-then-verify exact dedup: incremental_dedup_exact with a
    Bloom word table over the index fingerprints keeps EXACTLY the
    plain anti-join's rows — under an undersized FP-heavy sketch too
    (false positives fall to the exact verify; absent-from-sketch rows
    are definitely new). In-batch duplicate collapse is unaffected."""
    from transporter_spark.operators.dedup import (
        fingerprint_index,
        incremental_dedup_exact,
    )
    from transporter_spark.operators.sketches import bloom_words

    corpus = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = corpus.limit(10).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    novel = spark.createDataFrame(
        [(800000, "novel alpha"), (800001, "novel beta"),
         (800002, "novel alpha")],
        "doc_id long, text string",
    )
    batch = clones.unionByName(novel)
    idx = fingerprint_index(corpus, ["text"])
    plain = {
        r.doc_id for r in incremental_dedup_exact(batch, idx, ["text"]).collect()
    }
    for k, m in ((None, None), (2, 256)):  # default + FP-heavy geometry
        words = bloom_words(
            idx, "fp", k=k or 4, m_bits=m or (1 << 15)
        )
        got = {
            r.doc_id
            for r in incremental_dedup_exact(
                batch, idx, ["text"], bloom_words=words, bloom_k=k,
                bloom_m_bits=m,
            ).collect()
        }
        assert got == plain == {800000, 800001}


def test_incremental_simhash_matches_full_and_reads_no_text(spark, sf_dir, tmp_path):
    """SimHash incremental form: (a) EXACT equality with the full
    recompute restricted to batch-touching pairs — pigeonhole recall is
    guaranteed (bands > max_hamming), not probabilistic; (b) with the
    index persisted to parquet, the probe plan reads TEXT only from the
    batch side — verification is pure fingerprint arithmetic."""
    from transporter_spark.operators.dedup import (
        incremental_simhash_pairs,
        simhash_index,
        simhash_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    full = simhash_pairs(docs, bits=32, max_hamming=6, bands=8)
    expected = {
        (r.id_a, r.id_b, r.hamming)
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert expected, "corpus must contain hamming-near pairs touching the batch"

    idx_path = str(tmp_path / "simhash_idx")
    simhash_index(corpus, bits=32, bands=8).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    inc = incremental_simhash_pairs(new, index, bits=32, max_hamming=6, bands=8)
    got = {(r.id_a, r.id_b, r.hamming) for r in inc.collect()}
    assert got == expected

    sc = inc.sparkSession.sparkContext
    plan = sc._jvm.PythonSQLUtils.explainString(
        inc._jdf.queryExecution(), "formatted"
    )
    # the probe plan never reads a text column: the index parquet scan
    # carries (id, simhash, band, chunk) only, and the batch side joins
    # through its materialized fingerprint frame (at most its own text
    # scan would appear if materialization changed — never the corpus)
    text_scans = [
        l for l in plan.splitlines() if "ReadSchema" in l and "text" in l
    ]
    assert len(text_scans) <= 1, plan
    assert "simhash_idx" in plan  # the persisted index is what's probed
    assert "CartesianProduct" not in plan


def test_semantic_decontaminate_best_match_and_ties(spark):
    from transporter_spark.operators.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0]), (30, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),    # cosine 1.0 with bench 10 AND 30 -> tie, min id
            (2, [1.0, 1.0]),    # cosine ~0.707 with all three
            (3, [-1.0, 0.0]),   # negative with 10/30, 0 with 20 -> clean
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["id"]: r.asDict()
        for r in semantic_decontaminate(train, bench, threshold=0.5).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["best_bench_id"] == 10      # deterministic tiebreak
    assert out[1]["max_cosine"] == 1.0
    assert abs(out[2]["max_cosine"] - 2 ** -0.5) < 1e-12


def test_semantic_decontaminate_zero_norm_vector_is_skipped(spark):
    """An all-zero embedding (empty doc / padding row) has undefined
    cosine: under ANSI mode the unguarded division would kill the job;
    the guard yields NULL, which falls out of the threshold filter."""
    from transporter_spark.operators.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 0.0])],   # zero-norm BENCH vec too
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_decontaminate(train, bench, threshold=0.5).collect()
    assert [(r["id"], r["best_bench_id"]) for r in out] == [(1, 10)]


def test_symspell_pairs_edit_kinds_and_recall(spark):
    """Every distance-1 edit kind collides in the variant blocking:
    substitution, insertion, deletion, exact duplicate — and a
    distance-2 pair survives blocking but dies in verification."""
    from transporter_spark.operators.dedup import symspell_pairs

    rows = [
        (1, "kitten"),
        (2, "mitten"),     # substitution (dist 1)
        (3, "kittens"),    # insertion (dist 1)
        (4, "kiten"),      # deletion (dist 1)
        (5, "kitten"),     # exact duplicate (dist 0)
        (6, "mittens"),    # dist 2 from kitten: blocked via mitten/kittens? no shared variant with 1
        (7, "zzz"),        # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, name string")
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in symspell_pairs(df, "name", "doc_id").collect()
    }
    assert pairs[(1, 2)] == 1 and pairs[(1, 3)] == 1 and pairs[(1, 4)] == 1
    assert pairs[(1, 5)] == 0
    assert (2, 6) in pairs and (3, 6) in pairs   # mitten(s)/kitten(s)+1
    assert (1, 6) not in pairs                   # dist 2: verified away
    assert all(k != (1, 7) and k != (7, 1) for k in pairs)
    # d=2 (supported since round 9) recovers the pair d=1 verified away
    d2 = {
        (r.id_a, r.id_b): r.dist
        for r in symspell_pairs(df, "name", "doc_id", max_distance=2).collect()
    }
    assert d2[(1, 6)] == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        symspell_pairs(df, "name", "doc_id", max_distance=3)


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    ~1.0, Jaccard well below it; direction names the contained side."""
    from transporter_spark.operators.dedup import containment_pairs, jaccard_pairs, release_cached

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    cont = containment_pairs(df, threshold=0.9)
    rows = cont.collect()
    release_cached(cont)
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"], r["direction"]) == (1, 2, "a_in_b")
    assert r["containment"] == 1.0
    jac = jaccard_pairs(df, threshold=0.9)
    assert jac.count() == 0  # symmetric score dilutes the quote away
    release_cached(jac)


import pytest


@pytest.mark.parametrize(
    "sfd", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_incremental_fast_equals_portable(spark, sfd):
    """The r5 ADVICE standing sweep: the graded incremental_dedup path
    runs the fast xxhash64 family against an oracle that replays the
    md5-portable pipeline — equality of the exact-Jaccard-verified
    survivor sets is an LSH banding RECALL property (documented at the
    cache-key logic in queries.py), not a construction guarantee. Pin
    it at two scales so a future threshold/bands change that breaks
    the assumption fails HERE before the driver's oracle row does."""
    from transporter_spark.operators.dedup import (
        incremental_lsh_pairs,
        release_cached,
    )
    from transporter_spark.sources.files import read_table

    docs = read_table(spark, sfd, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    out = {}
    for portable in (False, True):
        pairs = incremental_lsh_pairs(
            new, corpus, threshold=0.1, portable=portable
        )
        out[portable] = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9)) for r in pairs.collect()
        )
        release_cached(pairs)
    assert out[False] == out[True] and out[False]


def test_dedup_canonical_best_keeps_longest_not_min_id(spark):
    """The production canonical policy: in a near-dup cluster the
    argmax-by-quality member survives even when it has the LARGEST id
    (min-id would keep the truncated copy); ties fall back to smallest
    id; singletons keep their only member; every doc keeps its
    component label."""
    from transporter_spark.operators.dedup import dedup_canonical_best

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, base, len(base)),                       # truncated-ish copy
        (2, base + " extra tail words", len(base) + 17),  # longest, max id
        (7, "a lone unique document here", 27),     # singleton
        (3, base, len(base)),                       # tie with doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {
        r.doc_id: (r.component, r.is_canonical)
        for r in dedup_canonical_best(
            df, "n_chars", threshold=0.1, use_lsh=True
        ).collect()
    }
    assert len(out) == 4
    comp = out[1][0]
    assert out[2] == (comp, True)        # longest wins despite max id
    assert out[1] == (comp, False) and out[3] == (comp, False)
    assert out[7] == (out[7][0], True)   # singleton canonical
    # tie-break check: drop doc 2 -> docs 1 and 3 tie on length, min id wins
    out2 = {
        r.doc_id: r.is_canonical
        for r in dedup_canonical_best(
            df.where(F.col("doc_id") != 2), "n_chars",
            threshold=0.1, use_lsh=True,
        ).collect()
    }
    assert out2[1] is True and out2[3] is False


def test_semdedup_keeps_lowest_centroid_sim_within_cells_only(spark):
    """SemDeDup semantics on a hand-built space: two near-identical
    vectors in one cell collapse to the member with the LOWER cosine
    to the centroid (the paper's boundary-preserving keep); a
    singleton keeps itself; near-identical vectors assigned to
    DIFFERENT cells are NOT paired (the documented O(n^2/k) recall
    trade of clustering before comparing)."""
    from transporter_spark.operators.similarity import semdedup_prune

    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    vecs = spark.createDataFrame(
        [
            # cell 0: 10/11 nearly parallel (cos ~ 0.9999), 10 sits
            # FURTHER from the centroid -> 10 is kept
            (10, [0.9, 0.10]),
            (11, [0.9, 0.08]),
            # cell 0 singleton, far from the pair (cos < threshold)
            (12, [1.0, -0.9]),
            # cell 1: nearly parallel to 10 but lands in the other
            # cell -> never paired with it
            (13, [0.48, 0.52]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semdedup_prune(
        vecs, cen, threshold=0.99, round_dp=8).collect()}
    assert len(out) == 4
    assert out[10].cell == 0 and out[11].cell == 0 and out[12].cell == 0
    assert out[13].cell == 1
    # 10 and 11 form one component; 10 has the lower centroid_sim
    assert out[10].component == out[11].component == 10
    assert out[10].centroid_sim < out[11].centroid_sim
    assert out[10].is_canonical and not out[11].is_canonical
    # singletons keep themselves
    assert out[12].is_canonical and out[12].component == 12
    assert out[13].is_canonical and out[13].component == 13


def test_pq_encode_and_adc_identities(spark):
    """PQ identities on a hand-built space: a codebook seed vector
    encodes to its own code in every subquantizer; an exact clone of
    a query encodes identically and ADC-ranks it first at distance 0;
    codes are always in [0, ksub) with exactly m per vector; the whole
    path is partitioning-invariant (integer-micro distances)."""
    from transporter_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_encode_rows,
        pq_search,
    )

    import random

    rng = random.Random(7)
    dim, m, ksub = 8, 4, 4
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(ksub)]
    extra = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(10)]
    rows = [(i, v) for i, v in enumerate(base + extra)]
    rows.append((1000, list(rows[3][1])))  # exact clone of seed 3
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cbs = pq_codebooks(vecs.filter(F.col("vec_id") < ksub), m=m)
    codes = {r.vec_id: r.codes for r in pq_encode(vecs, cbs, m=m).collect()}
    assert all(len(c) == m for c in codes.values())
    assert all(0 <= x < ksub for c in codes.values() for x in c)
    for c in range(ksub):  # a seed's slices are distance-0 to entry c
        assert codes[c] == [c] * m
    assert codes[1000] == codes[3]

    got = pq_search(
        pq_encode_rows(vecs, cbs, m=m),
        vecs.filter(F.col("vec_id") == 3),
        cbs, k=3, m=m,
    ).collect()
    top = sorted(got, key=lambda r: r.rk)
    assert top[0].vec_id == 1000 and top[0].adc_d2 == 0  # the clone

    again = {
        r.vec_id: r.codes
        for r in pq_encode(vecs.repartition(7), cbs, m=m).collect()
    }
    assert again == codes


def test_pq_raises_on_non_divisible_vector_length(spark):
    """len(vec) % m != 0 must raise loudly (ADVICE r7): Spark slice()
    silently truncates, so without the `_pq_slices` guard a 7-dim
    vector at m=4 would be encoded with its tail silently dropped."""
    import pytest

    from transporter_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    good = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    cbs = pq_codebooks(good, m=4)
    bad = spark.createDataFrame(
        [(99, [1.0] * 7)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="not divisible by m=4"):
        pq_encode(bad, cbs, m=4).collect()
    with pytest.raises(Exception, match="not divisible by m=4"):
        pq_codebooks(bad, m=4).collect()


def test_ann_recall_at_k_identity_missing_and_monotone(spark, sf_dir):
    """The recall audit operator: ground truth vs itself is 1.0 on
    every query; a query the approx side missed entirely stays
    VISIBLE at 0.0 (left join, not inner). Monotonicity is pinned
    against the FULL-ADC ground truth (pq_search over every code):
    per-query candidate sets are nested as nprobe grows and the
    scorer is the same integer ADC metric, so any full-ADC top-k
    member that enters the candidate set stays in the probed top-k —
    recall(2) <= recall(4) <= recall(8) == 1.0 (all 8 cells = the
    full scan). Against the COSINE brute-force truth monotonicity
    provably fails (the L2/cosine objective mismatch lets a far-cell
    candidate displace a cosine-neighbor — observed 0.28 @ nprobe=2
    vs 0.24 @ nprobe=8 at sf0.01), which is exactly the kind of fact
    the audit operator exists to surface."""
    import pyspark.sql.functions as F
    from transporter_spark.operators.similarity import (
        ann_brute_force,
        ann_recall_at_k,
        ivf_index,
        ivfpq_search,
        pq_codebooks,
        pq_encode_rows,
        pq_search,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = ann_brute_force(emb, queries, k=5)

    self_recall = ann_recall_at_k(exact, exact, k=5).collect()
    assert len(self_recall) == 5
    assert all(r.recall == 1.0 and r.n_hits == r.n_exact for r in self_recall)

    # drop one query from the approx side: it must appear at 0.0
    partial = exact.filter(F.col("query_id") != 0)
    got = {r.query_id: r for r in ann_recall_at_k(exact, partial, k=5).collect()}
    assert got[0].n_hits == 0 and got[0].recall == 0.0
    assert all(got[q].recall == 1.0 for q in got if q != 0)

    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    cbs = pq_codebooks(emb.filter(F.col("vec_id") < 16), m=4)
    code_rows = pq_encode_rows(emb, cbs, m=4)
    indexed = (
        ivf_index(emb, centroids, round_dp=8)
        .select("vec_id", "cell")
        .join(code_rows, "vec_id")
    )
    adc_truth = pq_search(code_rows, queries, cbs, k=5, m=4).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )

    def mean_recall(nprobe):
        approx = ivfpq_search(
            indexed, queries, centroids, cbs, k=5, nprobe=nprobe, m=4,
            round_dp=8,
        ).select("query_id", F.col("vec_id").alias("neighbor_id"))
        rows = ann_recall_at_k(adc_truth, approx, k=5).collect()
        return sum(r.recall for r in rows) / len(rows)

    r2, r4, r8 = mean_recall(2), mean_recall(4), mean_recall(8)
    assert r2 <= r4 <= r8, (r2, r4, r8)
    assert r8 == 1.0, r8          # all cells probed == the full ADC scan

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        ann_recall_at_k(exact, exact, k=0)

    # recall is a SET measure: duplicated rows (a union of epochs, a
    # re-delivered sink read) must score identically to the deduped
    # frame — no join fan-out corrupting the counts
    doubled = ann_recall_at_k(exact, partial.unionByName(partial), k=5)
    got2 = {r.query_id: r for r in doubled.collect()}
    assert {q: (r.n_exact, r.n_hits, r.recall) for q, r in got2.items()} == {
        q: (r.n_exact, r.n_hits, r.recall) for q, r in got.items()
    }

    # an exact side with > k distinct rows per query is NOT a top-k
    # frame: fail loudly, not a recall over the wrong denominator
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    overlong = ann_brute_force(emb, queries, k=9)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        ann_recall_at_k(overlong, exact, k=5).collect()


def test_ann_rerank_refine_semantics(spark, sf_dir):
    """The refine stage: output neighbors are a SUBSET of the
    shortlist; when the shortlist already contains the brute-force
    top-k, re-ranking RECOVERS the brute-force answer exactly
    regardless of the shortlist's own (approximate) ordering; and a
    duplicated shortlist (union of epochs) re-ranks identically."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from transporter_spark.operators.similarity import (
        ann_brute_force,
        ann_rerank,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = ann_brute_force(emb, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("vec_id")
    )
    # shortlist = truth ids + 20 decoys per query, deliberately
    # mis-ordered (the refine must not trust shortlist order)
    decoys = (
        queries.select(F.col("vec_id").alias("query_id"))
        .crossJoin(
            emb.select("vec_id").filter(
                (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
            )
        )
    )
    short = truth.unionByName(decoys).filter(
        F.col("query_id") != F.col("vec_id")
    )
    got = ann_rerank(short, emb, queries, k=5, round_dp=8)
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_brute_force(emb, queries, k=1_000_000)
        .withColumn("cosine", F.round("cosine", 8))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cosine"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("rank") <= 5)
        .collect()
    }
    got_set = {(r.query_id, r.neighbor_id, r.rank) for r in got.collect()}
    assert got_set == want
    # subset-of-shortlist invariant
    short_ids = {
        (r.query_id, r.vec_id) for r in short.collect()
    }
    assert all((q, n) in short_ids for q, n, _ in got_set)
    # idempotent under shortlist re-delivery
    doubled = ann_rerank(
        short.unionByName(short), emb, queries, k=5, round_dp=8
    )
    assert {
        (r.query_id, r.neighbor_id, r.rank) for r in doubled.collect()
    } == got_set


def test_pair_recall_counts_and_normalization(spark):
    """pair_recall is a SET measure: reversed ids, duplicate rows, and
    self-pairs must not change any count; recall = hits / truth."""
    from transporter_spark.operators.dedup import pair_recall

    truth = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    found = spark.createDataFrame(
        # reversed pair, duplicate row, self-pair, one non-truth pair
        [(2, 1), (2, 1), (3, 4), (7, 7), (5, 6)], ["id_a", "id_b"]
    )
    row = pair_recall(truth, found).collect()[0]
    assert (row.n_truth, row.n_found, row.n_hits) == (3, 3, 2)
    assert row.recall == 2.0 / 3.0


def test_pair_recall_empty_truth_is_null_not_one(spark):
    """0/0 recall is undefined — NULL, never 1.0 or 0.0."""
    from transporter_spark.operators.dedup import pair_recall

    truth = spark.createDataFrame([], "id_a long, id_b long")
    found = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    row = pair_recall(truth, found).collect()[0]
    assert (row.n_truth, row.n_found, row.n_hits) == (0, 1, 0)
    assert row.recall is None


def test_incremental_banded_hamming_requires_pigeonhole(spark):
    """The shared incremental core enforces bands > max_hamming (the
    completeness condition) before any join is planned."""
    import pytest

    from transporter_spark.operators.dedup import (
        incremental_banded_hamming_pairs,
    )

    banded = spark.createDataFrame(
        [(1, 5, 0, 5)], ["id", "simhash", "band", "chunk"]
    )
    with pytest.raises(ValueError, match="bands > max_hamming"):
        incremental_banded_hamming_pairs(banded, banded, "simhash", 4, 4)


def test_band_index_ragged_banding_raises(spark):
    """Engine-side twin of the oracle builder's divide guard (r10
    review): a non-dividing (num_hashes, bands) split would silently
    ignore the trailing hashes in every band — raise before the eager
    signature job instead."""
    import pytest

    from transporter_spark.operators.dedup import band_index

    df = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide"):
        band_index(df, num_hashes=64, bands=24)


def test_banded_hamming_max_bucket_caps_hot_chunks(spark):
    """The shared hot-bucket guard on the banded-Hamming core (VERDICT
    r9 item 6): with max_bucket set, a degenerate all-same-fingerprint
    group larger than the cap emits NO candidate pairs (every shared
    chunk is oversized — the exact-dedup-first caveat), while small
    groups are untouched; default None is the identity."""
    from transporter_spark.operators.dedup import (
        band_fingerprint,
        banded_hamming_pairs,
    )

    # 10 identical fingerprints (the hot group) + 2 identical (small)
    rows = [(i, 0b1010) for i in range(10)] + [(100, 77), (101, 77)]
    fp = spark.createDataFrame(rows, ["id", "simhash"])
    banded = band_fingerprint(fp, "simhash", 32, 4)
    uncapped = banded_hamming_pairs(banded, "simhash", 3, 4)
    assert uncapped.count() == 45 + 1  # C(10,2) + the small pair
    capped = banded_hamming_pairs(banded, "simhash", 3, 4, max_bucket=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}  # hot group gone, small pair kept


def test_simhash_pairs_validates_geometry_before_any_job(spark):
    """ADVICE r9: simhash_pairs / simhash_index must fail on invalid
    banding geometry BEFORE the eager corpus-fingerprint materialize —
    a lazy (never-collected) frame whose construction raises proves
    no job ran."""
    import pytest

    from transporter_spark.operators.dedup import simhash_index, simhash_pairs

    df = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="bands > max_hamming"):
        simhash_pairs(df, bits=32, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="not divisible"):
        simhash_pairs(df, bits=32, bands=5, max_hamming=3)
    with pytest.raises(ValueError, match="not divisible"):
        simhash_index(df, bits=32, bands=5)


def test_decontaminate_bare_bloom_table_requires_geometry(spark):
    """ADVICE r9: a bare bloom_words DataFrame without explicit
    k+m_bits raises instead of silently probing at default geometry
    (Bloom false negatives on a safety gate)."""
    import pytest

    from transporter_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    bench = spark.createDataFrame([("a b c d e",)], ["text"])
    bare = spark.createDataFrame([(0, 0, 1)], ["k", "word_idx", "word"])
    with pytest.raises(ValueError, match="build geometry"):
        decontaminate(docs, bench, bloom_words=bare)
    with pytest.raises(ValueError, match="build geometry"):
        decontaminate(docs, bench, bloom_words=bare, bloom_k=4)


def test_symspell_d2_equals_brute_force(spark):
    """d=2 symmetric-deletion blocking has FULL recall: equals the
    all-pairs Levenshtein filter on a set with substitutions, inserts,
    deletes, doubles, empty and 1-char strings."""
    import itertools

    from transporter_spark.operators.dedup import symspell_pairs

    words = [
        "hello", "hallo", "hxllo", "hell", "he", "h", "", "spark",
        "spork", "spoork", "sprk", "spark!", "sparkle", "park", "ark",
        "aark",
    ]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, ["doc_id", "s"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in symspell_pairs(df, "s", "doc_id", max_distance=2).collect()
    }

    def lev(a, b):
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(len(a) + 1):
            dp[i][0] = i
        for j in range(len(b) + 1):
            dp[0][j] = j
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                dp[i][j] = min(
                    dp[i - 1][j] + 1,
                    dp[i][j - 1] + 1,
                    dp[i - 1][j - 1] + (a[i - 1] != b[j - 1]),
                )
        return dp[len(a)][len(b)]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 2
    }
    assert got == want


def test_symspell_rejects_unsupported_distance(spark):
    import pytest

    from transporter_spark.operators.dedup import symspell_pairs

    df = spark.createDataFrame([(1, "a")], ["doc_id", "s"])
    with pytest.raises(ValueError, match="max_distance"):
        symspell_pairs(df, "s", "doc_id", max_distance=3)


def test_l2_normalize_zero_norm_raises_not_nan(spark):
    """ADVICE r10: a zero embedding must fail loudly, never emit NaN
    components that would silently corrupt downstream cosine/PQ
    rankings."""
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.utils import AnalysisException

    from transporter_spark.operators.similarity import l2_normalize_rows

    ok = spark.createDataFrame(
        [(1, [3.0, 4.0])], ["vec_id", "embedding"]
    )
    got = l2_normalize_rows(ok).collect()[0].embedding
    assert got == [0.6, 0.8]

    bad = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="zero-norm"):
        l2_normalize_rows(bad).collect()


def test_incremental_video_pairs_mismatched_bands_raises(spark):
    """ADVICE r10 tripwire: an index whose per-video banded row count
    is not a multiple of `bands` (i.e. built at a different geometry
    than the probe assumes) must raise, not silently skew the vote
    denominators."""
    from transporter_spark.operators.dedup import band_fingerprint
    from transporter_spark.operators.multimodal import (
        incremental_video_pairs,
        video_frame_phash,
    )

    vids = spark.createDataFrame(
        [(1, bytearray(bytes(range(64)))), (2, bytearray(bytes(range(64))))],
        "doc_id long, content binary",
    )
    fp = video_frame_phash(vids, "content", "doc_id", n_frames=4, bits=32)
    # index built at bands=2 but probed at bands=4: 4 frames x 2 rows
    # per frame = 8 rows per video -> 8 % 4 == 0 would NOT trip for
    # this shape, so build at bands=3 (12 rows, 12 % 4 == 0 again...)
    # -> use an index with a MISSING row instead: drop one banded row,
    # the unambiguous not-a-band_fingerprint-output corruption.
    idx = band_fingerprint(
        fp.where(F.col("vid") == 2).select(F.col("fid").alias("id"), "phash"),
        "phash",
        32,
        4,
    )
    corrupt = idx.limit(idx.count() - 1)
    new = vids.where(F.col("doc_id") == 1)
    with pytest.raises(Exception, match="not a multiple of bands"):
        incremental_video_pairs(
            new, corrupt, "content", "doc_id", n_frames=4, bits=32,
            max_hamming=1, bands=4,
        ).collect()


def test_l2_normalize_nan_norm_raises_too(spark):
    """r11 review: Spark orders NaN above every double, so a bare
    `> 0D` waves a NaN norm through — the guard must catch it."""
    from transporter_spark.operators.similarity import l2_normalize_rows

    bad = spark.createDataFrame(
        [(1, [float("nan"), 0.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="zero-norm or NaN-norm"):
        l2_normalize_rows(bad).collect()
