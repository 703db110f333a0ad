"""Property tests for the extension operators (SURVEY §5.4): dedup
idempotence, LSH recall vs the exact-Jaccard oracle, SimHash locality,
kNN sanity, the distributed Gmail source, multimodal plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmail_etl_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    near_dedup,
    simhash_signatures,
)
from tests.conftest import SF_DIR


def _docs(spark, n=200):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(F.col("doc_id") < n)
    )


# ---------------------------------------------------------------------------
# dedup properties
# ---------------------------------------------------------------------------


def test_exact_dedup_idempotent(spark):
    d = _docs(spark)
    once = exact_dedup(d, "doc_id", "text")
    # dedup of the canonical set keeps every row (dup_count all 1)
    canon = d.join(once.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi")
    twice = exact_dedup(canon, "doc_id", "text")
    assert twice.count() == once.count()
    assert twice.filter(F.col("dup_count") > 1).count() == 0


def test_exact_dedup_finds_planted_duplicates(spark):
    d = _docs(spark, 50)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000)  # same text, new ids
    res = exact_dedup(d.unionByName(dup), "doc_id", "text")
    assert res.count() == 50
    assert res.filter(F.col("dup_count") == 2).count() == 50
    # canonical id is the min → always the original
    assert res.filter(F.col("canonical_id") >= 1000).count() == 0


def test_minhash_lsh_recall_vs_exact(spark):
    """Near-identical planted pairs must be recovered by LSH with high
    recall; every reported pair must also be exact-verified (no FPs)."""
    d = _docs(spark, 100).select("doc_id", "text")
    # plant near-duplicates: drop the first token
    near = d.select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 2, 100000)).alias("text"),
    )
    corpus = d.unionByName(near)
    exact = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(corpus, "doc_id", "text", 0.7)
        .filter((F.col("b_id") - F.col("a_id")) == 5000)
        .collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.0).collect()
    }
    planted_exact = {p for p in exact}
    assert planted_exact, "fixture should produce high-jaccard planted pairs"
    recall = len(planted_exact & approx) / len(planted_exact)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_minhash_pairs_are_verified(spark):
    """Output jaccard values equal the exact jaccard (verify step)."""
    d = _docs(spark, 60).select("doc_id", "text")
    near = d.select((F.col("doc_id") + 5000).alias("doc_id"), F.col("text"))
    got = minhash_lsh_pairs(d.unionByName(near), "doc_id", "text", threshold=0.99)
    planted = got.filter((F.col("b_id") - F.col("a_id")) == 5000)
    assert planted.count() == 60  # identical docs always collide in every band
    assert planted.filter(F.col("jaccard") < 1.0).count() == 0


def test_pair_expansion_degenerate_hot_bucket(spark):
    """All-identical corpus: every band collapses to ONE bucket holding
    every id (the worst-case hot key for the pair expansion) — the
    grouped i<j expansion must still emit the exact full clique, once
    per pair, all verified at jaccard 1.0."""
    n = 200
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.99)
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.filter(F.col("jaccard") < 1.0).count() == 0
    assert pairs.dropDuplicates(["a_id", "b_id"]).count() == n * (n - 1) // 2


def test_capped_pair_expansion_bounds_hot_bucket(spark):
    """A degenerate 10k-id bucket must NOT expand the full O(B²) clique:
    with max_bucket=100 the per-bucket pair count is bounded by
    ceil(B/100)·C(100,2) per band, ~100× below the 49.99M-pair clique —
    yet the union over independently-salted bands must still leave the
    clique CONNECTED (one component), which is all near-dedup needs."""
    from gmail_etl_spark.operators.dedup import capped_pair_candidates

    n, cap, bands = 10_000, 100, 3
    buckets = spark.range(bands).select(
        F.col("id").cast("int").alias("band"),
        F.lit(42).cast("long").alias("bucket"),
        F.sequence(F.lit(0), F.lit(n - 1)).alias("ids"),
    )
    pairs = capped_pair_candidates(buckets, cap).cache()
    n_pairs = pairs.count()
    per_band_bound = (n // cap) * (cap * (cap - 1) // 2)
    assert n_pairs <= bands * per_band_bound  # 1.485M, not 49.995M
    assert n_pairs < n * (n - 1) // 2 // 10  # >10x below the clique
    comp = connected_components(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    assert comp.select("component").distinct().count() == 1
    assert comp.select("node").distinct().count() == n
    pairs.unpersist()


def test_capped_pair_expansion_at_max_bucket_boundaries(spark):
    """Round-4 verdict #8: fuzz ``capped_pair_candidates`` at the cap
    boundaries — bucket sizes exactly B, B±1, 2B, 2B+1 — against the
    uncapped expansion's component structure.  In-budget buckets
    (size ≤ B) must emit the FULL clique (the CASE's cheap arm must not
    drop pairs); oversized buckets may thin the clique but must (a)
    emit only valid canonical pairs from the id set, and (b) keep the
    clique one connected component via cross-band chunk overlap."""
    from gmail_etl_spark.operators.dedup import capped_pair_candidates

    cap, bands = 8, 3
    for size in (2, cap - 1, cap, cap + 1, 2 * cap, 2 * cap + 1, 3 * cap + 5):
        buckets = spark.range(bands).select(
            F.col("id").cast("int").alias("band"),
            (F.col("id") * 1000 + size).cast("long").alias("bucket"),
            F.sequence(F.lit(0), F.lit(size - 1)).alias("ids"),
        )
        pairs = capped_pair_candidates(buckets, cap).cache()
        got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
        clique = {(i, j) for i in range(size) for j in range(i + 1, size)}
        assert got <= clique, f"size={size}: invalid pairs {got - clique}"
        if size <= cap:
            assert got == clique, f"size={size}: in-budget bucket dropped pairs"
        else:
            per_band_bound = -(-size // cap) * (cap * (cap - 1) // 2)
            assert len(got) <= bands * per_band_bound, f"size={size}"
        comp = connected_components(
            pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        )
        assert comp.select("component").distinct().count() == 1, f"size={size}"
        assert comp.select("node").distinct().count() == size, f"size={size}"
        pairs.unpersist()


def test_lsh_params_for_recall_scurve():
    """The derived (n_hashes, bands) must analytically meet the recall
    floor at the threshold, fit the budget, and use the largest feasible
    rows-per-band (steepest S-curve the budget affords)."""
    import math

    import pytest

    from gmail_etl_spark.operators.dedup import lsh_params_for_recall

    def min_bands(t, R, r):
        p = t**r
        d = math.log1p(-p)
        return None if d == 0.0 else max(1, math.ceil(math.log(1 - R) / d))

    for t in (0.3, 0.5, 0.7, 0.9, 0.99):
        for R in (0.9, 0.99, 0.999):
            for max_hashes in (64, 256):
                n, b = lsh_params_for_recall(t, R, max_hashes)
                r = n // b
                assert n == r * b and n <= max_hashes
                recall = 1 - (1 - t**r) ** b
                assert recall >= R, (t, R, max_hashes, n, b, recall)
                # steepest feasible: no r' > r fits the budget, all the
                # way up to r' = max_hashes (b >= 1 bounds the scan)
                for r2 in range(r + 1, max_hashes + 1):
                    b2 = min_bands(t, R, r2)
                    assert b2 is None or r2 * b2 > max_hashes, (t, R, r2)
                # steeper curve ⇒ lower candidate rate below threshold
                b1 = min_bands(t, R, 1)
                if r > 1 and b1 is not None:
                    low = t / 2
                    assert (1 - (1 - low**r) ** b) <= (1 - (1 - low) ** b1)
    with pytest.raises(ValueError):
        lsh_params_for_recall(0.5, 0.999999, max_hashes=8)
    with pytest.raises(ValueError):
        lsh_params_for_recall(1.5, 0.9)


def test_minhash_lsh_target_recall_preset(spark):
    """``target_recall`` must override the hand-tuned constants and
    still surface every planted near-dup pair on a small corpus (the
    derived parameterization can only raise recall vs the default)."""
    d = _docs(spark, 100).select("doc_id", "text")
    near = d.select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 2, 100000)).alias("text"),
    )
    corpus = d.unionByName(near)
    # planted pairs only (the corpus is densely self-similar at low
    # thresholds, so recall is measured on the known-dup population)
    planted = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(corpus, "doc_id", "text", 0.7)
        .filter((F.col("b_id") - F.col("a_id")) == 5000)
        .collect()
    }
    assert planted
    preset = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.5, target_recall=0.99
        ).collect()
    }
    all_exact = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(corpus, "doc_id", "text", 0.5).collect()
    }
    assert preset <= all_exact  # exact-verified: no false positives
    # planted pairs sit at j≈0.9, far above the t=0.5 recall floor, so
    # the derived S-curve catches essentially all of them
    assert len(preset & planted) >= 0.95 * len(planted)
    # the caller's signature budget must pass through to the S-curve
    # derivation (an infeasible budget fails loudly, not silently)
    with pytest.raises(ValueError):
        minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.5, target_recall=0.99,
            max_hashes=4,
        )


def test_near_dedup_split_group_rate_at_1m(spark):
    """Round-4 verdict #3 gate: on a deterministic 1M-doc corpus with
    100k planted groups of 10 (the bench generator), the recall-targeted
    preset must keep the split-group rate ≤ 1e-4 — i.e. ≤ 10 extra
    clusters over the planted 100,000.  The legacy 16-hash/8-band
    constants measured 7 extra (7e-5); the derived t=0.5/R=0.99 preset
    (105 hashes / 35 bands) bounds the per-group split probability near
    1e-17, so the expected count is exactly 100,000.

    Env-gated (several minutes of real work): run with
    ``SPARK_GRAFT_SCALE_TESTS=1``."""
    import os

    import pytest

    if os.environ.get("SPARK_GRAFT_SCALE_TESTS") != "1":
        pytest.skip("scale gate: set SPARK_GRAFT_SCALE_TESTS=1 to run")
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    n, group = 1_000_000, 10
    docs = planted_near_dup_corpus(spark, n, group=group, partitions=64)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, target_recall=0.99
    )
    comp = connected_components(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
        canonical_input=True,
    )
    n_clusters = comp.select("component").distinct().count()
    planted = n // group
    assert planted <= n_clusters <= planted + planted // 10_000, n_clusters


def test_cc_adversarial_shapes_at_1m(spark):
    """Scale gate for connected_components on the shapes that stress
    ROUND COUNT, not volume: 1M nodes as ten 100k-long disjoint paths
    (large-star/small-star needs ~log n alternations — cliques converge
    in ~1) and a 1M-node random binary forest.  Labels are verified
    arithmetically for EVERY node (component == block head), so this is
    exactness at scale, not a cardinality check.  Tool form:
    ``tools/cc_chain_scale.py``.

    Env-gated (minutes of real work): run with
    ``SPARK_GRAFT_SCALE_TESTS=1``."""
    import os

    import pytest

    if os.environ.get("SPARK_GRAFT_SCALE_TESTS") != "1":
        pytest.skip("scale gate: set SPARK_GRAFT_SCALE_TESTS=1 to run")
    n, plen = 1_000_000, 100_000
    path_edges = (
        spark.range(n - 1)
        .filter(F.pmod(F.col("id") + 1, F.lit(plen)) != 0)
        .select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
        .repartition(64)
    )
    forest_edges = (
        spark.range(n)
        .filter(F.pmod(F.col("id"), F.lit(plen)) != 0)
        .select(
            F.col("id").alias("u"),
            (
                F.floor(F.col("id") / plen) * plen
                + F.pmod(
                    F.abs(F.xxhash64(F.col("id"))), F.pmod(F.col("id"), F.lit(plen))
                )
            ).alias("v"),
        )
        .repartition(64)
    )
    for edges in (path_edges, forest_edges):
        comp = connected_components(edges)
        expected = F.floor(F.col("node") / plen) * plen
        assert comp.filter(F.col("component") != expected).count() == 0
        assert comp.select("component").distinct().count() == n // plen


def test_minhash_lsh_cap_end_to_end(spark):
    """minhash_lsh_pairs with a small max_bucket on an all-identical
    corpus: emits fewer pairs than the clique, every emitted pair
    verifies at jaccard 1.0, and the clique stays one component."""
    n = 300
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.99, max_bucket=64).cache()
    n_pairs = pairs.count()
    assert 0 < n_pairs < n * (n - 1) // 2
    assert pairs.filter(F.col("jaccard") < 1.0).count() == 0
    comp = connected_components(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    assert comp.select("component").distinct().count() == 1
    pairs.unpersist()


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. '03, w=4, k=5): any two
    documents sharing a substring of length >= w + k - 1 = 8 share at
    least one fingerprint; disjoint-alphabet documents share none."""
    from gmail_etl_spark.operators.text import with_winnow_fps

    shared = "the quick brown fox jumps"
    rows = [
        (1, "aaaa " + shared + " bbbb"),
        (2, "cccc " + shared + " dddd"),
        (3, "zzzzzzzzzzzzzzzzzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["fps"]) for r in with_winnow_fps(df).collect()}
    assert fps[1] & fps[2], "docs sharing a 25-char substring must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_semantic_dedup_drops_planted_copies(spark):
    """Exact-copy embeddings (cosine 1.0) land in the same k-means cell
    by construction, so semantic dedup must keep exactly one of each
    pair — the lower id — and every unduplicated vector."""
    from gmail_etl_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    kept = semantic_dedup(emb.unionByName(copies), "vec_id", "embedding", k=8)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    # every planted copy is dropped in favor of its lower-id original
    assert all(v + 100000 not in kept_ids for v in range(50) if v in kept_ids)
    # the originals themselves survive (they are each group's min id)
    base_kept = semantic_dedup(emb, "vec_id", "embedding", k=8)
    assert kept.count() == base_kept.count()
    assert base_kept.count() <= n


def test_connected_components_chain_and_cycle(spark):
    """A chain (1-2-3-4), a cycle (10-11-12-10), and an isolated pair:
    labels are the component minimum regardless of edge orientation,
    duplicates, or self-loops in the input."""
    edges = spark.createDataFrame(
        [
            (2, 1), (2, 3), (3, 4),          # chain, mixed direction
            (10, 11), (11, 12), (12, 10),    # cycle
            (20, 21), (21, 20), (20, 20),    # pair w/ dup + self-loop
        ],
        "u long, v long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_path_converges(spark):
    """A 64-node path is worst-case for naive propagation (diameter 63);
    large-star/small-star must still converge within max_iter=25
    (O(log n) rounds)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "u long, v long"
    )
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 64


def test_connected_components_canonical_input_and_forest_stop(spark, monkeypatch):
    """canonical_input=True (the LSH-output contract: distinct u<v) must
    produce identical labels to the default path, the star-forest
    convergence probe must accept an already-star input without running
    a round, and a star-forest input with a NON-min root must still be
    rewired (forest shape alone isn't the fixpoint — root minimality
    is, which canonical u<v encodes).

    Rounds are counted through ``_directed``: the pre-contraction calls
    it once, and every large-star/small-star round twice more."""
    from gmail_etl_spark.operators import dedup

    calls = []
    real_directed = dedup._directed

    def counting_directed(e):
        calls.append(1)
        return real_directed(e)

    monkeypatch.setattr(dedup, "_directed", counting_directed)

    def labels_and_rounds(df, **kw):
        calls.clear()
        got = {
            (r["node"], r["component"])
            for r in connected_components(df, **kw).collect()
        }
        return got, (len(calls) - 1) // 2

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (10, 11), (12, 13), (13, 14)],
        "u long, v long",
    )
    base = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    fast = {
        (r["node"], r["component"])
        for r in connected_components(edges, canonical_input=True).collect()
    }
    assert base == fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (12, 12), (13, 12), (14, 12),
    }
    # already a canonical star forest: accepted as-is (and correct),
    # with no star round — the probe runs before the first round
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (7, 8)], "u long, v long"
    )
    got, rounds = labels_and_rounds(star, canonical_input=True)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)}
    assert rounds == 0
    # shared leaf: u/v node sets are disjoint but node 9 has TWO roots
    # — NOT a star forest; 5,6,9 must merge into one component
    # (regression: a disjointness-only probe accepted this and emitted
    # two labels for node 9).  The pre-contraction relabels 9 to 5 and
    # leaves the single edge (5, 6), which the probe then accepts.
    shared = spark.createDataFrame([(5, 9), (6, 9)], "u long, v long")
    got, _ = labels_and_rounds(shared, canonical_input=True)
    assert got == {(5, 5), (6, 5), (9, 5)}
    # near-cliques (the LSH pair-graph shape): each component's minimum
    # is adjacent to every member, so the pre-contraction labels the
    # whole component with it and leaves no edge — no round runs
    clique = [(a, b) for a in range(8) for b in range(a + 1, 8)
              if (a, b) not in {(2, 5), (3, 7), (1, 6)}]
    clique += [(a, b) for a in range(20, 25) for b in range(a + 1, 25)
               if (a, b) != (21, 23)]
    got, rounds = labels_and_rounds(
        spark.createDataFrame(clique, "u long, v long"), canonical_input=True
    )
    assert got == {(n, 0) for n in range(8)} | {(n, 20) for n in range(20, 25)}
    assert rounds == 0
    # a path contracts to a shorter path, which still needs rounds
    path = spark.createDataFrame([(i, i + 1) for i in range(8)], "u long, v long")
    got, rounds = labels_and_rounds(path, canonical_input=True)
    assert got == {(n, 0) for n in range(9)}
    assert rounds >= 1


def test_near_dedup_keeps_canonical_and_singletons(spark):
    d = _docs(spark, 30).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    both = d.unionByName(dup)
    pairs = jaccard_pairs(both, "doc_id", "text", threshold=0.999)
    kept = near_dedup(both, "doc_id", pairs)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # every planted duplicate (doc_id+5000) has a smaller-id original in
    # its cluster, so none survives canonical selection
    assert all(i not in kept_ids for i in range(5000, 5010))
    assert kept.count() < both.count()
    # dedup is idempotent
    again = near_dedup(kept, "doc_id", jaccard_pairs(kept, "doc_id", "text", 0.999))
    assert again.count() == kept.count()


def test_vectorized_knn_matches_jvm_path(spark):
    """The mapInPandas/BLAS kernel must reproduce the JVM array-expression
    top-k exactly (same ids, same ranks, sims within rounding), including
    across many small Arrow batches (partial top-k merge is lossless)."""
    from gmail_etl_spark.operators.similarity import cosine_topk, cosine_topk_vectorized

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.repartition(16)  # force many partial top-k merges
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk(queries, emb, k=7).collect()
    }
    vec = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in cosine_topk_vectorized(queries, corpus, k=7).collect()
    }
    assert set(exact) == set(vec)
    for key, (nid, sim) in exact.items():
        vnid, vsim = vec[key]
        assert vnid == nid, f"{key}: neighbor {vnid} != {nid}"
        assert abs(vsim - sim) <= 1e-6


def test_vectorized_knn_rejects_null_and_ragged_vectors(spark):
    """ADVICE r12 contract guard: a null or ragged-dim corpus vector
    must raise a clear error from the Arrow kernel, never silently
    misalign the reshaped matrix (the failure mode: total element count
    still divides num_rows and every following row shifts)."""
    from pyspark.errors.exceptions.captured import PythonException

    from gmail_etl_spark.operators.similarity import cosine_topk_vectorized

    queries = spark.createDataFrame(
        [(900, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    null_vec = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(PythonException, match="null"):
        cosine_topk_vectorized(queries, null_vec, k=2).collect()
    # ragged: dims [2, 2, 4, 4] in one batch.  The 12 elements divide
    # into 4 rows of 3, so the reshape alone would succeed with every
    # row misaligned — only the offsets guard can raise here
    ragged = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.0, 1.0, 0.5, 0.5]),
            (4, [1.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(PythonException, match="ragged"):
        cosine_topk_vectorized(queries, ragged, k=2).collect()


def _per_query_topk(ids, sims, q_ids, k, cand=None):
    """The per-query selection loop the kNN kernels ran before the
    batched one: a full lexsort of every query's candidates."""
    import numpy as np

    rows = []
    for j, qid in enumerate(q_ids):
        mask = ids != qid
        if cand is not None:
            mask &= cand[j]
        cand_ids, cand_sims = ids[mask], sims[mask, j]
        if len(cand_ids) > k:
            order = np.lexsort((cand_ids, -np.round(cand_sims, 6)))[:k]
        else:
            order = np.arange(len(cand_ids))
        rows += [(qid, cand_ids[i], cand_sims[i]) for i in order]
    return rows


def _unit_sims(corpus, queries):
    """The kernels' similarity matrix: normalize (zero rows stay zero),
    then one matmul."""
    import numpy as np

    c = np.array(corpus, dtype=np.float64)
    q = np.array(queries, dtype=np.float64)
    for m in (c, q):
        n = np.linalg.norm(m, axis=1, keepdims=True)
        np.divide(m, n, out=m, where=n > 0)
    return c @ q.T


@pytest.mark.parametrize(
    "case",
    ["ties_at_kth", "self_nearest", "batch_le_k", "mask_lt_k", "zero_vector", "nan_vector"],
)
def test_batch_topk_matches_per_query_sort(case):
    """The batched partition selection keeps exactly the partial rows of
    the per-query full sort (as multisets, sims bit-identical)."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import _batch_topk

    nan = float("nan")
    q_vecs = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    q_ids = np.array([3, 100, 5])
    corpus = [[1.0, 0.0], [2.0, 0.0], [0.5, 0.0], [0.0, 1.0], [1.0, 1.0],
              [0.0, 3.0], [1.0, 0.0], [-1.0, 0.0], [1.0, 2.0]]
    cand = None
    k = 3
    if case == "ties_at_kth":
        # rows 0, 1, 2 and 6 all have sim 1.0 with query 3: k=2 cuts
        # through the tie, so only ids break it
        k = 2
    elif case == "self_nearest":
        corpus[3] = [1.0, 0.0]  # id 3 (= query 3) is its own best match
    elif case == "batch_le_k":
        corpus, k = [[1.0, 0.0], [nan, 0.0], [0.0, 1.0]], 3
    elif case == "mask_lt_k":
        cand = np.zeros((len(q_ids), len(corpus)), dtype=bool)
        cand[:, [1, 4]] = True
        cand[2, 7] = True
    elif case == "zero_vector":
        corpus[2] = [0.0, 0.0]
        q_vecs[1] = [0.0, 0.0]  # sims 0 everywhere: ids decide
    elif case == "nan_vector":
        corpus[4] = [nan, 1.0]
        corpus[5] = [nan, nan]
        cand = np.ones((len(q_ids), len(corpus)), dtype=bool)
        cand[0, [0, 1, 2, 6, 7]] = False  # query 3: 2 finite + 2 NaN left
    ids = np.arange(len(corpus))
    sims = _unit_sims(corpus, q_vecs)
    qi, ri, sim = _batch_topk(ids, sims, q_ids, k, cand)

    def canon(rows):
        return sorted((int(q), int(n), np.float64(s).tobytes()) for q, n, s in rows)

    got = canon(zip(q_ids[qi], ids[ri], sim))
    want = canon(_per_query_topk(ids, sims, q_ids, k, cand))
    assert got == want
    # query-major and within a query in the final (sim desc, id asc) order
    keys = [(q, -np.round(s, 6) if s == s else np.inf, n) for q, n, s in zip(qi, ids[ri], sim)]
    assert keys == sorted(keys)


def test_batch_topk_matches_per_query_sort_randomized():
    """Coarse integer vectors make rounded-sim ties common; random masks,
    duplicate ids, NaN rows and every k from 1 to past the batch size."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import _batch_topk

    rng = np.random.default_rng(7)
    for _ in range(300):
        n, nq, k = int(rng.integers(1, 25)), int(rng.integers(1, 5)), int(rng.integers(1, 8))
        corpus = rng.integers(-2, 3, size=(n, 3)).astype(float)
        if rng.random() < 0.3:
            corpus[rng.integers(n)] = np.nan
        ids = rng.integers(0, 12, n)
        q_ids = rng.integers(0, 12, nq)
        cand = rng.random((nq, n)) < 0.6 if rng.random() < 0.5 else None
        sims = _unit_sims(corpus, rng.integers(-2, 3, size=(nq, 3)))
        qi, ri, sim = _batch_topk(ids, sims, q_ids, k, cand)
        got = sorted((q_ids[a], ids[b], np.float64(s).tobytes()) for a, b, s in zip(qi, ri, sim))
        want = sorted(
            (q, n, np.float64(s).tobytes()) for q, n, s in _per_query_topk(ids, sims, q_ids, k, cand)
        )
        assert got == want


@pytest.mark.parametrize("id_type", ["date", "decimal(12,2)"])
def test_vectorized_knn_without_to_arrow_type(spark, monkeypatch, id_type):
    """With pyspark's private ``to_arrow_type`` not importable, the
    fallback type map still serves date- and decimal-keyed corpora,
    matching the JVM path's ranking."""
    import sys
    import types

    from gmail_etl_spark.operators.similarity import cosine_topk, cosine_topk_vectorized

    # a stand-in module without the name: pyspark's own functions keep
    # their real globals, only a fresh ``from ... import`` fails
    real = sys.modules["pyspark.sql.pandas.types"]
    moved = types.ModuleType(real.__name__)
    moved.__dict__.update({k: v for k, v in vars(real).items() if k != "to_arrow_type"})
    monkeypatch.setitem(sys.modules, real.__name__, moved)
    with pytest.raises(ImportError):
        from pyspark.sql.pandas.types import to_arrow_type  # noqa: F401
    key = "date_add(DATE'2024-01-01', CAST(id AS INT))" if id_type == "date" else "id / 4"

    def frame(n):
        return spark.range(n).selectExpr(
            f"CAST({key} AS {id_type}) AS vec_id",
            "array(cos(id), sin(id), CAST(id % 3 AS DOUBLE)) AS embedding",
        )

    def ranks(df):
        return {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"]) for r in df.collect()}

    emb, queries = frame(40).coalesce(2), frame(3)
    got = ranks(cosine_topk_vectorized(queries, emb, k=4))
    want = ranks(cosine_topk(queries, emb, k=4))
    assert len(got) == 12 and set(got) == set(want)
    for qr, (nid, sim) in want.items():
        assert got[qr][0] == nid and abs(got[qr][1] - sim) <= 1e-6


def test_hyperplane_lsh_recall_and_no_false_positives(spark):
    """Planted exact copies share every signature bit, so they collide in
    every band → recall 1.0 on them; and the exact-cosine verify step
    means nothing below the threshold survives."""
    from gmail_etl_spark.operators.similarity import cosine, hyperplane_lsh_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    copies = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(copies)
    got = hyperplane_lsh_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    planted = got.filter((F.col("b_id") - F.col("a_id")) == 1000)
    assert planted.count() == 100
    # verify step: every surviving pair's true cosine clears the threshold
    a = corpus.select(F.col("vec_id").alias("a_id"),
                      F.col("embedding").cast("array<double>").alias("va"))
    b = corpus.select(F.col("vec_id").alias("b_id"),
                      F.col("embedding").cast("array<double>").alias("vb"))
    joined = got.join(a, "a_id").join(b, "b_id")
    assert joined.filter(cosine(F.col("va"), F.col("vb")) < 0.999).count() == 0


def test_srp_params_for_recall_scurve():
    """SRP analog of test_lsh_params_for_recall_scurve: derived
    (n_planes, bands) must analytically meet the recall floor at the
    cosine threshold via Charikar's p(s) = 1 − arccos(s)/π collision
    curve, fit the bit budget, and use the steepest feasible band."""
    import math

    import pytest

    from gmail_etl_spark.operators.similarity import srp_params_for_recall

    def min_bands(p, R, r):
        ph = p**r
        d = math.log1p(-ph)
        return None if d == 0.0 else max(1, math.ceil(math.log(1 - R) / d))

    for t in (0.5, 0.8, 0.9, 0.99):
        p = 1 - math.acos(t) / math.pi
        for R in (0.9, 0.99, 0.999):
            for max_planes in (64, 256):
                n, b = srp_params_for_recall(t, R, max_planes)
                r = n // b
                assert n == r * b and n <= max_planes
                recall = 1 - (1 - p**r) ** b
                assert recall >= R, (t, R, max_planes, n, b, recall)
                # steepest feasible rows-per-band
                for r2 in range(r + 1, max_planes + 1):
                    b2 = min_bands(p, R, r2)
                    assert b2 is None or r2 * b2 > max_planes, (t, R, r2)
    with pytest.raises(ValueError):
        srp_params_for_recall(0.99, 0.999999, max_planes=4)
    with pytest.raises(ValueError):
        srp_params_for_recall(1.5, 0.9)
    with pytest.raises(ValueError):
        srp_params_for_recall(-1.0, 0.9)


def test_hyperplane_lsh_target_recall_preset(spark):
    """``target_recall`` must override the hand-tuned (n_planes, bands)
    via the S-curve derivation and still surface every planted
    exact-copy pair (identical vectors agree on every bit, so banding
    cannot lose them under ANY derived parameterization) with zero
    false positives — the q54 recall contract, now a stated knob."""
    from gmail_etl_spark.operators.similarity import (
        cosine,
        hyperplane_lsh_pairs,
        srp_params_for_recall,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 100
    )
    copies = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    got = hyperplane_lsh_pairs(
        corpus, "vec_id", "embedding", threshold=0.99, target_recall=0.99
    )
    planted = got.filter((F.col("b_id") - F.col("a_id")) == 1000)
    assert planted.count() == 100
    # the preset actually drove the parameterization (not the defaults)
    n, b = srp_params_for_recall(0.99, 0.99)
    assert (n, b) != (16, 4) and n % b == 0
    # exact-cosine verify: nothing below the threshold survives
    a = corpus.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    bb = corpus.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    joined = got.join(a, "a_id").join(bb, "b_id")
    assert joined.filter(cosine(F.col("va"), F.col("vb")) < 0.99).count() == 0


def test_simhash_locality(spark):
    d = _docs(spark, 40).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 5000).alias("doc_id"), F.col("text"))
    sigs = simhash_signatures(d.unionByName(dup), "doc_id", "text")
    a = sigs.filter(F.col("id") < 5000).select(F.col("id"), F.col("simhash").alias("sa"))
    b = sigs.filter(F.col("id") >= 5000).select(
        (F.col("id") - 5000).alias("id"), F.col("simhash").alias("sb")
    )
    joined = a.join(b, "id")
    # identical text → identical signature
    assert joined.filter(F.col("sa") != F.col("sb")).count() == 0


# ---------------------------------------------------------------------------
# portable (sha256) hash family — the round-9 hash-oracle conversions
# ---------------------------------------------------------------------------


def test_sha_base31_matches_reference_arithmetic(spark):
    """The portable MinHash base hash (q44's oracle-replayable family)
    equals the reference computation — int(sha256_hex[:8], 16) mod
    2^31−1 — for representative shingles.  This is the Python-side pin
    of the cross-engine recipe: DuckDB recomputes the same value via
    strpos nibble arithmetic (q44's oracle), Spark via
    conv(substring(sha2(...), 1, 8), 16, 10)."""
    import hashlib

    from gmail_etl_spark.operators.dedup import _MH_P, _sha_base31

    samples = ["alpha beta gamma", "", "x", "the the the", "ünïcode towel", "a b"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {
        r["s"]: r["h"]
        for r in df.select("s", _sha_base31(F.col("s")).alias("h")).collect()
    }
    for s in samples:
        want = int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:8], 16) % _MH_P
        assert got[s] == want, s


def test_minhash_portable_family_signature_reference(spark):
    """hash_family='sha256' signatures equal a pure-Python replay of the
    pipeline (sha256-nibble base hash + Carter–Wegman permutations +
    min), so the oracle arithmetic in q44 is pinned from this side too."""
    import hashlib

    from gmail_etl_spark.operators.dedup import _MH_P, _lsh_sigs, _mh_ab

    texts = ["a b c d e f", "a b c d e g", "one two three four"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = {
        r["id"]: r
        for r in _lsh_sigs(df, "doc_id", "text", k=3, n_hashes=8, hash_family="sha256")
        .select("id", "sig", "hsh")
        .collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        sh = list(dict.fromkeys(
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        )) if len(toks) >= 3 else [" ".join(toks)]
        base = [
            int(hashlib.sha256(s.encode()).hexdigest()[:8], 16) % _MH_P for s in sh
        ]
        want_sig = []
        for p in range(8):
            a, b = _mh_ab(p)
            want_sig.append(min((a * h + b) % _MH_P for h in base))
        assert list(rows[i]["sig"]) == want_sig
        want_hsh = {hashlib.sha256(s.encode()).hexdigest()[:16] for s in sh}
        assert set(rows[i]["hsh"]) == want_hsh


def _lambda_bodies(plan: str) -> list[str]:
    """Text of every ``lambdafunction(...)`` in a plan string."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start != -1:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start : end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_simhash_portable_reference(spark):
    """simhash_signatures_portable (q45) equals a pure-Python replay:
    bit b = sign of Σ_tokens (±1 by parity of sha256 hex nibble b),
    packed into (sim_hi, sim_lo) 32-bit halves.  Each token's sha256 is
    computed once, outside the 64-way nibble lambda (inside it, sha2 ran
    64 times per token)."""
    import hashlib

    from gmail_etl_spark.operators.dedup import simhash_signatures_portable

    texts = ["alpha beta gamma alpha", "one", "x y z w"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    plan = (
        simhash_signatures_portable(df, "doc_id", "text")._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert plan.count("sha2(") == 1, plan
    assert not any("sha2(" in b for b in _lambda_bodies(plan)), plan
    got = {
        r["id"]: (r["sim_hi"], r["sim_lo"])
        for r in simhash_signatures_portable(df, "doc_id", "text").collect()
    }
    for i, t in enumerate(texts):
        toks = set(t.split(" "))
        hi = lo = 0
        for b in range(64):
            v = 0
            for tok in toks:
                nib = int(hashlib.sha256(tok.encode()).hexdigest()[b], 16)
                v += 1 if nib % 2 == 1 else -1
            bit = 1 if v > 0 else 0
            if b >= 32:
                hi |= bit << (b - 32)
            else:
                lo |= bit << b
        assert got[i] == (hi, lo), i


def test_shingles_split_once_and_reference(spark):
    """shingles binds the token array once: the optimized plan holds one
    ``split(``, outside every lambda (captured inside the per-shingle
    lambda it re-splits the document once per shingle, since lambdas
    get no common-subexpression elimination).  Values equal a
    pure-Python reference for k = 1..4 on null, empty, short, repeated-
    token and consecutive-space (empty-token) inputs."""
    from gmail_etl_spark.operators.dedup import shingles

    texts = [None, "", "a", "a b", "a b c d e", "x x x x x",
             "a  b   c", " lead trail ", "p q p q p q"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    plan = (
        df.select(shingles(F.col("t"), 3).alias("s"))._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan
    assert not any("split(" in b for b in _lambda_bodies(plan)), plan

    def ref(text, k):
        if text is None:
            # size(NULL) is NULL, so the short-document arm runs:
            # concat_ws over a NULL array is ""
            return [""]
        toks = text.split(" ")
        if len(toks) < k:
            return [" ".join(toks)]
        out = []
        for i in range(len(toks) - k + 1):
            sh = " ".join(toks[i : i + k])
            if sh not in out:
                out.append(sh)
        return out

    for k in (1, 2, 3, 4):
        got = [r["s"] for r in df.select(shingles(F.col("t"), k).alias("s")).collect()]
        assert got == [ref(t, k) for t in texts], k


def test_cms_oracle_constants_pinned(spark):
    """q183's oracle embeds the CMS geometry (depth, width) and the
    seed-42 hashA row constants as SQL literals.  Decode a live sketch
    built by THIS Spark and assert they match — if a Spark upgrade ever
    changes the CMS layout, seed stream, or eps/confidence sizing, this
    fails loudly instead of the oracle silently diverging."""
    from gmail_etl_spark.operators.sketches import decode_count_min_sketch
    from gmail_etl_spark.plans.event_queries import (
        _Q183_DEPTH,
        _Q183_HASH_A,
        _Q183_SEED,
        _Q183_WIDTH,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], ["user_id"])
    raw = bytes(
        df.select(
            F.expr(
                "count_min_sketch(user_id, cast(0.001 as double),"
                f" cast(0.99 as double), {_Q183_SEED})"
            ).alias("sk")
        ).head()["sk"]
    )
    _total, depth, width, hash_a, _table = decode_count_min_sketch(raw)
    assert depth == _Q183_DEPTH
    assert width == _Q183_WIDTH
    assert tuple(hash_a) == _Q183_HASH_A


def test_srp_band_bucket_hash_collision_free(spark):
    """q54's oracle replays the band bucket as BIT-TUPLE equality while
    the operator groups by xxhash64 over the band's r=4 bit columns —
    identical groupings iff the 16 possible hash inputs map to 16
    distinct values.  The hash is a fixed deterministic function, so
    this enumerates the entire input space and PROVES the equivalence
    (not a probabilistic argument)."""
    combos = [
        ((b >> 3) & 1, (b >> 2) & 1, (b >> 1) & 1, b & 1) for b in range(16)
    ]
    df = spark.createDataFrame(combos, ["b0", "b1", "b2", "b3"]).select(
        *[F.col(c).cast("int").alias(c) for c in ["b0", "b1", "b2", "b3"]]
    )
    hashes = [
        r["h"]
        for r in df.select(
            F.xxhash64(F.col("b0"), F.col("b1"), F.col("b2"), F.col("b3")).alias("h")
        ).collect()
    ]
    assert len(set(hashes)) == 16


# ---------------------------------------------------------------------------
# gmail source
# ---------------------------------------------------------------------------


def test_fetch_messages_distributed(spark):
    from gmail_etl_spark.sources.fixtures import fixture_messages
    from gmail_etl_spark.sources.gmail import MockGmailClient, fetch_messages

    msgs = fixture_messages()

    def factory():
        return MockGmailClient(msgs, page_size=3)

    raw = fetch_messages(spark, factory, limit=300)
    assert raw.count() == len(msgs)
    assert sorted(r["id"] for r in raw.select("id").collect()) == sorted(
        m["id"] for m in msgs
    )
    # limit honored (reference cap semantics, :151)
    assert fetch_messages(spark, factory, limit=4).count() == 4


def test_fetch_messages_respects_ledger(spark):
    from gmail_etl_spark.sources.fixtures import fixture_messages
    from gmail_etl_spark.sources.gmail import MockGmailClient, fetch_messages

    msgs = fixture_messages()
    ledger = spark.createDataFrame([(m["id"],) for m in msgs[:4]], "id string")

    def factory():
        return MockGmailClient(msgs)

    raw = fetch_messages(spark, factory, ledger=ledger)
    assert raw.count() == len(msgs) - 4


def test_fetched_messages_flow_through_pipeline(spark):
    from gmail_etl_spark.pipeline import transform_stage1
    from gmail_etl_spark.plans.gmail_queries import expected_stage1_rows
    from gmail_etl_spark.sources.fixtures import fixture_messages
    from gmail_etl_spark.sources.gmail import MockGmailClient, fetch_messages

    msgs = fixture_messages()
    raw = fetch_messages(spark, lambda: MockGmailClient(msgs))
    got = {r["id"]: r["body"] for r in transform_stage1(raw).collect()}
    expected = {r["id"]: r["body"] for r in expected_stage1_rows()}
    assert got == expected


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_features_header_convention(spark):
    """The header-convention test double still drives the plumbing for
    human-writable payloads (explicit decoder injection)."""
    from gmail_etl_spark.operators.multimodal import (
        attach_media_features,
        fake_image_features,
    )

    payload = (640).to_bytes(2, "big") + (480).to_bytes(2, "big") + b"png " + b"rest"
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"xy"))],
        "media_id long, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in attach_media_features(df, decoder=fake_image_features).collect()
    }
    assert rows[1]["width"] == 640 and rows[1]["height"] == 480
    assert rows[1]["format"] == "png "
    assert rows[1]["byte_len"] == len(payload)
    assert rows[2]["format"] == "raw" and rows[2]["width"] is None


def test_png_roundtrip_and_defilter():
    """encode → decode round-trips pixels exactly, and the decoder
    de-filters scanlines written with every PNG filter type (a stream
    our own encoder never produces — hand-built IDAT)."""
    import struct
    import zlib

    from gmail_etl_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png,
        decode_image,
        encode_png,
    )

    # round-trip: 5x4 RGB gradient
    px = bytes((x * 7 + y * 11 + c * 3) % 256 for y in range(4) for x in range(5) for c in range(3))
    w, h, ch, out = _decode_png(encode_png(5, 4, 3, px))
    assert (w, h, ch) == (5, 4, 3) and bytes(out) == px

    # hand-built 4-row grayscale image using filter types 1,2,3,4
    rows = [bytes([10, 20, 30, 40]), bytes([5, 5, 5, 5]), bytes([7, 9, 11, 13]), bytes([1, 2, 3, 4])]
    expect = bytearray()
    raw = bytearray()
    prev = bytes(4)
    for ftype, row in zip([1, 2, 3, 4], rows):
        # forward-filter the intended OUTPUT row so the decoder must invert it
        raw.append(ftype)
        decoded = row
        enc = bytearray()
        for x in range(4):
            a = decoded[x - 1] if x >= 1 else 0
            b = prev[x]
            if ftype == 1:
                enc.append((decoded[x] - a) & 0xFF)
            elif ftype == 2:
                enc.append((decoded[x] - b) & 0xFF)
            elif ftype == 3:
                enc.append((decoded[x] - ((a + b) >> 1)) & 0xFF)
            else:
                c = prev[x - 1] if x >= 1 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((decoded[x] - pred) & 0xFF)
        raw += enc
        expect += decoded
        prev = decoded

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    w, h, ch, out = _decode_png(png)
    assert (w, h, ch) == (4, 4, 1) and bytes(out) == bytes(expect)
    feat = decode_image(png)
    assert feat["format"] == "png" and feat["px_mean"] == sum(expect) / len(expect)


def test_bmp_ppm_and_corrupt_payloads():
    import struct

    from gmail_etl_spark.operators.multimodal import decode_image

    # 3x2 24-bpp BMP, bottom-up rows padded to 4 bytes
    rows_top_down = [bytes([1, 2, 3, 4, 5, 6, 7, 8, 9]), bytes([10, 11, 12, 13, 14, 15, 16, 17, 18])]
    pad = b"\x00" * 3  # stride 9 -> padded 12
    body = rows_top_down[1] + pad + rows_top_down[0] + pad
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    feat = decode_image(bmp)
    allpx = b"".join(rows_top_down)
    assert feat["format"] == "bmp" and (feat["width"], feat["height"]) == (3, 2)
    assert feat["px_mean"] == sum(allpx) / len(allpx)

    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(range(12))
    feat = decode_image(ppm)
    assert feat["format"] == "ppm" and (feat["width"], feat["height"]) == (2, 2)
    assert feat["px_mean"] == sum(range(12)) / 12

    # corrupt/unknown payloads degrade, never raise
    for bad in [b"\x89PNG", b"BMxx", b"P6 garbage", b"plain text", b""]:
        assert decode_image(bad)["format"] == "raw"
    assert decode_image(None)["format"] is None


def test_resize_media_real_roundtrip(spark):
    from gmail_etl_spark.operators.multimodal import encode_png, resize_media

    # 4x4 RGB: left half black, right half white -> 2x2 nearest keeps the split
    px = bytes(
        (255 if x >= 2 else 0) for y in range(4) for x in range(4) for _c in range(3)
    )
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(4, 4, 3, px))), (2, bytearray(b"xy"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in resize_media(df, 2, 2).collect()}
    assert rows[1]["width"] == 2 and rows[1]["height"] == 2
    assert rows[1]["format"] == "png"
    assert rows[1]["px_mean"] == 127.5  # half black, half white survived
    # short/corrupt payloads pass through untouched
    assert bytes(rows[2]["payload"]) == b"xy"


# ---------------------------------------------------------------------------
# sketch aggregates: within tolerance of exact
# ---------------------------------------------------------------------------


def test_approx_count_distinct_tolerance(spark):
    from gmail_etl_spark.plans.catalog import query_map

    approx = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in query_map()["q83_approx_count_distinct"](spark, SF_DIR).collect()
    }
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v <= 0.05, (k, approx[k], v)


def test_approx_percentile_tolerance(spark):
    from gmail_etl_spark.plans.catalog import query_map

    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p99_approx"])
        for r in query_map()["q84_approx_percentile"](spark, SF_DIR).collect()
    }
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: (r["p50"], r["p99"])
        for r in l.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    for k, (e50, e99) in exact.items():
        a50, a99 = approx[k]
        assert abs(a50 - e50) / e50 <= 0.05
        assert abs(a99 - e99) / e99 <= 0.05


def test_stratified_sample_proportions(spark):
    from gmail_etl_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    totals = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = stratified_sample(d, "lang", {k: 0.5 for k in totals})
    got = {r["lang"]: r["n"] for r in sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, total in totals.items():
        frac = got.get(lang, 0) / total
        assert 0.3 <= frac <= 0.7, (lang, frac)  # Bernoulli 0.5 within wide bounds


def test_hash_split_is_content_keyed(spark):
    """Duplicate texts must land in the same split regardless of id."""
    from gmail_etl_spark.operators.sampling import hash_split

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    dup = d.withColumn("doc_id", F.col("doc_id") + 9000)
    s = hash_split(d.unionByName(dup), "text")
    sides = s.groupBy("text").agg(F.countDistinct("split").alias("k"))
    assert sides.filter(F.col("k") > 1).count() == 0


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token lands in at least one chunk; consecutive chunks share
    exactly `overlap` tokens (except a shorter final chunk); chunk
    reassembly with overlap dropped reproduces the document."""
    from gmail_etl_spark.operators.text import chunk_documents

    d = _docs(spark, 20).select("doc_id", "text")
    chunks = chunk_documents(d, chunk_tokens=20, overlap=5).collect()
    texts = {r["doc_id"]: r["text"].split(" ") for r in d.collect()}
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        toks = texts[doc_id]
        # stitch: first chunk whole, then drop the 5 overlapping tokens
        stitched = rows[0]["chunk_text"].split(" ")
        for r in rows[1:]:
            stitched.extend(r["chunk_text"].split(" ")[5:])
        assert stitched == toks, f"doc {doc_id} reassembly mismatch"
        for r in rows:
            start = r["chunk_id"] * 15
            assert r["n_chunk_tokens"] == min(20, len(toks) - start)


def test_pack_sequences_invariants(spark):
    """Every chunk packed exactly once, no sequence over budget, and the
    packing is deterministic across runs."""
    from gmail_etl_spark.operators.sampling import pack_sequences
    from gmail_etl_spark.operators.text import chunk_documents

    d = _docs(spark, 200).select("doc_id", "text")
    chunks = chunk_documents(d, chunk_tokens=20, overlap=5).select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_key"),
        "n_chunk_tokens",
    )
    packed = pack_sequences(chunks, "chunk_key", "n_chunk_tokens", budget=64)
    assert packed.count() == chunks.count()
    assert packed.select("item_id").distinct().count() == chunks.count()
    over = (
        packed.groupBy("seq_id")
        .agg(F.sum("n_tokens").alias("total"))
        .filter(F.col("total") > 64)
    )
    assert over.count() == 0
    # determinism: identical assignment on a re-run
    again = pack_sequences(chunks, "chunk_key", "n_chunk_tokens", budget=64)
    diff = packed.exceptAll(again)
    assert diff.count() == 0
    # packing efficiency: FFD should stay well above naive one-per-seq
    n_seqs = packed.select("seq_id").distinct().count()
    total_tokens = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert n_seqs <= (total_tokens // 64) * 2 + 64  # ≥ ~50% fill


def test_kmeans_trainer_properties(spark):
    """Deterministic across runs; every point lands on its true nearest
    centroid; training reduces inertia vs the init assignment."""
    import math

    from gmail_etl_spark.operators.similarity import train_kmeans

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assign1, cents1 = train_kmeans(emb, k=5, iters=3)
    assign2, cents2 = train_kmeans(emb, k=5, iters=3)
    assert cents1 == cents2
    assert assign1.exceptAll(assign2).count() == 0

    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = {r["id"]: r["cluster"] for r in assign1.collect()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for vid, v in rows.items():
        dists = [d2(v, c) for c in cents1]
        best = min(range(len(cents1)), key=lambda i: (dists[i], i))
        assert math.isclose(dists[got[vid]], dists[best], rel_tol=1e-9)

    # inertia decreases vs iteration 0
    _, cents0 = train_kmeans(emb, k=5, iters=0)
    inertia0 = sum(min(d2(v, c) for c in cents0) for v in rows.values())
    inertiaN = sum(min(d2(v, c) for c in cents1) for v in rows.values())
    assert inertiaN <= inertia0


def test_kmeans_vectorized_matches_expr(spark):
    """The numpy/Arrow assignment path (the large-k form: centroids in
    kernel closures, not k×dim plan literals) produces the same
    assignments and centroids as the codegen expr path — same argmin,
    same lowest-cluster tie-break, sufficient-statistics update."""
    import math

    from gmail_etl_spark.operators.similarity import train_kmeans
    from gmail_etl_spark.synthetic import planted_embedding_corpus

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a_expr, c_expr = train_kmeans(emb, k=5, iters=3, assign_strategy="expr")
    a_vec, c_vec = train_kmeans(emb, k=5, iters=3, assign_strategy="vectorized")
    for u, v in zip(c_expr, c_vec):
        for x, y in zip(u, v):
            # centroid sums run in different orders (shuffle-order fold
            # vs numpy pairwise) — equal to float accumulation noise
            assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
    de = {r["id"]: r["cluster"] for r in a_expr.collect()}
    dv = {r["id"]: r["cluster"] for r in a_vec.collect()}
    assert de == dv and len(de) == emb.count()

    # large-k smoke on the planted corpus: every vector lands in the
    # cell seeded by its planted center (k > any size the expr path's
    # O(k·dim)-literal plan could carry)
    from pyspark.sql import functions as F

    corpus = planted_embedding_corpus(spark, 4000, dim=16, n_centers=64)
    assign, cents = train_kmeans(
        corpus, k=64, iters=2, assign_strategy="vectorized"
    )
    agree = (
        assign.join(corpus, assign["id"] == corpus["vec_id"])
        .filter(F.col("cluster") == F.col("center"))
        .count()
    )
    assert agree == 4000
    assert len(cents) == 64

    import pytest

    with pytest.raises(ValueError):
        train_kmeans(emb, k=5, iters=1, assign_strategy="bogus")


def test_wav_decode_features_and_degrade():
    """Real RIFF/PCM parse: sample-derived features, stdlib-`wave`
    cross-check, chunk-order tolerance, corrupt-payload degrade."""
    import io
    import struct
    import wave

    from gmail_etl_spark.operators.audio import decode_audio, encode_wav

    # 16-bit square wave: RMS == amplitude, one crossing per step.
    amp, n = 700, 101
    samples = [amp if i % 2 == 0 else -amp for i in range(n)]
    payload = encode_wav(8000, samples)
    # the writer emits something the stdlib wave module accepts
    with wave.open(io.BytesIO(payload)) as w:
        assert (w.getframerate(), w.getnchannels(), w.getnframes()) == (8000, 1, n)
    feat = decode_audio(payload)
    assert feat["format"] == "wav"
    assert feat["sample_rate"] == 8000
    assert feat["n_samples"] == n
    assert feat["duration_s"] == n / 8000
    assert feat["rms"] == float(amp)
    assert feat["peak"] == amp
    assert feat["zero_crossings"] == n - 1

    # 8-bit unsigned path
    feat8 = decode_audio(encode_wav(4000, [10, -10, 10, -10], bits=8))
    assert feat8["format"] == "wav" and feat8["rms"] == 10.0
    assert feat8["zero_crossings"] == 3

    # unknown chunks before fmt/data, odd-length word-aligned chunk
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    chunks = payload[12:]
    reordered = b"RIFF" + struct.pack("<I", 4 + len(extra) + len(chunks))
    reordered += b"WAVE" + extra + chunks
    assert decode_audio(reordered)["rms"] == float(amp)

    # corrupt / foreign payloads degrade, never raise
    for bad in (b"", b"RIFF", b"RIFFxxxxWAVE", b"\x89PNG\r\n\x1a\n", payload[:30]):
        assert decode_audio(bad)["format"] == "raw"
    assert decode_audio(None)["format"] is None


def test_attach_audio_features_plumbing(spark):
    """mapInPandas stage: schema stable, mixed good/corrupt batch."""
    from pyspark.sql import Row

    from gmail_etl_spark.operators.audio import attach_audio_features, encode_wav

    rows = [
        Row(media_id=1, payload=bytes(encode_wav(16000, [5, -5] * 50))),
        Row(media_id=2, payload=b"not audio"),
        Row(media_id=3, payload=None),
    ]
    df = spark.createDataFrame(rows)
    out = {r["media_id"]: r.asDict() for r in attach_audio_features(df).collect()}
    assert out[1]["format"] == "wav" and out[1]["rms"] == 5.0
    assert out[1]["duration_s"] == 100 / 16000
    assert out[2]["format"] == "raw" and out[2]["rms"] is None
    assert out[3]["format"] is None and out[3]["byte_len"] is None


# ---------------------------------------------------------------------------
# product quantization (q132)
# ---------------------------------------------------------------------------


def test_pq_codes_bounded_and_deterministic(spark):
    from gmail_etl_spark.operators.similarity import pq_encode, train_pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = train_pq(emb, m=8, ksub=16, iters=3, sample_n=256)
    books2 = train_pq(emb, m=8, ksub=16, iters=3, sample_n=256)
    assert books == books2, "codebook training must be deterministic"
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books).collect()
    assert all(0 <= c < 16 for r in codes for c in r["codes"])
    assert all(len(r["codes"]) == 8 for r in codes)


def test_pq_adc_recall_vs_exact(spark):
    """ADC top-10 must recover most of the exact L2 top-10 — the
    accuracy contract that makes the 32x-compressed search usable."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import pq_topk, train_pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = train_pq(emb, m=8, ksub=16, iters=3, sample_n=2048)
    queries = emb.orderBy("vec_id").limit(10)
    approx = pq_topk(queries, emb, books, k=10).collect()

    rows = emb.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    ids = np.asarray([r[0] for r in rows])
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]

    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = []
    for qid, approx_ids in got.items():
        qv = X[ids == qid][0]
        d2 = ((X - qv[None, :]) ** 2).sum(axis=1)
        d2[ids == qid] = np.inf
        exact10 = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())
        recalls.append(len(exact10 & approx_ids) / 10.0)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"ADC recall@10 too low: {mean_recall}"


def test_jl_projection_preserves_distances(spark):
    """JL guarantee: squared distances in the 16-dim signed projection,
    scaled by 1/k, concentrate around the original squared distances."""
    import numpy as np

    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    rows = CATALOG["q135_jl_projection"].builder(spark, SF_DIR).collect()
    proj = {
        r["vec_id"]: np.array([int(c) for c in r["proj_fp"].split(" ")], dtype=np.float64)
        / 1e6
        for r in rows
    }
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    ids = sorted(proj)[:60]
    ratios = []
    for a in ids[:30]:
        for b in ids[30:]:
            d2 = ((emb[a] - emb[b]) ** 2).sum()
            p2 = ((proj[a] - proj[b]) ** 2).sum() / 16.0
            if d2 > 1e-9:
                ratios.append(p2 / d2)
    ratios = np.array(ratios)
    assert 0.8 <= np.median(ratios) <= 1.2, np.median(ratios)
    assert 0.8 <= ratios.mean() <= 1.2, ratios.mean()


def test_ivf_pq_recall_vs_exact(spark):
    """IVFADC (cells + ADC + re-rank) keeps recall@10 well above the
    unpruned floor: nprobe=4 of 8 cells halves the scan, and the exact
    re-rank recovers ordering lost to 0.5-bit/dim quantization."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import (
        ivf_pq_topk,
        train_kmeans,
        train_pq,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _, centroids = train_kmeans(emb, k=8, iters=3)
    books = train_pq(emb, m=8, ksub=16, iters=3, sample_n=2048)
    queries = emb.orderBy("vec_id").limit(10)
    approx = ivf_pq_topk(queries, emb, books, centroids, k=10, nprobe=4, rerank=5).collect()

    rows = emb.select("vec_id", F.col("embedding").cast("array<double>")).collect()
    ids = np.asarray([r[0] for r in rows])
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]

    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = []
    for qid, approx_ids in got.items():
        qv = X[ids == qid][0]
        d2 = ((X - qv[None, :]) ** 2).sum(axis=1)
        d2[ids == qid] = np.inf
        exact10 = set(ids[np.argsort(d2, kind="stable")[:10]].tolist())
        recalls.append(len(exact10 & approx_ids) / 10.0)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"IVFADC recall@10 too low: {mean_recall}"

    # vectorized cell assignment (numpy kernel, zero centroid literals)
    # returns row-identical results to the literal-compiled default
    approx_v = ivf_pq_topk(
        queries, emb, books, centroids, k=10, nprobe=4, rerank=5,
        assign_strategy="vectorized",
    ).collect()
    assert sorted(map(tuple, approx_v)) == sorted(map(tuple, approx))

    import pytest

    with pytest.raises(ValueError):
        ivf_pq_topk(
            queries, emb, books, centroids, assign_strategy="bogus"
        )


def test_dhash_planted_near_dups(spark):
    """Perceptual dedup semantics: a copy with a few flipped pixels sits
    within Hamming<=3 of its original; structurally different patterns
    do not — and the banded pair search finds exactly the close pairs."""
    from gmail_etl_spark.operators.multimodal import (
        attach_dhash,
        dhash_halves,
        dhash_near_dup_pairs,
        encode_png,
    )

    w, h = 32, 16

    def pattern_png(seed: int, tweak: bool = False) -> bytes:
        px = bytearray(
            ((x * 11 + y * 5 + seed * 41) % 256)
            for y in range(h)
            for x in range(w)
            for _ in range(3)
        )
        if tweak:
            # flip one sampled cell hard enough to change ~1 comparison
            for c in range(3):
                px[(3 * w + 5) * 3 + c] = 255
        return encode_png(w, h, 3, bytes(px))

    base = dhash_halves(pattern_png(1))
    near = dhash_halves(pattern_png(1, tweak=True))
    far = dhash_halves(pattern_png(9))
    ham = lambda a, b: bin((a[0] ^ b[0])).count("1") + bin((a[1] ^ b[1])).count("1")
    assert ham(base, near) <= 3, ham(base, near)
    assert ham(base, far) > 3, ham(base, far)

    rows = [(1, pattern_png(1)), (2, pattern_png(1, tweak=True)), (3, pattern_png(9))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = dhash_near_dup_pairs(attach_dhash(media), max_hamming=3).collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(1, 2)}


def test_compression_ratio_discriminates(spark):
    """Entropy proxy sanity: repetitive text compresses far below
    natural-ish prose, which compresses below hash-noise text."""
    from gmail_etl_spark.operators.text import attach_compression_ratio

    rows = [
        (1, "spam " * 200),
        (2, "the quick brown fox jumps over the lazy dog and keeps going " * 20),
        (3, " ".join(f"{i*2654435761 % 99999999:x}" for i in range(200))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["ratio"] for r in attach_compression_ratio(df).collect()}
    assert got[1] < 0.05, got
    assert got[1] < got[2] < got[3], got
    assert got[3] > 0.5, got


def test_hll_sketch_rollup_accuracy(spark):
    """Sketch-union distinct counts stay within HLL error bounds of the
    exact per-hour numbers (lgK=12 → ~1.6% typical relative error)."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    approx = {
        r["hour_start"]: r["approx_users"]
        for r in CATALOG["q169_hll_sketch_rollup"].builder(spark, SF_DIR).collect()
    }
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from gmail_etl_spark.plans.catalog import load_table

    e = load_table(spark, SF_DIR, "events")
    exact = {
        r["hour_start"]: r["n"]
        for r in e.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("hour_start")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for h, a in approx.items():
        rel = abs(a - exact[h]) / max(exact[h], 1)
        assert rel < 0.05, (h, a, exact[h], rel)


# ---------------------------------------------------------------------------
# sketches: Misra–Gries heavy hitters + native datasketches gates
# ---------------------------------------------------------------------------


def test_misra_gries_superset_property(spark):
    """Adversarial skew: with capacity k, every item whose global count
    exceeds n/(k+1) must survive the per-partition summary union — the
    guarantee q178 turns into an exact query."""
    import pandas as pd

    from gmail_etl_spark.operators.sketches import misra_gries_candidates

    # Zipf-ish head + a long uniform tail, shuffled deterministically
    # across 8 partitions so heavy items straddle partition boundaries
    rows = []
    for i in range(20):
        rows += [f"hot{i:02d}"] * (400 - 15 * i)
    for i in range(5000):
        rows.append(f"cold{i:05d}")
    pdf = pd.DataFrame({"token": rows})
    pdf["ord"] = [(i * 2654435761) % len(rows) for i in range(len(rows))]
    pdf = pdf.sort_values("ord")
    df = spark.createDataFrame(pdf[["token"]]).repartition(8)
    n = len(rows)
    k = 100
    survivors = {
        r["token"] for r in misra_gries_candidates(df, "token", k).collect()
    }
    true_heavy = {
        t for t, c in pd.Series(rows).value_counts().items() if c > n / (k + 1)
    }
    assert true_heavy, "test needs a non-empty heavy set"
    missing = true_heavy - survivors
    assert not missing, f"MG superset guarantee violated: {missing}"


def test_exact_heavy_hitters_matches_bruteforce(spark):
    import pandas as pd

    from gmail_etl_spark.operators.sketches import exact_heavy_hitters

    rows = ["alpha"] * 300 + ["beta"] * 120 + [f"t{i:04d}" for i in range(900)]
    pdf = pd.DataFrame({"token": rows}).sample(frac=1.0, random_state=7)
    df = spark.createDataFrame(pdf).repartition(4)
    got = exact_heavy_hitters(df, "token", denom=20).toPandas()
    n = len(rows)
    brute = (
        pd.Series(rows)
        .value_counts()
        .loc[lambda s: s * 20 >= n]
        .rename_axis("token")
        .reset_index(name="cnt")
    )
    assert list(got["token"]) == list(brute["token"])
    assert list(got["cnt"]) == list(brute["cnt"])


def test_q176_kll_rank_error_vs_exact(spark):
    """The merged KLL estimates must sit within ±3% rank error of the
    exact per-hour quantiles (k=400 guarantees ~0.8%; the gate leaves
    slack for tiny windows)."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    est = CATALOG["q176_kll_quantile_rollup"].builder(spark, SF_DIR).toPandas()
    assert len(est) > 0
    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("long")
        .alias("hour_start"),
        F.col("value").cast("double").alias("v"),
    )
    exact = e.toPandas()
    for _, row in est.iterrows():
        vals = exact.loc[exact.hour_start == row.hour_start, "v"]
        assert len(vals) == row.n_events
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            rank = (vals <= row[col]).mean()
            assert abs(rank - q) <= 0.03 + 1.0 / len(vals), (
                row.hour_start, col, rank, q,
            )


def test_q177_theta_estimates_vs_exact(spark):
    """Theta set-algebra estimates within 5% relative error of the
    exact per-source distinct-shingle cardinalities and overlaps
    (lgK=14 ⇒ ~0.8% RSE; sf fixtures sit far below saturation)."""
    from gmail_etl_spark.operators.dedup import shingles
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    est = CATALOG["q177_theta_source_overlap"].builder(spark, SF_DIR).toPandas()
    assert len(est) > 0
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = d.select(
        "source", F.explode(shingles(F.col("text"), 3)).alias("shingle")
    ).distinct()
    sets: dict = {}
    for r in sh.collect():
        sets.setdefault(r["source"], set()).add(r["shingle"])
    for _, row in est.iterrows():
        A, B = sets[row.source_a], sets[row.source_b]
        for got, true in (
            (row.est_a, len(A)),
            (row.est_b, len(B)),
            (row.est_union, len(A | B)),
            (row.est_common, len(A & B)),
            (row.est_only_a, len(A - B)),
        ):
            assert abs(got - true) <= max(2, 0.05 * true), (
                row.source_a, row.source_b, got, true,
            )


def test_q181_kcore_converged_at_unroll_depth(spark):
    """The fixed 4-round unroll must reach the true k-core fixpoint on
    the fixtures (docstring claim): one more peel round removes
    nothing."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from gmail_etl_spark.plans.dedup_queries import _KCORE_K

    _ensure_loaded()
    # sf0.01: the smallest fixture whose 30-core is non-empty (at
    # sf0.001 part degrees sit far below k and the core is empty —
    # correctly, but vacuously for this test)
    res = CATALOG["q181_kcore_peel"].builder(spark, "/root/testdata/sf0.01").toPandas()
    assert len(res) > 0
    # every surviving node already has degree >= k: a further round is a no-op
    assert (res["degree"] >= _KCORE_K).all(), res[res["degree"] < _KCORE_K]


def test_cms_decode_bitexact_and_bounds(spark):
    """The Python CMS decoder must reproduce the JVM sketch exactly:
    every table row sums to totalCount, and probes of planted items
    return their exact counts when the width is collision-free; on the
    real q183 run, estimates never undercount and overcounts respect
    eps·N with at most one 1%-tail violation across the probe set."""
    from gmail_etl_spark.operators.sketches import (
        cms_probe_longs,
        decode_count_min_sketch,
    )
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded

    # planted distribution, wide sketch → estimates exactly equal truth
    vals = [(1,)] * 5 + [(2,)] * 3 + [(7,)] * 1 + [(123456789,)] * 4
    df = spark.createDataFrame(vals, "c long")
    raw = bytes(
        df.select(
            F.expr(
                "count_min_sketch(c, cast(0.001 as double),"
                " cast(0.99 as double), 7)"
            ).alias("sk")
        ).head()["sk"]
    )
    total, depth, width, hash_a, table = decode_count_min_sketch(raw)
    assert total == len(vals)
    assert all(int(row.sum()) == total for row in table)
    est = cms_probe_longs(raw, [1, 2, 7, 123456789, 999])
    assert est == {1: 5, 2: 3, 7: 1, 123456789: 4, 999: 0}

    _ensure_loaded()
    res = CATALOG["q183_cms_probe_counts"].builder(spark, SF_DIR).toPandas()
    assert len(res) == 25
    assert (res["overcount"] >= 0).all()  # CMS never undercounts
    n_total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    viol = int((res["overcount"] > 0.001 * n_total).sum())
    assert viol <= 1, res[res["overcount"] > 0.001 * n_total]


def test_pca_matches_numpy_and_is_orthonormal(spark):
    """Distributed sufficient-statistics PCA must agree with numpy's
    eigendecomposition of the same covariance computed directly on the
    collected corpus: eigenvalue spectrum to 1e-8 relative, components
    to 1e-6 after sign canonicalization, basis exactly orthonormal,
    explained-variance ratios decreasing."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import pca_fit, pca_project

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    comps, ratios, mean = pca_fit(emb, "embedding", k=4)
    X = np.asarray([r["embedding"] for r in emb.orderBy("vec_id").collect()],
                   dtype=np.float64)
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / (len(X) - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    ref = evecs[:, order].T
    for i in range(4):
        j = int(np.abs(ref[i]).argmax())
        if ref[i][j] < 0:
            ref[i] = -ref[i]
    assert np.allclose(mean, mu, atol=1e-9)
    assert np.allclose(comps, ref, atol=1e-6), np.abs(comps - ref).max()
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    assert all(ratios[i] >= ratios[i + 1] - 1e-12 for i in range(3))
    want = (evals[order] / evals.sum())
    assert np.allclose(ratios, want, rtol=1e-8)
    # projection round-trip: distributed projection equals numpy's
    proj = pca_project(emb, "vec_id", "embedding", comps, mean)
    got = {r["vec_id"]: r["proj"] for r in proj.collect()}
    P = (X - mu) @ np.asarray(comps).T
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").collect()]
    for row_i, vid in enumerate(ids):
        assert np.allclose(got[vid], P[row_i], atol=1e-9)


def test_q191_cube_merge_equals_direct_sketches(spark):
    """Every coarser grain of the sketch cube must estimate EXACTLY what
    a one-shot sketch over that grain's raw rows estimates — HLL union
    is register-wise max, so merge order and grouping cannot change the
    state."""
    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded, load_table

    _ensure_loaded()
    got = CATALOG["q191_hll_cube_users"].builder(spark, SF_DIR).toPandas()
    e = load_table(spark, SF_DIR, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("long").alias("day"),
        "user_id",
    )
    def direct(group_cols):
        agg = (
            e.groupBy(*group_cols) if group_cols else e.groupBy()
        ).agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
            .cast("long")
            .alias("approx_users")
        )
        return agg.toPandas()

    # grand total
    tot = got[got.event_type.isna() & got.day.isna()]
    assert len(tot) == 1
    assert int(tot.approx_users.iloc[0]) == int(direct([]).approx_users.iloc[0])
    # by type
    bt = got[got.event_type.notna() & got.day.isna()].set_index("event_type")
    ref = direct(["event_type"]).set_index("event_type")
    assert bt["approx_users"].astype(int).to_dict() == ref["approx_users"].astype(int).to_dict()
    # by day
    bd = got[got.event_type.isna() & got.day.notna()]
    refd = direct(["day"])
    assert dict(zip(bd.day.astype(int), bd.approx_users.astype(int))) == dict(
        zip(refd.day.astype(int), refd.approx_users.astype(int))
    )
    # sanity: true distinct within 2% at lgK=12
    truth = e.select("user_id").distinct().count()
    assert abs(int(tot.approx_users.iloc[0]) - truth) <= max(2, 0.02 * truth)


def test_persisted_ivf_index_roundtrip(spark, tmp_path):
    """save_ivf_index → query_ivf_index: results must equal the same
    nprobe IVF search computed directly (train + assign + rank in one
    job), and the probe scan must prune partitions (PartitionFilters on
    cluster), proving the layout IS the index."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.similarity import (
        cosine,
        query_ivf_index,
        save_ivf_index,
        train_kmeans,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    save_ivf_index(spark, emb, path, k_cells=8, iters=3)

    queries = emb.filter(F.col("vec_id") < 6)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in query_ivf_index(spark, path, queries, k=3, nprobe=2).collect()
    }

    # direct computation with the same trained quantizer
    assignments, centroids = train_kmeans(emb, k=8, iters=3)
    base = emb.join(assignments, emb["vec_id"] == assignments["id"]).select(
        emb["vec_id"], emb["embedding"].cast("array<double>").alias("v"),
        assignments["cluster"],
    )

    def dist2(vec, c):
        return F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in c]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, d: acc + d)

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"))
    probes = q.select(
        "query_id", "q_vec",
        F.explode(F.slice(F.array_sort(F.array(*[
            F.struct(F.round(dist2(F.col("q_vec"), c), 9).alias("d"),
                     F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)])), 1, 2)["cell"].alias("cells")
        ).alias("cluster"))
    joined = probes.join(base, "cluster").filter(
        F.col("query_id") != F.col("vec_id"))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    exp_df = (joined.select("query_id", F.col("vec_id").alias("neighbor_id"),
                            F.round(cosine(F.col("q_vec"), F.col("v")), 6).alias("sim"))
              .withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 3))
    exp = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in exp_df.collect()}
    assert got == exp and len(got) == 18

    # partition pruning fires on the probe scan
    probe_set = [0, 1]
    scan = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cluster").isin(probe_set))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:200]


def test_query_ivf_probe_strategies_identical(spark, tmp_path):
    """probe_strategy='vectorized' (driver-side numpy cell pick, zero
    centroid literals in the plan) returns row-identical results to the
    default expr probe — same (rounded distance, cell) probe order."""
    import pytest
    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.similarity import (
        query_ivf_index,
        save_ivf_index,
    )
    from gmail_etl_spark.synthetic import planted_embedding_corpus

    emb = planted_embedding_corpus(spark, 3000, dim=16, n_centers=12).select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf_probe")
    save_ivf_index(
        spark, emb, path, k_cells=12, iters=2, assign_strategy="vectorized"
    )
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    got_e = query_ivf_index(
        spark, path, queries, k=4, nprobe=3, probe_strategy="expr"
    )
    got_v = query_ivf_index(
        spark, path, queries, k=4, nprobe=3, probe_strategy="vectorized"
    )
    rows_e = sorted(map(tuple, got_e.collect()))
    rows_v = sorted(map(tuple, got_v.collect()))
    assert rows_e == rows_v and len(rows_e) == queries.count() * 4

    # the numpy within-cell ranking kernel returns the same rows as the
    # join/codegen ranking over the same probed candidate set
    got_r = query_ivf_index(
        spark, path, queries, k=4, nprobe=3,
        probe_strategy="vectorized", rank_strategy="vectorized",
    )
    rows_r = sorted(map(tuple, got_r.collect()))
    assert rows_r == rows_e

    # empty query set degrades to an empty frame on both rank paths
    none = queries.limit(0)
    assert query_ivf_index(
        spark, path, none, k=4, nprobe=3, rank_strategy="vectorized"
    ).count() == 0
    assert query_ivf_index(spark, path, none, k=4, nprobe=3).count() == 0

    with pytest.raises(ValueError):
        query_ivf_index(spark, path, queries, probe_strategy="bogus")
    with pytest.raises(ValueError):
        query_ivf_index(spark, path, queries, rank_strategy="bogus")


def test_query_ivf_bounded_queries_guard_and_auto_route(spark, tmp_path):
    """VERDICT r6 #4/#5.  (a) The vectorized paths collect the query
    set to the driver 'small by contract' — the contract is now
    ENFORCED: a corpus-sized query frame raises instead of silently
    collecting, and the check itself is bounded (limit(max+1) count).
    (b) rank_strategy='auto' encodes the measured DEVNOTES crossover:
    queries×nprobe >= k_cells → the probe sets union to ~every cell, so
    the matmul kernel wins and auto picks it; below the crossover the
    pruned join wins and auto picks expr.  Both routes must stay
    row-identical to the explicit strategies."""
    import pytest
    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.similarity import (
        query_ivf_index,
        save_ivf_index,
    )
    from gmail_etl_spark.synthetic import planted_embedding_corpus

    emb = planted_embedding_corpus(spark, 2000, dim=16, n_centers=12).select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf_guard")
    save_ivf_index(
        spark, emb, path, k_cells=12, iters=2, assign_strategy="vectorized"
    )

    # (a) guard: corpus-sized query frame + any vectorized strategy → raise
    for kwargs in (
        {"rank_strategy": "vectorized"},
        {"probe_strategy": "vectorized"},
    ):
        with pytest.raises(ValueError, match="query set has >"):
            query_ivf_index(
                spark, path, emb, k=3, nprobe=2, max_queries=50, **kwargs
            )
    # fully-distributed expr/expr never collects queries — no guard
    n = query_ivf_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < 60),
        k=3,
        nprobe=2,
        max_queries=50,
    ).count()
    assert n == 60 * 3
    # max_queries=None disables the guard
    assert (
        query_ivf_index(
            spark,
            path,
            emb.filter(F.col("vec_id") < 60),
            k=3,
            nprobe=2,
            rank_strategy="vectorized",
            max_queries=None,
        ).count()
        == 60 * 3
    )

    # (b) auto-routing: 2 queries × nprobe 3 = 6 < 12 cells → expr path
    # (no python kernel in the plan); 5 × 3 = 15 >= 12 → matmul path.
    def plan_of(df) -> str:
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    q_small = emb.filter(F.col("vec_id") < 2)
    q_large = emb.filter(F.col("vec_id") < 5)
    auto_small = query_ivf_index(
        spark, path, q_small, k=4, nprobe=3, rank_strategy="auto"
    )
    auto_large = query_ivf_index(
        spark, path, q_large, k=4, nprobe=3, rank_strategy="auto"
    )
    assert "MapInPandas" not in plan_of(auto_small)
    assert "MapInPandas" in plan_of(auto_large)
    # both routes return the explicit-strategy answer, row for row
    exp_small = query_ivf_index(
        spark, path, q_small, k=4, nprobe=3, rank_strategy="expr"
    )
    exp_large = query_ivf_index(
        spark, path, q_large, k=4, nprobe=3, rank_strategy="expr"
    )
    assert sorted(map(tuple, auto_small.collect())) == sorted(
        map(tuple, exp_small.collect())
    )
    assert sorted(map(tuple, auto_large.collect())) == sorted(
        map(tuple, exp_large.collect())
    )


def test_minhash_verify_strategy_independence(spark):
    """broadcast_verify is a physical-plan knob ONLY: the broadcast and
    shuffle_hash verify paths must emit the identical pair set with
    identical jaccard values — the machine-checked claim behind using
    broadcast in the 100k-doc bench while corpus-scale callers keep the
    default."""
    d = _docs(spark, 120).select("doc_id", "text")
    near = d.select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 2, 100000)).alias("text"),
    )
    corpus = d.unionByName(near)
    out = {}
    for bv in (False, True):
        out[bv] = {
            (r["a_id"], r["b_id"]): round(r["jaccard"], 9)
            for r in minhash_lsh_pairs(
                corpus, "doc_id", "text", threshold=0.3, broadcast_verify=bv
            ).collect()
        }
    assert out[False] == out[True] and len(out[True]) > 0


def test_verify_stage_single_intersect_plan(spark):
    """Mechanism lock for the r13 single-intersect verify: the optimized
    plan of both Jaccard verify joins must evaluate ``array_intersect``
    exactly ONCE, and never inside a join condition.  Without the
    _score_barrier the threshold filter is pushed into the join
    condition and the non-cheap intersect is cloned — the committed r12
    plan paid up to 4 evaluations per verified pair (see
    plans/r12/near_dedup_pairs_subplan_after.txt:140-143 and
    tools/exp_verify_r13.py for the 8-core A/B: med 0.871 -> 0.541 s)."""
    from gmail_etl_spark.operators.dedup import jaccard_pairs_prefix

    d = _docs(spark, 80).select("doc_id", "text")
    for df in (
        # checkpoint_sigs=False keeps the builder lazy — this test reads
        # the plan, it never executes the corpus pass
        minhash_lsh_pairs(
            d, "doc_id", "text", threshold=0.3, checkpoint_sigs=False
        ),
        jaccard_pairs_prefix(d, "doc_id", "text", 0.5),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("array_intersect") == 1, plan
        join_lines = [l for l in plan.splitlines() if "Join" in l]
        assert join_lines and not any("array_intersect" in l for l in join_lines), plan


def test_score_barrier_is_value_identity(spark):
    """_score_barrier must be a bit-exact pass-through on every double
    and on NULL, with no domain precondition: [0, 1] Jaccard,
    [-1-eps, 1+eps] cosine, scores below -2 down to -Infinity, -0.0
    (sign kept), NULL (stays NULL) and NaN — so no threshold lets the
    rand draw decide a row."""
    import math

    from gmail_etl_spark.operators.dedup import _score_barrier

    vals = [0.0, 1.0, 0.5, 1e-300, -1.0, -1.0000000000000002, 1.0000000000000002, -2.0,
            None, -2.5, -5.0, -1e300, float("-inf"), float("inf"), -0.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        "x", _score_barrier(F.col("x")).alias("b")
    )
    for r in df.collect():
        if r["x"] is None:
            assert r["b"] is None, r
        else:
            assert r["b"] == r["x"], r
            assert math.copysign(1, r["b"]) == math.copysign(1, r["x"]), r
    low = df.filter(F.col("b") >= -10.0).select("x").collect()
    assert sorted(r["x"] for r in low) == sorted(v for v in vals if v is not None and v >= -10)
    nan = (
        spark.sql("select cast('NaN' as double) as x")
        .select(_score_barrier(F.col("x")).alias("b"))
        .collect()[0]["b"]
    )
    assert nan != nan  # stays NaN


def test_capped_pair_candidates_complete_mode_exact(spark):
    """complete=True must emit EVERY i<j pair of an oversized bucket —
    the contract the exact callers (jaccard_pairs_prefix pigeonhole,
    dhash multi-index) rely on — at chunk boundaries and odd sizes,
    while the default mode on the same input may drop cross-chunk
    pairs but must stay a subset."""
    from gmail_etl_spark.operators.dedup import capped_pair_candidates

    for n, cap in [(10, 4), (9, 4), (8, 4), (5, 2), (300, 7), (4, 4), (2, 4)]:
        buckets = spark.createDataFrame(
            [(0, 7, list(range(n)))], "band int, bucket long, ids array<bigint>"
        )
        got = {
            (r.a_id, r.b_id)
            for r in capped_pair_candidates(buckets, cap, complete=True).collect()
        }
        want = {(i, j) for i in range(n) for j in range(i + 1, n)}
        assert got == want, (n, cap, len(got), len(want))
        capped = {
            (r.a_id, r.b_id)
            for r in capped_pair_candidates(buckets, cap).collect()
        }
        assert capped <= want


def test_jaccard_pairs_prefix_exact_under_hot_token(spark):
    """A hot shared prefix token larger than the chunk cap must not
    lose pairs: jaccard_pairs_prefix output == jaccard_pairs output on
    a corpus where qualifying pairs share exactly one (hot) token."""
    from gmail_etl_spark.operators.dedup import jaccard_pairs, jaccard_pairs_prefix

    # every doc: {common, xK, yK}; pair (2k, 2k+1) shares {common, xk}
    # -> jaccard 0.5; 'common' is in every prefix (df-rarity puts per-
    # pair tokens first, but with 3 tokens and t=0.5 the prefix keeps 2)
    rows = []
    for k in range(60):
        rows.append((2 * k, f"common x{k} y{2 * k}"))
        rows.append((2 * k + 1, f"common x{k} y{2 * k + 1}"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.a_id, r.b_id, round(r.jaccard, 6))
        for r in jaccard_pairs(d, "doc_id", "text", 0.5).collect()
    }
    prefix = {
        (r.a_id, r.b_id, round(r.jaccard, 6))
        for r in jaccard_pairs_prefix(d, "doc_id", "text", 0.5).collect()
    }
    assert exact == prefix and len(exact) >= 60


def test_lsh_bands_validation(spark):
    """bands > n_hashes (rows_per_band 0: whole corpus in one bucket
    per band) and non-divisor bands (silently dropped hashes) must
    raise, in both the MinHash and hyperplane paths."""
    import pytest

    from gmail_etl_spark.operators.dedup import minhash_lsh_pairs
    from gmail_etl_spark.operators.similarity import hyperplane_lsh_pairs

    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):
        minhash_lsh_pairs(d, "doc_id", "text", n_hashes=32, bands=64).collect()
    with pytest.raises(ValueError):
        minhash_lsh_pairs(d, "doc_id", "text", n_hashes=32, bands=5).collect()
    e = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.1])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        hyperplane_lsh_pairs(e, dim=2, n_planes=16, bands=5).collect()


def test_langid_unmatched_doc_gets_null_row(spark):
    """A test doc with no bigram overlap against any profile must
    surface with a null prediction, not vanish."""
    from gmail_etl_spark.operators.text import langid_classify

    train = spark.createDataFrame(
        [("en", 100, "the quick brown fox"), ("fr", 101, "le renard brun")],
        "lang string, doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(1, "the brown"), (2, "####"), (3, "x")],  # 2: unseen bigrams; 3: 1 char
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.predicted_lang, r.score) for r in langid_classify(train, test).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1][0] == "en"
    assert out[2] == (None, None)
    assert out[3] == (None, None)


def test_heavy_hitters_long_column(spark):
    """Heavy-hitter detection over a non-string item column (the
    mapInPandas schema must follow the input type)."""
    from pyspark.sql import functions as F2

    from gmail_etl_spark.operators.sketches import exact_heavy_hitters

    items = spark.range(1000).select(
        F2.when(F2.col("id") < 600, F2.lit(7)).otherwise(F2.col("id")).alias("item")
    )
    out = exact_heavy_hitters(items, "item", denom=10)
    rows = out.collect()
    assert [r.item for r in rows] == [7]
    assert rows[0].cnt == 600


def test_pack_sequences_string_ids(spark):
    """pack_sequences with string ids: the applyInPandas schema follows
    the caller's id type."""
    from pyspark.sql import functions as F2

    from gmail_etl_spark.operators.sampling import pack_sequences

    d = spark.range(50).select(
        F2.concat(F2.lit("doc-"), F2.col("id")).alias("doc_uuid"),
        (F2.pmod(F2.col("id"), 7) + 1).alias("n_tok"),
    )
    out = pack_sequences(d, "doc_uuid", "n_tok", budget=16)
    rows = out.collect()
    assert len(rows) == 50 and all(isinstance(r.item_id, str) for r in rows)


def test_salted_join_rejects_small_side_preserving_types(spark):
    """right/full outer joins would emit unmatched small-side rows once
    per salt replica — they must raise."""
    import pytest

    from gmail_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10), (1, 11)], "k long, ts long")
    small = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    inner = salted_join(big, small, key="k", salt_from="ts", n=4).collect()
    assert len(inner) == 2
    left_rows = salted_join(big, small, key="k", salt_from="ts", n=4, how="left").collect()
    assert len(left_rows) == 2
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, key="k", salt_from="ts", n=4, how=how)


def test_two_phase_agg_small_values_not_quantized(spark):
    """Sub-cent values must survive the decimal accumulation (the old
    decimal(18,2) partial quantized 0.004 to zero)."""
    from pyspark.sql import functions as F2

    from gmail_etl_spark.operators.skew import two_phase_agg

    d = spark.range(1000).select(
        F2.lit("k").alias("key"), F2.lit(0.004).alias("value"), F2.col("id").alias("salt_src")
    )
    row = two_phase_agg(d, key="key", value="value", salt_from="salt_src", n=8).collect()[0]
    assert abs(row.sum_value - 4.0) < 1e-6
    assert row.n_rows == 1000


def test_cosine_topk_empty_and_zero_norm_queries(spark):
    """Empty query set returns an empty frame (schema intact) instead
    of a driver-side numpy error; a zero-norm query ranks by sim 0 with
    deterministic id order instead of NaN-first."""
    from pyspark.sql import functions as F2

    from gmail_etl_spark.operators.similarity import cosine_topk_vectorized

    emb = spark.range(20).select(
        F2.col("id").alias("vec_id"),
        F2.array(F2.col("id").cast("double"), F2.lit(1.0)).alias("embedding"),
    )
    empty = cosine_topk_vectorized(emb.filter(F2.col("vec_id") < 0), emb, k=3)
    assert empty.count() == 0
    assert set(empty.columns) == {"query_id", "neighbor_id", "sim", "rank"}
    zq = spark.createDataFrame([(99, [0.0, 0.0])], "vec_id long, embedding array<double>")
    out = cosine_topk_vectorized(zq, emb, k=3).collect()
    assert [r.neighbor_id for r in out] == [0, 1, 2]  # id-ordered at sim 0
    assert all(r.sim == 0.0 for r in out)


def test_jaccard_pairs_prefix_hot_bucket_over_cap(spark):
    """End-to-end exactness through an actually-oversized posting list:
    1100 docs all sharing one hot token (bucket > the 1024 chunk cap,
    so it splits) — every pair qualifies at t=1/3 and complete
    expansion must emit all C(1100,2) of them; the pre-fix chunk split
    would have surfaced only the within-chunk half."""
    from pyspark.sql import functions as F2

    from gmail_etl_spark.operators.dedup import jaccard_pairs_prefix

    n = 1100
    d = spark.range(n).select(
        F2.col("id").alias("doc_id"),
        F2.concat(F2.lit("hot y"), F2.col("id")).alias("text"),
    )
    got = jaccard_pairs_prefix(d, "doc_id", "text", 1.0 / 3).count()
    assert got == n * (n - 1) // 2
