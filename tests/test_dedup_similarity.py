"""Dedup + similarity operator tests: exact, Jaccard, MinHash-LSH, SimHash,
embedding cosine, brute-force and LSH ANN."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hierarchical_to_relational_spark.operators import dedup as dd
from hierarchical_to_relational_spark.operators import similarity as sim


BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
DOCS = [
    (1, BASE),
    (2, BASE),  # exact dup of 1
    (3, BASE.replace("lazy", "sleepy")),  # near dup of 1
    (4, "completely unrelated text about spark shuffles and partitions at scale"),
    (5, "another unrelated document mentioning merge trees and snapshots"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_dedup_exact(spark):
    out = dd.dedup_exact(_docs(spark), "doc_id", ["text"])
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[1] == 2      # doc 2 collapsed into 1 (min id kept)
    assert 2 not in rows
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1


def test_ngram_jaccard_pairs(spark):
    pairs = dd.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", k=5, threshold=0.5)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical
    assert (1, 3) in got and (2, 3) in got  # near dup
    assert all(p not in got for p in [(1, 4), (1, 5), (4, 5)])
    j = {(r["id1"], r["id2"]): r["jaccard"] for r in pairs.collect()}
    assert j[(1, 2)] == 1.0


def test_minhash_lsh_candidates(spark):
    cands = dd.minhash_lsh_pairs(_docs(spark), "doc_id", "text", n_hashes=16, bands=4, k=5)
    got = {(r["id1"], r["id2"]) for r in cands.collect()}
    assert (1, 2) in got  # identical docs always collide in every band
    assert (1, 3) in got  # high-jaccard pair lands in ≥1 band w.h.p. (deterministic here)
    assert (4, 5) not in got


def test_minhash_then_verify_pipeline(spark):
    """The scale pattern: LSH candidates → exact Jaccard verification."""
    docs = _docs(spark)
    cands = dd.minhash_lsh_pairs(docs, "doc_id", "text")
    verified = dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).join(
        cands, ["id1", "id2"], "left_semi"
    )
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_simhash_fingerprint(spark):
    out = dd.simhash_fingerprint(_docs(spark), "doc_id", "text")
    rows = {r["doc_id"]: r["simhash"] for r in out.collect()}
    assert rows[1] == rows[2]
    assert len(rows[1]) == 16 and set(rows[1]) <= {"0", "1"}
    ham_13 = sum(a != b for a, b in zip(rows[1], rows[3]))
    ham_14 = sum(a != b for a, b in zip(rows[1], rows[4]))
    assert ham_13 < ham_14  # near dup closer than unrelated


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_embedding_near_dup(spark):
    out = dd.embedding_near_dup_pairs(_vectors(spark), "vec_id", "embedding",
                                      threshold=0.95, lsh_block=True)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_embedding_near_dup_requires_explicit_strategy(spark):
    """No silent default: omitting verify_all_pairs / lsh_block / block_col
    must raise — an approximate pair set quietly replacing an exact one
    (or a cross join at corpus scale) is the bug class this blocks."""
    import pytest

    with pytest.raises(ValueError, match="candidate strategy"):
        dd.embedding_near_dup_pairs(_vectors(spark), "vec_id", "embedding")


def test_brute_force_topk(spark):
    v = _vectors(spark)
    out = sim.brute_force_topk(v.where(F.col("vec_id") == 1), v, k=2)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert rows == [(1, 2), (2, 5)]


def test_lsh_topk_subset_of_brute(spark):
    """LSH results are a subset of brute-force candidates with ranks
    consistent on the candidates it does see; identical-direction vectors
    share a bucket."""
    v = _vectors(spark)
    out = sim.lsh_topk(v.where(F.col("vec_id") == 1), v, k=3, n_planes=2)
    got = {r["neighbor_id"] for r in out.collect()}
    assert 2 in got  # near-identical vector must share the sign bucket


def test_zero_norm_vectors_never_near_dup(spark):
    """cosine() yields NULL (not NaN) for zero-norm vectors: Spark orders
    NaN above all numbers, so an unguarded 0/0 would make every zero vector
    a 'near dup' of everything."""
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])]
    v = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = dd.embedding_near_dup_pairs(v, "vec_id", "embedding",
                                      threshold=0.9, verify_all_pairs=True)
    assert out.collect() == []


def test_embedding_near_dup_lsh_block_is_equi_join(spark):
    """The lsh_block path blocks on the hyperplane-LSH bucket: the physical
    plan must contain an equi-join, NOT a cartesian/nested-loop product —
    at corpus scale the unblocked self-join is the footgun, which is why
    the strategy choice is mandatory and explicit."""
    v = _vectors(spark)
    plan = dd.embedding_near_dup_pairs(v, "vec_id", "embedding", lsh_block=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan

    all_pairs = dd.embedding_near_dup_pairs(v, "vec_id", "embedding",
                                            threshold=0.95, verify_all_pairs=True)
    blocked = dd.embedding_near_dup_pairs(v, "vec_id", "embedding",
                                          threshold=0.95, lsh_block=True)
    exact = {(r["id1"], r["id2"]) for r in all_pairs.collect()}
    approx = {(r["id1"], r["id2"]) for r in blocked.collect()}
    assert approx <= exact and (1, 2) in approx  # near-identical pair survives blocking


def _embeddings(spark):
    import os
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))


@pytest.mark.parametrize("assign", ["join", "arrow"])
def test_ivf_recall_contract(spark, assign):
    """The ANN recall contract: IVF with (16 cells, 4 probes) must reach
    recall@10 >= 0.6 vs brute force on the embeddings fixture, and probing
    ALL cells must recover recall 1.0 (the knob degrades gracefully to
    exact search). Both corpus assignments give the same rows, and an
    unknown one is rejected before any Spark job runs."""
    emb = _embeddings(spark)
    queries = emb.where(F.col("vec_id") % 50 == 0)  # 10 queries
    exact = sim.brute_force_topk(queries, emb, k=10).cache()

    approx = sim.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=4, assign=assign)
    r = sim.recall_at_k(approx, exact, k=10)
    assert r >= 0.6, f"IVF recall@10 = {r:.3f} < 0.6"

    full = sim.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=16, assign=assign)
    assert sim.recall_at_k(full, exact, k=10) == 1.0

    got = {tuple(r) for r in approx.collect()}
    assert got
    if assign == "arrow":
        join = sim.ivf_topk(queries, emb, k=10, n_cells=16, n_probe=4, assign="join")
        assert got == {tuple(r) for r in join.collect()}

    # no frames at all: the check must come before anything reads them
    with pytest.raises(ValueError, match="unknown assign strategy 'bogus'"):
        sim.ivf_topk(None, None, k=10, assign="bogus")


def test_ivf_training_scans_sample_not_corpus(spark):
    """Centroid TRAINING must only ever read the deterministic
    xxhash64-sample: poison every non-sample vector with huge values that
    would blow any mean they participate in — the trained centroids must
    be identical to training on the clean sample alone. (The one
    full-corpus pass is the assignment in ivf_topk, not training.)"""
    import math

    n, dim, n_cells, samp_n = 400, 8, 4, 100
    rows = [(i, [math.sin(i * 13.7 + d) for d in range(dim)]) for i in range(n)]
    base = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    # the sample = the samp_n ids with the smallest xxhash64(seed=0, id)
    sample_ids = {
        r["vec_id"]
        for r in base.select("vec_id", F.xxhash64(F.lit(0), F.col("vec_id")).alias("h"))
        .orderBy("h").limit(samp_n).collect()
    }
    poisoned = base.withColumn(
        "embedding",
        F.when(F.col("vec_id").isin(sample_ids), F.col("embedding"))
        .otherwise(F.array(*[F.lit(1e15)] * dim)),
    )
    clean_sample = base.where(F.col("vec_id").isin(sample_ids))

    got = dict(sim.ivf_centroid_list(poisoned, n_cells=n_cells, train_sample=samp_n))
    want = dict(sim.ivf_centroid_list(clean_sample, n_cells=n_cells, train_sample=samp_n))
    assert got.keys() == want.keys()
    for cell in want:
        assert got[cell] == pytest.approx(want[cell], rel=1e-9), (
            f"cell {cell}: poisoned non-sample vectors leaked into training"
        )


def test_lsh_multiprobe_raises_recall(spark):
    """probe_hamming=1 (bucket + every 1-bit flip) must not lower recall
    vs single-probe, and must find strictly more or equal candidates."""
    emb = _embeddings(spark)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = sim.brute_force_topk(queries, emb, k=10).cache()
    r0 = sim.recall_at_k(sim.lsh_topk(queries, emb, k=10, n_planes=4), exact, 10)
    r1 = sim.recall_at_k(sim.lsh_topk(queries, emb, k=10, n_planes=4, probe_hamming=1), exact, 10)
    assert r1 >= r0
    # absolute floor is modest: uniform-random 64-dim vectors are the
    # LSH-hardest case (no cluster structure); the IVF contract above is
    # the high-recall path, this asserts the knob moves the right way
    assert r1 >= 0.35, f"multi-probe LSH recall@10 = {r1:.3f} < 0.35"


def test_simhash_production_hash_variant(spark):
    """xxhash64 SimHash keeps the locality property: near-dup docs are
    closer in Hamming distance than unrelated docs (same assertion as the
    md5 contract test, on the production hash)."""
    d = _docs(spark)
    out = {r["doc_id"]: r["simhash"]
           for r in dd.simhash_fingerprint(d, "doc_id", "text", hash_fn="xxhash64").collect()}
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in out.values())
