"""Operator tests for the approximate top-k family
(operators/similarity.py): SQ8, two-level IVF, PQ and the IVF cell
assignment — the properties the oracle-parity rows can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
from las_vpe_platform_spark.operators.similarity import sq8_topk


def test_sq8_topk_self_match_and_recall(spark, sf_dir):
    """Every probe's top-1 under SQ8 must be itself (dequantization
    error is far below the self-similarity gap), and top-5 recall vs
    the exact float ranking should be high on real embeddings."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 200 == 3)
    approx = sq8_topk(
        probes, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=5,
    )
    top1 = {r["probe_key"]: r["gallery_key"] for r in approx.filter("rank = 1").collect()}
    assert top1 and all(p == g for p, g in top1.items())

    exact = pairwise_similarity_topk(
        probes, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=5,
    )
    a = {(r["probe_key"], r["gallery_key"]) for r in approx.collect()}
    e = {(r["probe_key"], r["gallery_key"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.8, f"SQ8 top-5 recall vs exact = {recall}"


def test_sq8_topk_constant_vector_guard(spark):
    """A constant gallery vector has array_min == array_max; the
    quantizer must not divide by zero (ADVICE r2): it maps the vector
    to all-zero codes with step 0, so dequantization reproduces the
    constant exactly and the similarity stays non-null and exact."""
    import math

    rows = [
        (1, [3.0, 3.0, 3.0, 3.0]),        # constant -> the guard path
        (2, [1.0, 2.0, 3.0, 4.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),        # zero vector -> null sim (denom 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter("vec_id = 2")
    out = {
        r["gallery_key"]: r["similarity"]
        for r in sq8_topk(
            probes, emb, probe_key="vec_id", gallery_key="vec_id",
            vector_col="embedding", k=3,
        ).collect()
    }
    # cos([1,2,3,4], [3,3,3,3]) = 30 / (sqrt(30) * 6)
    want = 30.0 / (math.sqrt(30.0) * 6.0)
    assert abs(out[1] - want) < 1e-12, out
    assert abs(out[2] - 1.0) < 1e-6          # self-match survives quantization
    assert out[3] is None                     # zero vector: undefined, not NaN


def test_ivf2_matches_flat_ivf_assignment_quality(spark, sf_dir):
    """Two-level IVF is a recall/scale trade, not a correctness one:
    every probe must retrieve itself at rank 1 (its own fine cell is
    always searched), and top-k recall vs exact search stays useful."""
    from las_vpe_platform_spark.operators.similarity import ivf2_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 100 == 11)
    if probes.count() == 0:
        probes = emb.limit(3)
    approx = ivf2_topk(
        probes, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=5,
    )
    top1 = {r["probe_key"]: r["gallery_key"] for r in approx.filter("rank = 1").collect()}
    assert top1 and all(p == g for p, g in top1.items())

    exact = pairwise_similarity_topk(
        probes, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=5,
    )
    a = {(r["probe_key"], r["gallery_key"]) for r in approx.collect()}
    e = {(r["probe_key"], r["gallery_key"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.4, "two-level IVF recall collapsed"


def test_pq_topk_synthetic_codes_adc_and_ties(spark):
    """Hand-computed PQ example (dim=4, m=2, n_codes=2): verifies the
    argmin encoding, the asymmetric-distance sum, and the
    (adc_dist, gallery_key) tie-break."""
    from las_vpe_platform_spark.operators.similarity import pq_topk

    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),   # codebook position 0
        (1, [5.0, 5.0, 0.0, 0.0]),     # codebook position 1
        (2, [0.4, 0.0, 10.0, 10.0]),   # encodes to [0, 0]
        (3, [5.0, 5.0, 0.5, 0.0]),     # encodes to [1, 1]
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter("vec_id = 0")
    got = [
        (r["gallery_key"], r["rank"], r["adc_dist"])
        for r in pq_topk(
            probes, emb, probe_key="vec_id", gallery_key="vec_id",
            vector_col="embedding", dim=4, m=2, n_codes=2, k=4,
        ).orderBy("rank").collect()
    ]
    # probe 0 == codebook 0: ADC to code 0 is 0 per subspace, to code 1
    # it's 50 (sub 0) / 200 (sub 1); ids 0,2 share codes [0,0] (dist 0,
    # tie -> smaller key), ids 1,3 share [1,1] (dist 250)
    assert got == [(0, 1, 0.0), (2, 2, 0.0), (1, 3, 250.0), (3, 4, 250.0)]


def test_pq_topk_codebook_probes_self_distance_zero(spark, sf_dir):
    """A probe that IS a codebook member encodes with zero error, so
    its rank-1 asymmetric distance must be exactly 0.0 and its own id
    must appear among the zero-distance hits."""
    from las_vpe_platform_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 16)
    out = pq_topk(
        probes, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", dim=64, m=8, n_codes=16, k=5,
    ).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_key"], []).append(r)
    assert len(by_probe) == 16
    for pk, rs in by_probe.items():
        top1 = min(rs, key=lambda r: r["rank"])
        assert top1["adc_dist"] == 0.0, (pk, top1)
        zero_hits = {r["gallery_key"] for r in rs if r["adc_dist"] == 0.0}
        assert pk in zero_hits, (pk, sorted(zero_hits))


def test_ivf_cell_split_invariants(spark, sf_dir):
    """Split plan sanity: the two seeds are distinct members of their
    cell, every member lands on exactly one side, and the number of
    planned splits is the heaviest-octile count."""
    from las_vpe_platform_spark.operators.similarity import assign_centroids
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        IVF_CENTROID_MOD,
        Q162_SPLIT_DIV,
        q162_ivf_cell_split,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    out = q162_ivf_cell_split(spark, sf_dir).collect()
    unpersist_all()
    emb = load_table(spark, sf_dir, "embeddings")
    cen = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0).selectExpr(
        "vec_id AS centroid_id", "embedding"
    )
    assigned = assign_centroids(
        emb.select("vec_id", "embedding"), cen, vector_col="embedding"
    )
    members: dict = {}
    for r in assigned.collect():
        members.setdefault(r["centroid_id"], set()).add(r["vec_id"])
    unpersist_all()
    n_cells = len(members)
    # cells with >= 2 members rank into the octile; singletons would
    # drop at the seed_b inner join — count the expected non-degenerate
    expected_splits = -(-n_cells // Q162_SPLIT_DIV)
    assert len(out) <= expected_splits
    for r in out:
        cell = members[r["centroid_id"]]
        assert r["seed_a"] in cell and r["seed_b"] in cell
        assert r["seed_a"] != r["seed_b"]
        assert r["n_to_a"] + r["n_to_b"] == r["n_members"] == len(cell)
        assert r["n_to_a"] >= 1 and r["n_to_b"] >= 1  # each seed sides with itself
