"""Round-11 operator tests: the probe-count ladder in the BLAS ranking
kernel (VERDICT r10 #3 — above the broadcast contract, neither side may
reach the driver), plus the structural invariants the oracle hash can't
articulate for this round's touched entries."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rows(df):
    cols = sorted(df.columns)
    out = []
    for r in df.collect():
        vals = []
        for c in cols:
            v = r[c]
            vals.append(round(v, 9) if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, x) for x in t))


# --- the probe-count ladder -----------------------------------------------------


def test_probe_ladder_blocked_path_matches_broadcast(spark, sf_dir, monkeypatch):
    """Both sides of the ladder are the SAME function of the inputs:
    with the threshold forced below the probe count, the blocked-grid
    cogroup path must reproduce the broadcast path's exact top-k —
    ranks, tie order, and NULL-similarity rows included."""
    from las_vpe_platform_spark.operators import joins
    from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
    from las_vpe_platform_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    small = pairwise_similarity_topk(
        emb, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=3,
    )
    monkeypatch.setattr(joins, "PROBE_BROADCAST_MAX", 7)
    big = pairwise_similarity_topk(
        emb, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=3,
    )
    assert _rows(big) == _rows(small)


def test_probe_ladder_blocked_path_matches_broadcast_exclude_mode(
    spark, sf_dir, monkeypatch
):
    """Same equivalence for the label-masked (hard-negative) policy,
    including its row-dropping semantics (same-label / NULL-label /
    zero-norm pairs excluded before the top-k)."""
    from las_vpe_platform_spark.operators import joins
    from las_vpe_platform_spark.operators.similarity import hard_negatives_topk
    from las_vpe_platform_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    small = hard_negatives_topk(
        emb, emb, probe_key="vec_id", gallery_key="vec_id",
        label_col="label", vector_col="embedding", k=3,
    )
    monkeypatch.setattr(joins, "PROBE_BROADCAST_MAX", 7)
    big = hard_negatives_topk(
        emb, emb, probe_key="vec_id", gallery_key="vec_id",
        label_col="label", vector_col="embedding", k=3,
    )
    assert _rows(big) == _rows(small)


def test_probe_ladder_null_similarity_contract_survives_blocking(spark, monkeypatch):
    """The non-exclude policy's zero-norm contract (NULL similarity,
    ranked LAST, still emitted) must hold identically on the blocked
    path — the edge the sf fixture can't probe (it has no zero-norm
    vectors)."""
    from las_vpe_platform_spark.operators import joins
    from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk

    rows = [(i, [0.0, 0.0] if i % 4 == 0 else [float(i), 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    small = pairwise_similarity_topk(
        df, df, probe_key="id", gallery_key="id", vector_col="v", k=12
    )
    monkeypatch.setattr(joins, "PROBE_BROADCAST_MAX", 3)
    big = pairwise_similarity_topk(
        df, df, probe_key="id", gallery_key="id", vector_col="v", k=12
    )
    assert _rows(big) == _rows(small)
    # zero-norm gallery rows really do surface as NULL-sim, rank-last
    got = big.filter(F.col("probe_key") == 1).orderBy("rank").collect()
    assert [r["gallery_key"] for r in got if r["similarity"] is None] == [0, 4, 8]
    assert all(r["rank"] > 9 for r in got if r["similarity"] is None)


def test_probe_ladder_never_collects_corpus(spark, sf_dir, monkeypatch):
    """Structural no-collect pin (the q176 scale-killer, VERDICT r10
    #3): (a) the kernel's only driver materialization is the
    limit(max+1) guard — PROBE_BROADCAST_MAX bounds what .collect()
    can return BY PLAN, not by hope; (b) above the threshold the
    executed plan is the cogroup grid (FlatMapCoGroupsInPandas), with
    no broadcast of a probe matrix; (c) below it, the plan is the
    original mapInPandas stream and contains no cogroup."""
    import inspect

    from las_vpe_platform_spark.operators import joins
    from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
    from las_vpe_platform_spark.sources.tables import load_table

    src = inspect.getsource(joins._stream_matmul_topk)
    assert ".collect()" in src and "limit(PROBE_BROADCAST_MAX + 1)" in src, (
        "the only collect must be the bounded limit guard"
    )
    blocked_src = inspect.getsource(joins._blocked_candidates)
    assert ".collect(" not in blocked_src and ".toPandas(" not in blocked_src

    emb = load_table(spark, sf_dir, "embeddings")
    with monkeypatch.context() as m:
        m.setattr(joins, "PROBE_BROADCAST_MAX", 7)
        blocked = pairwise_similarity_topk(
            emb, emb, probe_key="vec_id", gallery_key="vec_id",
            vector_col="embedding", k=2,
        )
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    bcast = pairwise_similarity_topk(
        emb, emb, probe_key="vec_id", gallery_key="vec_id",
        vector_col="embedding", k=2,
    )
    plan2 = bcast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan2


def test_probe_ladder_property_vs_catalyst_witness(spark, monkeypatch):
    """Seeded property sweep: across random shapes — probe/gallery
    sizes straddling the block boundaries, k larger than the gallery,
    disjoint and overlapping key spaces, duplicate similarity ties,
    zero-norm rows — the blocked path must equal the PURE-CATALYST
    witness implementation (pairwise_similarity_topk_expr), which
    shares no code with the BLAS kernel. Integer-valued components
    keep every dot product exact in float64, so cross-implementation
    equality is deterministic (no sub-ulp tie risk)."""
    import random

    from las_vpe_platform_spark.operators import joins
    from las_vpe_platform_spark.operators.joins import (
        pairwise_similarity_topk,
        pairwise_similarity_topk_expr,
    )

    monkeypatch.setattr(joins, "PROBE_BROADCAST_MAX", 4)
    rng = random.Random(11)
    for trial in range(4):
        n_p = rng.choice([5, 9, 17])
        n_g = rng.choice([6, 13, 23])
        dim = rng.choice([2, 3])
        k = rng.choice([1, 3, n_g + 2])
        # small integer components force frequent EXACT similarity ties
        # (the tie-break path), plus some zero vectors
        def vec():
            if rng.random() < 0.15:
                return [0.0] * dim
            return [float(rng.randint(-2, 2)) for _ in range(dim)]

        probes = spark.createDataFrame(
            [(i, vec()) for i in range(n_p)], "id long, v array<double>"
        )
        gallery = spark.createDataFrame(
            [(100 + i, vec()) for i in range(n_g)], "id long, v array<double>"
        )
        want = _rows(
            pairwise_similarity_topk_expr(
                probes, gallery, probe_key="id", gallery_key="id",
                vector_col="v", k=k,
            )
        )
        got = _rows(
            pairwise_similarity_topk(
                probes, gallery, probe_key="id", gallery_key="id",
                vector_col="v", k=k,
            )
        )
        assert got == want, f"trial {trial}: n_p={n_p} n_g={n_g} k={k}"


def test_gallery_broadcast_contract_enforced(spark):
    """The streaming-safe ranker's dual contract: its gallery collect
    is bounded by plan (limit(max+1)) and a corpus-sized gallery fails
    loudly at build time with a routing hint, instead of OOMing the
    driver mid-stream. Below the bound the operator is unchanged."""
    import pytest

    from las_vpe_platform_spark.operators.joins import broadcast_gallery_topk

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    ok = broadcast_gallery_topk(
        df, df, probe_key="id", gallery_key="id", vector_col="v", k=2,
        gallery_broadcast_max=10,
    )
    assert ok.count() == 20
    with pytest.raises(ValueError, match="broadcast-dim contract"):
        broadcast_gallery_topk(
            df, df, probe_key="id", gallery_key="id", vector_col="v", k=2,
            gallery_broadcast_max=5,
        )


def test_q176_rides_the_ladder(spark, sf_dir):
    """q176's corpus self-ranking goes through pairwise_similarity_topk
    and therefore through the in-code ladder — the SCALE.md <=1e4 probe
    contract is now enforced where the call happens, not documented
    beside it."""
    import inspect

    from las_vpe_platform_spark import queries_data as qd

    body = inspect.getsource(qd.q176_knn_label_consistency)
    assert "pairwise_similarity_topk" in body
    assert ".collect(" not in body and ".toPandas(" not in body
