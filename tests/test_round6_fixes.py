"""Round-6 regression tests for the ADVICE r5 items.

- maintain_aggregate's negative-count CDC-contract guard
  (``on_negative``: error vs drop).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _stored_and_changes(spark, extra_changes=()):
    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)],
        "k string, v double",
    )
    stored = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    changes = spark.createDataFrame(
        [("a", "I", 10.0), *extra_changes],
        "k string, op string, v double",
    )
    return stored, changes


def test_maintain_aggregate_negative_count_raises(spark):
    """A delete with no matching insert/stored row drives the
    maintained count negative — a CDC-contract violation that must
    fail the job loudly (default on_negative='error'), never be
    silently filtered away like a legitimately vanished group."""
    from las_vpe_platform_spark.operators.maintenance import maintain_aggregate

    stored, changes = _stored_and_changes(
        spark, extra_changes=[("ghost", "D", 9.0), ("ghost", "D", 1.0)]
    )
    out = maintain_aggregate(
        stored, changes, ["k"], count_col="n", sum_cols={"total": "v"}
    )
    with pytest.raises(Exception, match="CDC contract violation"):
        out.collect()


def test_maintain_aggregate_negative_count_drop_mode(spark):
    """on_negative='drop' preserves the historical behavior for
    callers that pre-validate: the violating group vanishes and the
    healthy groups fold normally."""
    from las_vpe_platform_spark.operators.maintenance import maintain_aggregate

    stored, changes = _stored_and_changes(
        spark, extra_changes=[("ghost", "D", 9.0)]
    )
    got = {
        r["k"]: (r["n"], r["total"])
        for r in maintain_aggregate(
            stored,
            changes,
            ["k"],
            count_col="n",
            sum_cols={"total": "v"},
            on_negative="drop",
        ).collect()
    }
    assert got == {"a": (3, 13.0), "b": (1, 5.0)}


def test_maintain_aggregate_rejects_unknown_mode(spark):
    from las_vpe_platform_spark.operators.maintenance import maintain_aggregate

    stored, changes = _stored_and_changes(spark)
    with pytest.raises(ValueError, match="on_negative"):
        maintain_aggregate(
            stored, changes, ["k"], on_negative="ignore"
        )


def test_maintain_aggregate_zero_group_still_drops_under_error_mode(spark):
    """The guard must not confuse exact-zero (legitimate vanish) with
    negative (violation): a group deleted down to zero drops silently
    even with on_negative='error'."""
    from las_vpe_platform_spark.operators.maintenance import maintain_aggregate

    stored, changes = _stored_and_changes(
        spark, extra_changes=[("b", "D", 5.0)]
    )
    got = {
        r["k"]: (r["n"], r["total"])
        for r in maintain_aggregate(
            stored, changes, ["k"], count_col="n", sum_cols={"total": "v"}
        ).collect()
    }
    assert got == {"a": (3, 13.0)}


def test_s17_emission_rule_is_version_pinned(spark):
    """s17's and s20's oracles mirror Spark's OBSERVED outer-join
    eviction timing, not a spec (VERDICT r5 'What's wrong' #3; s20's
    right-side rule rides the same pin). This test fails
    LOUDLY — it does not re-derive — when the engine minor version
    moves, forcing a human re-verification of the emission rule before
    the pin is updated."""
    from las_vpe_platform_spark.queries_streaming import S17_PINNED_SPARK_MINOR

    got = tuple(int(p) for p in spark.version.split(".")[:2])
    assert got == S17_PINNED_SPARK_MINOR, (
        f"Spark {spark.version} != pinned {S17_PINNED_SPARK_MINOR}: the s17 "
        "left-outer null-emission rule (unmatched left emits iff expiry < "
        "min over both sides' final max event time) was derived empirically "
        "on the pinned minor version. Re-run test_left_outer_stream_join_"
        "null_emission_and_no_retro_match, re-verify S17_SQL batch-by-batch "
        "at sf0.001/0.01/0.1, THEN update S17_PINNED_SPARK_MINOR."
    )


def test_q136_triplet_invariants(spark, sf_dir):
    """Contrastive-triplet contract: (anchor, positive) IS a candidate
    edge, (anchor, negative) is NOT, and the three ids are distinct —
    for every emitted row."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.operators.dedup import minhash_lsh_candidates
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_K,
        q136_triplet_mining,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text",
            shingle_k=MINHASH_K, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        ).collect()
    }
    sym = edges | {(b, a) for a, b in edges}
    try:
        rows = q136_triplet_mining(spark, sf_dir).collect()
    finally:
        unpersist_all()
    assert rows
    for r in rows:
        a, p, n = r["anchor"], r["positive"], r["negative"]
        assert len({a, p, n}) == 3, (a, p, n)
        assert (a, p) in sym, (a, p)
        assert (a, n) not in sym, (a, n)


def test_outer_stream_join_empty_side_withholds_unmatched(spark):
    """The review-r6 oracle fix, checked against the engine: with ZERO
    rows on one side, the joint watermark never advances, so a
    full-outer stream join emits NO unmatched rows — and the NULL-safe
    S20 oracle watermark mirrors that (an empty side => w NULL => both
    unmatched branches false)."""
    import tempfile
    import uuid as _uuid

    from las_vpe_platform_spark.streaming.engine import run_to_completion

    schema = "user string, ts timestamp, id long, side string"
    src = tempfile.mkdtemp(prefix="foj_empty_")
    rows = [
        ("u1", __import__("datetime").datetime(2024, 1, 1, 10, 0, 0), 1, "L"),
        ("u1", __import__("datetime").datetime(2024, 1, 1, 12, 0, 0), 2, "L"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b1")

    def side(tag, cols):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
            .filter(F.col("side") == tag)
            .selectExpr(*cols)
        )

    left = side("L", ["user", "id AS left_id", "ts AS l_ts"]).withWatermark(
        "l_ts", "0 seconds"
    )
    right = side(
        "R", ["user AS r_user", "id AS right_id", "ts AS r_ts"]
    ).withWatermark("r_ts", "0 seconds")
    joined = left.join(
        right,
        (F.col("user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    ).select("left_id", "right_id")
    out = run_to_completion(
        joined, f"foje_{_uuid.uuid4().hex[:8]}", output_mode="append"
    )
    assert out.count() == 0  # nothing matched, nothing evicted-unmatched


def test_q150_resample_mass_identity(spark, sf_dir):
    """Systematic resampling must allocate EXACTLY k copies (the
    stratified-picks identity), and each doc's count must be within
    one of its expected share k*w/W."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        RESAMPLE_K,
        q150_systematic_resample,
    )

    try:
        rows = q150_systematic_resample(spark, sf_dir).collect()
    finally:
        unpersist_all()
    total_w = spark.read.parquet(f"{sf_dir}/documents.parquet").agg(
        F.sum("n_chars")
    ).collect()[0][0]
    assert sum(r["n_copies"] for r in rows) == RESAMPLE_K
    for r in rows:
        expected = RESAMPLE_K * r["weight"] / total_w
        assert abs(r["n_copies"] - expected) <= 1.0, (r, expected)


def test_q151_cms_error_is_one_sided(spark, sf_dir):
    """CMS point estimates upper-bound true counts (min-over-rows
    bound) — overestimate >= 0 for EVERY reported key."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q151_cms_error

    try:
        rows = q151_cms_error(spark, sf_dir).collect()
    finally:
        unpersist_all()
    assert rows
    for r in rows:
        assert r["overestimate"] >= 0, r
        assert r["cms_estimate"] >= r["exact"], r
