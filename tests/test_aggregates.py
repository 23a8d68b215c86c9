"""Aggregate operator tests: UDAF parity, sketches."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from las_vpe_platform_spark.fixtures import FIXTURES_DIR
from las_vpe_platform_spark.operators.aggregates import (
    approx_distinct_profile,
    wide_avg,
    wide_avg_pandas,
)
from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES


def _fx(spark, name):
    return spark.read.parquet(str(FIXTURES_DIR / f"{name}.parquet"))


def test_wide_avg_pandas_matches_builtin(spark):
    samples = _fx(spark, "attribute_samples")
    cols = list(ATTRIBUTE_NAMES[:12])
    fast = {r["tracklet_key"]: r for r in wide_avg(samples, ["tracklet_key"], cols).collect()}
    udaf = {r["tracklet_key"]: r for r in wide_avg_pandas(samples, ["tracklet_key"], cols).collect()}
    assert set(fast) == set(udaf)
    for key in list(fast)[:100]:
        for c in cols:
            assert math.isclose(fast[key][c], udaf[key][c], abs_tol=1e-12)


def test_approx_distinct_within_rsd(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    approx = {
        r["l_returnflag"]: r["approx_distinct"]
        for r in approx_distinct_profile(li, ["l_returnflag"], "l_orderkey").collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.15  # 5% rsd, generous bound


def test_hll_distinct_accuracy_and_determinism(spark, sf_dir):
    from las_vpe_platform_spark.operators.aggregates import hll_distinct

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    est = {
        r["l_returnflag"]: (r["hll_est"], r["hll_sum"])
        for r in hll_distinct(li, ["l_returnflag"], "l_orderkey", m=64).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    # standard error for m=64 is ~1.04/sqrt(64) = 13%; allow 3 sigma
    for flag, n in exact.items():
        assert abs(est[flag][0] - n) / n < 0.4, (flag, est[flag], n)
    # registers are a pure function of the input set: re-running after a
    # reshuffle yields bit-identical sums (order independence)
    again = {
        r["l_returnflag"]: r["hll_sum"]
        for r in hll_distinct(
            li.repartition(13), ["l_returnflag"], "l_orderkey", m=64
        ).collect()
    }
    assert {k: v[1] for k, v in est.items()} == again


def test_hll_distinct_rejects_non_power_of_two():
    import pytest

    from las_vpe_platform_spark.operators.aggregates import hll_distinct

    with pytest.raises(ValueError):
        hll_distinct(None, ["g"], "k", m=48)


def test_hll_distinct_multi_column_groups(spark):
    """hll_finish must splat multi-column groups (review finding r3:
    the comma-joined selectExpr crashed any 2+-column group_cols);
    estimates must match the equivalent single-composite-key sketch's
    grouping behavior and be sane vs exact counts."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.operators.aggregates import hll_distinct

    df = spark.range(2000).select(
        (F.col("id") % 2).alias("g1"),
        (F.col("id") % 3).alias("g2"),
        (F.col("id") % 500).alias("k"),
    )
    out = hll_distinct(df, ["g1", "g2"], "k", m=64).collect()
    assert len(out) == 6
    for r in out:
        exact = df.filter(
            (F.col("g1") == r["g1"]) & (F.col("g2") == r["g2"])
        ).select("k").distinct().count()
        assert abs(r["hll_est"] - exact) / exact < 0.5, (r, exact)


def test_hll_registers_merge_losslessly(spark):
    """The claim s09 and the per-day-sketch story rest on: register
    MAX over two disjoint halves == the registers of the whole, so
    estimates computed via hll_finish on merged registers are
    IDENTICAL to the single-pass sketch."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.operators.aggregates import (
        hll_bucketed,
        hll_distinct,
        hll_finish,
    )

    df = spark.range(5000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 1300).alias("k")
    )
    whole = {
        (r["g"],): (r["hll_sum"], r["n_zero"], r["hll_est"])
        for r in hll_distinct(df, ["g"], "k", m=32).collect()
    }
    halves = []
    for half in (df.filter(F.col("id") % 2 == 0), df.filter(F.col("id") % 2 == 1)):
        rb = hll_bucketed(half, "k", m=32, keep_cols=["g"])
        halves.append(rb.groupBy("g", "_bucket").agg(F.max("_rho").alias("_r")))
    merged_regs = (
        halves[0].unionByName(halves[1])
        .groupBy("g", "_bucket")
        .agg(F.max("_r").alias("_r"))
    )
    merged = {
        (r["g"],): (r["hll_sum"], r["n_zero"], r["hll_est"])
        for r in hll_finish(merged_regs, ["g"], m=32).collect()
    }
    assert merged == whole and len(whole) == 4


def test_hll_merge_of_partials_equals_direct_sketch(spark, sf_dir):
    """The q135 algebra: weekly registers obtained by MAX-merging the
    stored daily partials must equal registers computed directly from
    the raw week's rows (max of maxes == max over the union) — so the
    rollup never needs the raw table. Exact integer equality, not an
    estimate comparison."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.functions.scalar import ntz_epoch_micros
    from las_vpe_platform_spark.operators.aggregates import hll_bucketed

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        ntz_epoch_micros("ts").alias("us"), "user_id"
    )
    days = ev.selectExpr("us div 86400000000 AS day", "user_id")
    b = hll_bucketed(days, "user_id", m=64, keep_cols=["day"])
    daily = b.groupBy("day", "_bucket").agg(F.max("_rho").alias("_r"))
    merged = sorted(
        (r["week"], r["_bucket"], r["_r"])
        for r in daily.selectExpr("day div 7 AS week", "_bucket", "_r")
        .groupBy("week", "_bucket")
        .agg(F.max("_r").alias("_r"))
        .collect()
    )
    direct = sorted(
        (r["week"], r["_bucket"], r["_r"])
        for r in b.selectExpr("day div 7 AS week", "_bucket", "_rho")
        .groupBy("week", "_bucket")
        .agg(F.max("_rho").alias("_r"))
        .collect()
    )
    assert merged == direct and len(merged) > 0


def test_q114_drops_null_embeddings_and_rejects_ragged(spark, sf_dir, tmp_path):
    from las_vpe_platform_spark.queries_data import Q114_SQL, q114_pca_power

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE base AS SELECT * FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 40"
    )
    dirs = {}
    for name, extra in (
        ("clean", ""),
        ("null", "UNION ALL SELECT 9999, NULL::FLOAT[], 1"),
        ("ragged", "UNION ALL SELECT 9999, [1.0, 2.0]::FLOAT[], 1"),
    ):
        dirs[name] = tmp_path / name
        dirs[name].mkdir()
        con.execute(
            f"COPY (SELECT * FROM base {extra}) "
            f"TO '{dirs[name]}/embeddings.parquet' (FORMAT parquet)"
        )

    clean = sorted(tuple(r) for r in q114_pca_power(spark, str(dirs["clean"])).collect())
    with_null = sorted(tuple(r) for r in q114_pca_power(spark, str(dirs["null"])).collect())
    assert len(clean) == 64 and with_null == clean
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{dirs['null']}/embeddings.parquet'")
    oracle = sorted(con.execute(Q114_SQL).fetchall())
    assert [r[0] for r in oracle] == [r[0] for r in clean]
    for o, c in zip(oracle, clean):
        assert o[1:] == pytest.approx(c[1:], abs=2e-6)

    ragged = "ValueError: q114: an embedding has 2 components, PCA_DIM is 64"
    with pytest.raises(Exception, match=ragged):
        q114_pca_power(spark, str(dirs["ragged"]))
