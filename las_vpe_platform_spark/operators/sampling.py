"""Sampling operators (SURVEY §2.3 P9, §2.6 W4).

``Tracklet.sample(n)`` (alg/pedestrian/tracking/Tracklet.java:148-172)
keeps n evenly-spaced bounding boxes of a tracklet and nulls the rest;
modes: -1 keep-all, 0 drop-all, n even-spaced. Re-expressed as
higher-order array functions (JVM-side) plus a row-level variant for
exploded layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from las_vpe_platform_spark.operators.staging import persist_disk


def sample_array_even(arr: Column | str, n: int) -> Column:
    """Evenly-spaced n-element subsample of an array (order kept).

    Interval arithmetic mirrors Tracklet.java:158-170: with L elements
    keep indices i*ceil(L/n) for i in 0..n-1 (clamped). n=-1 keeps all,
    n=0 yields an empty array.
    """
    c = F.col(arr) if isinstance(arr, str) else arr
    if n < 0:
        return c
    if n == 0:
        return F.slice(c, 1, 0)
    length = F.size(c)
    step = F.ceil(length.cast("double") / F.lit(n)).cast("int")
    idx = F.sequence(F.lit(0), F.lit(n - 1))
    positions = F.array_distinct(
        F.transform(idx, lambda i: F.least(i * step + 1, length))
    )
    return F.when(length > 0, F.transform(positions, lambda p: F.element_at(c, p))).otherwise(
        F.slice(c, 1, 0)
    )


def even_spaced_sample(
    df: DataFrame,
    group_cols: list[str],
    order_cols: str | list[str],
    every_k: int,
) -> DataFrame:
    """Row-level even sampling: keep every k-th row per group by order.

    The exploded-layout analog of ``Tracklet.sample`` for when the
    location sequence is one row per bounding box. One shuffle on the
    group key; rank arithmetic stays in the window operator.
    ``order_cols`` must be a deterministic total order within each
    group (add tiebreak columns if the primary sort key repeats).
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = W.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % every_k == 0)
        .drop("_rn")
    )


def balanced_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    seed: str = "mix",
    target: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic stratified rebalancing — the corpus-mixing
    primitive of a training-data pipeline: downsample each stratum
    (source, language, domain) so the kept mass matches ``target``
    proportions, or balances all strata to the smallest one when
    ``target`` is None.

    Acceptance is a pure hash test, hash(seed, id) < rate[stratum] —
    no RNG state, so the sample is reproducible across engines, runs,
    and partitionings (the q45 split trick applied per stratum). Rates
    come from ONE tiny grouped count that broadcasts back onto the
    scan; the data itself is filtered in place — one narrow pass, no
    shuffle of the corpus.

    At 100 TB: the count aggregate shuffles one row per stratum; the
    accept filter is pushdown-adjacent (evaluated in the scan stage).
    The rates are computed IN-PLAN (no driver collect), so the
    operator composes inside larger plans and stays declarative.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    # the counts relation is tiny (one row per stratum), so the global
    # min is a window over its single coalesced partition — one stage,
    # not an aggregate + cross-join pair
    w_all = W.partitionBy()
    if target is None:
        # balance every stratum down to the smallest one
        rate_df = counts.select(
            strata_col, (F.min("_n").over(w_all) / F.col("_n")).alias("_rate")
        )
    else:
        from las_vpe_platform_spark.sources.tables import inline_rows

        # literal weights as a zero-task LocalRelation, not a Python
        # RDD: createDataFrame(list) scheduled one python-worker
        # round-trip per core per evaluation (r13, guide §4)
        weights = inline_rows(
            df.sparkSession,
            [(s, float(w)) for s, w in sorted(target.items())],
            f"{strata_col} string, _w double",
        )
        cw = counts.join(F.broadcast(weights), on=strata_col, how="left").na.fill(
            {"_w": 0.0}
        )
        # kept_s = kept_total * w_s; the largest feasible kept_total
        # keeps every rate <= 1: kept_total = min over strata of n_s/w_s
        kt = F.min(
            F.when(F.col("_w") > 0, F.col("_n") / F.col("_w"))
        ).over(w_all)
        rate_df = cw.select(
            strata_col,
            F.least(F.lit(1.0), (kt * F.col("_w")) / F.col("_n")).alias("_rate"),
        )
    accept = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    return (
        df.join(F.broadcast(rate_df), on=strata_col)
        .filter(accept < F.col("_rate"))
        .drop("_rate")
    )


def hashed_ngram_importance(
    pool: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 512,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every pool
    document by how much its hashed-bigram distribution looks like the
    TARGET corpus rather than the pool itself.

    Features are bigrams hashed into ``buckets`` counters (the paper's
    hashed n-gram feature space).  Per-bucket weight is the smoothed
    log-likelihood ratio  ln( ((t_b + a) / (T + aB)) / ((p_b + a) /
    (P + aB)) ); a document's importance is the MEAN weight over its
    bigram occurrences.  Resampling then keeps the top documents (or
    hash-rate accepts proportionally — compose with corpus_mix).

    Scale shape: two grouped counts over the bucket id (each shuffles
    <= ``buckets`` rows thanks to map-side partials), the weight table
    stays driver-free as a ``buckets``-row broadcast join, and the
    per-doc mean is one aggregate on ``id_col`` — the only data-sized
    shuffle.  The md5 bucket hash is the engine-portable route, so a
    SQL oracle reproduces scores exactly.
    """
    from las_vpe_platform_spark.functions.text import tokens

    def bigram_buckets(df: DataFrame, *extra) -> DataFrame:
        toks = df.select(*extra, tokens(text_col).alias("_toks"))
        pair = F.when(
            F.size("_toks") >= 2,
            F.expr(
                "transform(sequence(1, size(_toks) - 1),"
                " i -> concat(_toks[i-1], ' ', _toks[i]))"
            ),
        ).otherwise(F.expr("array()").cast("array<string>"))
        grams = toks.select(*extra, F.explode(pair).alias("_gram"))
        h = F.md5(F.concat_ws(":", F.lit(seed), F.col("_gram")))
        return grams.select(
            *extra,
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets).alias(
                "bucket"
            ),
        )

    # each count table is <= buckets rows but referenced twice (its
    # total + the weight join) — materialize so the corpus-sized
    # bigram explodes run once per side, not per reference
    t_counts = persist_disk(
        bigram_buckets(target).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("t_b")
        )
    )
    p_counts = persist_disk(
        bigram_buckets(pool).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("p_b")
        )
    )
    t_tot = t_counts.agg(F.sum("t_b").alias("t_tot"))
    p_tot = p_counts.agg(F.sum("p_b").alias("p_tot"))
    weights = (
        p_counts.join(t_counts, on="bucket", how="full_outer")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(p_tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("t_b"), F.lit(0)) + alpha)
                    / (F.col("t_tot") + alpha * buckets)
                )
                - F.log(
                    (F.coalesce(F.col("p_b"), F.lit(0)) + alpha)
                    / (F.col("p_tot") + alpha * buckets)
                )
            ).alias("w"),
        )
    )
    doc_buckets = bigram_buckets(pool, id_col)
    return (
        doc_buckets.join(F.broadcast(weights), on="bucket", how="left")
        .groupBy(id_col)
        .agg(
            F.avg("w").alias("importance"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )


def hashed_ngram_importance_sql(
    pool_sql: str,
    target_sql: str,
    id_col: str,
    sql_tokens: str,
    buckets: int = 512,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> str:
    """DuckDB mirror of :func:`hashed_ngram_importance` (same md5
    buckets, same smoothing)."""
    return f"""
WITH _pt AS (
  SELECT {id_col}, {sql_tokens} AS toks FROM ({pool_sql})
), _tt AS (
  SELECT {sql_tokens} AS toks FROM ({target_sql})
), _pg AS (
  SELECT {id_col},
         ('0x' || substr(md5('{seed}:' || toks[i] || ' ' || toks[i + 1]), 1, 8))::BIGINT
           % {buckets} AS bucket
  FROM _pt, unnest(generate_series(1, len(toks) - 1)) AS t(i)
), _tg AS (
  SELECT ('0x' || substr(md5('{seed}:' || toks[i] || ' ' || toks[i + 1]), 1, 8))::BIGINT
           % {buckets} AS bucket
  FROM _tt, unnest(generate_series(1, len(toks) - 1)) AS t(i)
), _tc AS (
  SELECT bucket, count(*) AS t_b FROM _tg GROUP BY bucket
), _pc AS (
  SELECT bucket, count(*) AS p_b FROM _pg GROUP BY bucket
), _tot AS (
  SELECT (SELECT sum(t_b) FROM _tc) AS t_tot, (SELECT sum(p_b) FROM _pc) AS p_tot
), _w AS (
  SELECT coalesce(_pc.bucket, _tc.bucket) AS bucket,
         ln((coalesce(t_b, 0) + {alpha}) / (t_tot + {alpha} * {buckets}))
         - ln((coalesce(p_b, 0) + {alpha}) / (p_tot + {alpha} * {buckets})) AS w
  FROM _pc FULL OUTER JOIN _tc ON _pc.bucket = _tc.bucket CROSS JOIN _tot
)
SELECT {id_col}, avg(w) AS importance, count(*)::BIGINT AS n_grams
FROM _pg JOIN _w USING (bucket)
GROUP BY {id_col}
"""
