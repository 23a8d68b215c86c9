"""Similarity search over embedding columns (ANN for J9 at scale).

The reference's pairwise comparer (J9,
ExternPedestrianComparerUsingAttr.java:170-194) is an O(probes ×
gallery) primitive; at 100 TB the gallery side must be pruned. The
exact search is ``operators.joins.pairwise_similarity_topk``; the five
approximate top-k operators here are built from three shared kernels:

- ``_rank_tail`` — the per-probe ``row_number`` over (score,
  ``gallery_key``) with ``rank <= k``, used by all five;
- ``_bucketed_cosine_topk`` — the IVF search: the probe side joins the
  gallery on the cell id and scores cosine with norms computed below
  the join. ``ivf_topk`` assigns cells from one flat centroid level,
  ``ivf2_topk`` by the coarse-then-fine descent;
- ``_pq_codec`` — product quantization: codebook, per-subspace argmin
  encode and per-probe ADC tables, summed by ``_adc_dist``.
  ``pq_topk`` runs it on raw vectors against the whole gallery,
  ``ivfpq_topk`` on residuals inside the probed IVF cells.

``sq8_topk`` scores an int8-quantized gallery through the same rank
tail. Every index choice (``key % mod == 0`` centroids, the
smallest-key codebook) is deterministic and seedless, so DuckDB
reproduces each operator's rows: the ``*_sql`` mirrors here, and the
catalog's SQL for the IVF entries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from las_vpe_platform_spark.functions.vector import dot_product, l2_norm
from las_vpe_platform_spark.operators.staging import persist_disk

# HARD PRECONDITION on every *_topk entry point (ADVICE r5): the probe
# side (probes × nprobe rows, plus per-probe ADC tables for the PQ
# family) must fit the executor broadcast budget. These operators
# always force-broadcast it so the gallery NEVER shuffles, bypassing
# AQE's size check. Rule of thumb at spark.sql.autoBroadcastJoinThreshold
# defaults: ≤ ~10^5 probes for float vectors, ≤ ~10^4 for PQ ADC
# tables (m × n_codes doubles per probed cell). A caller over that
# budget shards its probe set and runs one search per shard.


def _rank_tail(scored: DataFrame, score: Column, k: int) -> DataFrame:
    """Per-probe top-k of ``scored`` (``probe_key``, ``gallery_key``,
    score): ``rank`` is the ``row_number`` ordered by ``score`` (a
    sort column: similarity descending or distance ascending), ties to
    the smaller ``gallery_key``."""
    w = W.partitionBy("probe_key").orderBy(score, F.asc("gallery_key"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _nearest_centroids(
    vectors: DataFrame, crow: DataFrame, vector_col: str, keep: int
) -> DataFrame:
    """Rank the centroids of the fold row ``crow`` per vector by
    cosine, keep the best ``keep`` as one ``centroid_id`` row each;
    ties broken by the smaller centroid id.

    Shape: the centroid table is ONE broadcast row of (id, vec, norm)
    structs and every vector scores all centroids inside a single
    projection — ``array_sort`` on (-sim, centroid_id) structs,
    ``slice``, ``explode`` — so the vector side (the gallery, for
    q29/q70/q118) never shuffles.  Ascending struct order on
    (-sim, id) is the same total order as (sim DESC, id ASC) for
    non-NaN similarities (zero-norm vectors, the NaN source, are out
    of contract — embeddings are dense).
    """
    arr = _nearest_centroid_arr(vectors, crow, vector_col, keep)
    if keep == 1:
        # no Generate: explode makes Catalyst re-evaluate the whole
        # scoring lambda through the Generate node (measured 1.17 s vs
        # 0.17 s for the same rows at sf0.1) — and keep=1 is exactly
        # the GALLERY-sized call (assign_centroids), where that
        # re-evaluation is corpus-priced
        return arr.select(
            *vectors.columns, F.element_at("_cells", 1).alias("centroid_id")
        ).filter(F.col("centroid_id").isNotNull())  # empty centroid set: drop, as explode did
    return arr.withColumn("_t", F.explode("_cells")).select(
        *vectors.columns, F.col("_t").alias("centroid_id")
    )


def _centroid_fold(centroids: DataFrame, vector_col: str) -> DataFrame:
    """The ONE-ROW centroid fold frame: (id, double vec, norm) structs
    sorted by id.  Built once per index and shared by every
    assignment/bucketing call in the same query (stage it when it has
    several consumers, so it is aggregated once)."""
    return centroids.select(
        F.struct(
            F.col("centroid_id"),
            F.transform(vector_col, lambda x: x.cast("double")).alias("_cvec"),
            l2_norm(vector_col).alias("_cnorm"),
        ).alias("_c")
    ).agg(F.array_sort(F.collect_list("_c")).alias("_cents"))


def _nearest_centroid_arr(
    vectors: DataFrame, crow: DataFrame, vector_col: str, keep: int
) -> DataFrame:
    """The fold core of :func:`_nearest_centroids`: adds ``_vnorm``
    and ``_cells`` (the ``keep`` best centroid ids of the
    :func:`_centroid_fold` row ``crow``, best-first) as COLUMNS — no
    explode, so callers that go on to fold over the cell set
    (:func:`ivf2_topk`'s descent) never multiply rows."""
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (
                -(
                    dot_product(F.col(vector_col), c["_cvec"])
                    / (F.col("_vnorm") * c["_cnorm"])
                )
            ).alias("_negsim"),
            c["centroid_id"].alias("centroid_id"),
        ),
    )
    return (
        vectors.withColumn("_vnorm", l2_norm(vector_col))
        .crossJoin(F.broadcast(crow))
        .withColumn(
            "_cells",
            F.transform(
                F.slice(F.array_sort(scored), 1, keep),
                lambda t: t["centroid_id"],
            ),
        )
        .drop("_cents")
    )


def assign_centroids(
    vectors: DataFrame, centroids: DataFrame, vector_col: str
) -> DataFrame:
    """Assign each vector to its single nearest centroid: ``vectors``
    gains ``centroid_id`` from ``centroids`` (``centroid_id``,
    ``vector_col``)."""
    return _nearest_centroids(
        vectors, _centroid_fold(centroids, vector_col), vector_col, keep=1
    )


def _bucketed_cosine_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str,
    k: int,
    nprobe: int,
    cells,
) -> DataFrame:
    """The IVF search shared by :func:`ivf_topk` and :func:`ivf2_topk`.

    ``cells(vectors, keep)`` gives each vector's ``keep`` nearest cells
    as one ``centroid_id`` row each: the gallery keeps 1, a probe
    ``nprobe``. The probe side is broadcast into the equi-join on the
    cell id, so the bucketed gallery never shuffles; cosine norms are
    computed once per row below the join (one fold per row instead of
    three per pair, bit-identical).
    """
    gal = cells(
        gallery.select(F.col(gallery_key).alias("gallery_key"), F.col(vector_col)), 1
    ).select(
        "gallery_key", F.col(vector_col).alias("_gvec"), "centroid_id"
    ).withColumn("_gnorm", l2_norm("_gvec"))
    prb = cells(
        probes.select(F.col(probe_key).alias("probe_key"), F.col(vector_col)), nprobe
    ).select(
        "probe_key", F.col(vector_col).alias("_pvec"), "centroid_id"
    ).withColumn("_pnorm", l2_norm("_pvec"))
    scored = (
        F.broadcast(prb)
        .join(gal, on="centroid_id")
        .withColumn(
            "similarity",
            dot_product("_pvec", "_gvec") / (F.col("_pnorm") * F.col("_gnorm")),
        )
        .select("probe_key", "gallery_key", "similarity")
    )
    return _rank_tail(scored, F.desc("similarity"), k)


def ivf_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    k: int = 5,
    num_centroids_mod: int = 50,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate per-probe top-k via IVF bucketing.

    Precondition: probes × nprobe must fit the broadcast budget (see
    the module-level note).

    Centroids = gallery rows where ``key % num_centroids_mod == 0``
    (deterministic, seedless — reproducible in SQL). Gallery vectors
    are assigned to their nearest centroid; probes search their
    ``nprobe`` nearest centroid buckets only.
    """
    # centroid derivation costs a full gallery scan (the % filter is
    # not parquet-pushable) and the fold row is referenced by BOTH the
    # gallery assignment and the probe bucketing — stage the ONE-ROW
    # centroid fold once instead of re-aggregating per call
    centroids = gallery.filter(
        (F.col(gallery_key) % num_centroids_mod) == 0
    ).select(F.col(gallery_key).alias("centroid_id"), F.col(vector_col))
    crow = persist_disk(_centroid_fold(centroids, vector_col))
    return _bucketed_cosine_topk(
        probes, gallery, probe_key, gallery_key, vector_col, k, nprobe,
        lambda vectors, keep: _nearest_centroids(vectors, crow, vector_col, keep),
    )


# --- signed-random-projection LSH (third ANN path: data-independent) --------

def srp_weights(planes: int, dim: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplane matrix, derived from
    md5 of (seed, plane, dim index) at PLAN-BUILD time — both engines
    receive the same literal constants, so there is no runtime hash to
    keep portable."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(planes)
    ]


def srp_neardup_pairs(
    vectors: DataFrame,
    id_col: str,
    vector_col: str,
    dim: int,
    planes: int = 32,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Near-dup pairs via signed random projections (Charikar 2002) —
    the DATA-INDEPENDENT ANN path, complementing `ivf_topk` (which
    needs a centroid pass over the data) and `embedding_neardup_pairs`
    (which needs an upstream bucket column).

    Each vector gets ``planes`` sign bits (does it fall left or right
    of hyperplane j); bits are grouped into ``bands`` LSH tables so a
    pair is a candidate if ANY band's bits all agree (same banding
    logic as MinHash q24: per-band collision p^(planes/bands), OR'd
    across bands). Candidates then get exact cosine verification.

    Scale shape: signature computation is a map-only pass (the +-1
    dot products are JVM folds over literal weight arrays); the only
    shuffle is the per-band equi-join on (band, bucket), whose cost is
    sum over buckets of C(n_bucket, 2) — data-independent hashing
    keeps buckets balanced (~N/2^(planes/bands)) even when the corpus
    is skewed, which is exactly when IVF centroids degrade.
    """
    per_band = planes // bands
    if per_band * bands != planes:
        raise ValueError("planes must divide evenly into bands")
    w = srp_weights(planes, dim)

    # ONE transform over the literal weight matrix instead of `planes`
    # separate fold columns: the single nested-HOF expression skips
    # `planes` whole-stage-codegen projections (~2x faster end-to-end
    # here) while keeping the per-plane fold order identical to the
    # oracle. The dots land as a materialized array column FIRST —
    # the bucket arithmetic below references each element, and HOF
    # lambdas re-evaluate inline subexpressions per use.
    wlit = "array(" + ", ".join(
        "array(" + ", ".join(f"{x:.1f}D" for x in row) + ")" for row in w
    ) + ")"
    dots = vectors.selectExpr(
        id_col,
        vector_col,
        f"transform({wlit}, wrow -> aggregate(zip_with({vector_col}, wrow,"
        " (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),"
        " (acc, v) -> acc + v)) AS _dots",
    )
    buckets = [
        " + ".join(
            f"(CASE WHEN element_at(_dots, {b * per_band + r + 1}) >= 0.0D"
            f" THEN {1 << r} ELSE 0 END)"
            for r in range(per_band)
        )
        for b in range(bands)
    ]
    keys = dots.selectExpr(
        id_col,
        f"posexplode(array({', '.join(buckets)})) AS (band, bucket)",
    )
    cand = (
        keys.alias("l")
        .hint("shuffle_hash")
        .join(keys.alias("r").hint("shuffle_hash"), on=["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    e = vectors.select(
        F.col(id_col), F.col(vector_col), l2_norm(vector_col).alias("_n")
    )
    a = e.selectExpr(f"{id_col} AS id_a", f"{vector_col} AS _va", "_n AS _na")
    b = e.selectExpr(f"{id_col} AS id_b", f"{vector_col} AS _vb", "_n AS _nb")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def srp_neardup_sql(
    table: str,
    id_col: str,
    vector_col: str,
    dim: int,
    planes: int = 32,
    bands: int = 4,
    threshold: float = 0.3,
) -> str:
    """DuckDB mirror of :func:`srp_neardup_pairs`, generated from the
    same weight constants (cosine rounded to 6 dp by the caller's
    SELECT if needed)."""
    per_band = planes // bands
    w = srp_weights(planes, dim)

    def lit_list(row: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in row) + "]"

    dot_cols = ",\n         ".join(
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> {vector_col}[i]::DOUBLE * ({lit_list(w[j])})[i])) AS _d{j}"
        for j in range(planes)
    )
    buckets = ", ".join(
        " + ".join(
            f"(CASE WHEN _d{b * per_band + r} >= 0.0 THEN {1 << r} ELSE 0 END)"
            for r in range(per_band)
        )
        for b in range(bands)
    )
    norm = (
        f"sqrt(list_sum(list_transform({{v}}, x -> x::DOUBLE * x::DOUBLE)))"
    )
    dot_ab = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        " i -> a.{v}[i]::DOUBLE * b.{v}[i]::DOUBLE))"
    ).format(v=vector_col)
    return f"""
WITH _dots AS (
  SELECT {id_col}, {vector_col},
         {dot_cols}
  FROM {table}
), _keys AS (
  SELECT {id_col}, k.k AS band, ([{buckets}])[k.k + 1] AS bucket
  FROM _dots, generate_series(0, {bands - 1}) AS k(k)
), _cand AS (
  SELECT DISTINCT l.{id_col} AS id_a, r.{id_col} AS id_b
  FROM _keys l JOIN _keys r ON l.band = r.band AND l.bucket = r.bucket
                            AND l.{id_col} < r.{id_col}
)
SELECT id_a, id_b,
       {dot_ab} / ({norm.format(v='a.' + vector_col)} * {norm.format(v='b.' + vector_col)}) AS cosine
FROM _cand
JOIN {table} a ON a.{id_col} = _cand.id_a
JOIN {table} b ON b.{id_col} = _cand.id_b
WHERE {dot_ab} / ({norm.format(v='a.' + vector_col)} * {norm.format(v='b.' + vector_col)}) >= {threshold}
"""


def sq8_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k over an int8-quantized gallery (FAISS-SQ8
    style asymmetric distance): probes stay float, the gallery is
    per-vector min/max-quantized to 0..255 codes, and similarity is
    the cosine of probe x DEQUANTIZED gallery vector.

    The quantized-retrieval face of q49's compression pass: at scale
    the gallery scan moves 1/4 the bytes of the float path (codes pack
    to one byte each; locally they ride as an int array — the plan
    shape, not the storage encoding, is what this verifies), and the
    per-pair work is still one index-ordered fold.

    Scale shape mirrors ``pairwise_similarity_topk`` (reference
    pairwise comparer, PedestrianReIDer.java:38): everything
    per-row — codes, scale, dequantized norm, probe norm/sum — is
    computed BELOW the broadcast cross join, so the pair expression is
    the single code fold
      sim = (mn * sum(p) + step * dot(p, codes)) / (pnorm * deq_norm)
    which is algebraically dot(p, dequant(g)) / (|p| * |dequant(g)|)
    with every float op in a fixed order, so an engine-independent
    oracle reproduces it bit-for-bit.
    """
    step = (F.col("_mx") - F.col("_mn")) / F.lit(255.0)
    g = (
        gallery.select(
            F.col(gallery_key).alias("gallery_key"),
            F.col(vector_col).alias("_gvec"),
        )
        .withColumn("_mn", F.array_min("_gvec").cast("double"))
        .withColumn("_mx", F.array_max("_gvec").cast("double"))
        # degenerate (constant) vectors: mx == mn would divide by zero
        # (engine-dependent NULL/inf); quantize them to all-zero codes
        # with step 0, so dequant reproduces the constant mn exactly
        # and gnorm = |mn| * sqrt(dim)
        .withColumn("_step", F.when(F.col("_mx") > F.col("_mn"), step).otherwise(F.lit(0.0)))
        .withColumn(
            "_codes",
            F.when(
                F.col("_mx") > F.col("_mn"),
                F.transform(
                    "_gvec",
                    lambda x: F.floor(
                        (x.cast("double") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")) * 255.0
                        + 0.5
                    ),
                ),
            ).otherwise(F.transform("_gvec", lambda x: F.lit(0).cast("bigint"))),
        )
        .withColumn(
            "_gnorm",
            F.sqrt(
                F.aggregate(
                    "_codes",
                    F.lit(0.0),
                    lambda acc, c: acc
                    + (F.col("_mn") + c.cast("double") * F.col("_step"))
                    * (F.col("_mn") + c.cast("double") * F.col("_step")),
                )
            ),
        )
        .drop("_gvec")
    )
    p = (
        probes.select(
            F.col(probe_key).alias("probe_key"), F.col(vector_col).alias("_pvec")
        )
        .withColumn("_pnorm", l2_norm("_pvec"))
        .withColumn(
            "_psum",
            F.aggregate("_pvec", F.lit(0.0), lambda acc, v: acc + v.cast("double")),
        )
    )
    dotc = F.aggregate(
        F.zip_with("_pvec", "_codes", lambda x, c: x.cast("double") * c.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    denom = F.col("_pnorm") * F.col("_gnorm")
    scored = (
        F.broadcast(p)
        .crossJoin(g)
        .withColumn(
            "similarity",
            F.when(
                denom > 0,
                (F.col("_mn") * F.col("_psum") + F.col("_step") * dotc) / denom,
            ),
        )
        .select("probe_key", "gallery_key", "similarity")
    )
    return _rank_tail(scored, F.desc("similarity"), k)


def sq8_topk_sql(
    table: str,
    probe_filter: str,
    id_col: str,
    vector_col: str,
    k: int,
) -> str:
    """DuckDB mirror of :func:`sq8_topk` — identical fold orders,
    including the constant-vector guard (codes 0, step 0)."""
    return f"""
WITH ga0 AS (
  SELECT {id_col} AS gallery_key,
         list_min({vector_col})::DOUBLE AS mn,
         list_max({vector_col})::DOUBLE AS mx,
         {vector_col} AS gvec
  FROM {table}
), ga AS (
  SELECT gallery_key, mn, mx,
         CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0.0 END AS step,
         CASE WHEN mx > mn THEN
           list_transform(gvec, x -> floor((x::DOUBLE - mn) / (mx - mn) * 255.0 + 0.5))
         ELSE list_transform(gvec, x -> 0.0) END AS codes
  FROM ga0
), ga2 AS (
  SELECT gallery_key, mn, mx, step, codes,
         sqrt(list_sum(list_transform(codes,
              c -> (mn + c::DOUBLE * step) * (mn + c::DOUBLE * step)))) AS gnorm
  FROM ga
), pr AS (
  SELECT {id_col} AS probe_key, {vector_col} AS pvec,
         sqrt(list_sum(list_transform({vector_col}, x -> x::DOUBLE * x::DOUBLE))) AS pnorm,
         list_sum(list_transform({vector_col}, x -> x::DOUBLE)) AS psum
  FROM {table} WHERE {probe_filter}
), scored AS (
  SELECT probe_key, gallery_key,
         CASE WHEN pnorm * gnorm > 0 THEN
           (mn * psum + step * list_sum(list_transform(generate_series(1, len(pvec)),
                i -> pvec[i]::DOUBLE * codes[i]::DOUBLE))) / (pnorm * gnorm)
         END AS similarity
  FROM pr CROSS JOIN ga2
), ranked AS (
  SELECT probe_key, gallery_key, similarity,
         row_number() OVER (PARTITION BY probe_key
                            ORDER BY similarity DESC, gallery_key) AS rank
  FROM scored
)
SELECT probe_key, gallery_key, rank::BIGINT AS rank,
       floor((similarity) * 10000.0 + 0.5) / 10000.0 AS similarity
FROM ranked WHERE rank <= {k}
"""


def ivf2_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    k: int = 5,
    fine_mod: int = 20,
    coarse_mod: int = 80,
    nprobe: int = 2,
) -> DataFrame:
    """Two-level IVF ANN (coarse quantizer over the fine centroids) —
    the fix for flat IVF's scale limit (SCALE.md): at 10^11 vectors a
    flat sqrt(N) centroid table is ~1.2 GB, over the broadcast budget,
    while two levels broadcast only the coarse table plus the per-cell
    fine slices (each ~sqrt of the flat table). Per-vector assignment
    cost drops from |fine| comparisons to |coarse| + fine-per-cell.

    Deterministic, seedless centroid choice (key % mod == 0, coarse a
    subset of fine since coarse_mod is a multiple of fine_mod), so an
    engine-independent oracle reproduces every assignment; descent
    keeps ``nprobe`` coarse cells (covers fine cells whose members sit
    near a coarse boundary, and makes empty-cell drops impossible in
    practice), then 1 fine cell for gallery rows / ``nprobe`` for
    probes — the recall knobs of a FAISS IVF-HNSW-style hierarchy with
    exact bucketed search at the bottom.
    """
    if coarse_mod % fine_mod != 0:  # not assert: must survive python -O
        raise ValueError(
            f"coarse centroids must be a subset of fine: coarse_mod "
            f"{coarse_mod} is not a multiple of fine_mod {fine_mod}"
        )
    # each centroid table costs a gallery scan and is referenced by
    # several downstream joins (coarse by both descents + the fine
    # index; f2c broadcast twice) — materialize the centroid-sized
    # frames once (measured: 10 gallery scans -> 1 per level)
    fine = persist_disk(
        gallery.filter((F.col(gallery_key) % fine_mod) == 0).select(
            F.col(gallery_key).alias("fid"), F.col(vector_col)
        )
    )
    coarse = persist_disk(
        gallery.filter((F.col(gallery_key) % coarse_mod) == 0).select(
            F.col(gallery_key).alias("centroid_id"), F.col(vector_col)
        )
    )
    # the ONE-ROW coarse fold, shared by the level-1 index and both
    # descents (staged: three references, one aggregate)
    coarse_crow = persist_disk(_centroid_fold(coarse, vector_col))
    # level-1 index: fine centroid -> its nearest coarse cell
    f2c = persist_disk(
        _nearest_centroids(fine, coarse_crow, vector_col, keep=1).select(
            "fid", "centroid_id"
        )
    )
    # per-coarse-cell fine slices, folded to ONE broadcast map row:
    # centroid_id -> sorted array of (fid, fvec, fnorm) structs. Same
    # total bytes as the broadcast-hash fine_vecs join it replaces;
    # beyond the broadcast budget the per-cell slices must be served
    # partitioned (SCALE.md q70 row) — unchanged trade.
    cell_map = F.broadcast(
        f2c.join(
            fine.select(
                "fid",
                F.transform(vector_col, lambda x: x.cast("double")).alias("_fvec"),
                l2_norm(vector_col).alias("_fnorm"),
            ),
            on="fid",
        )
        .groupBy("centroid_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("fid", "_fvec", "_fnorm"))
            ).alias("_fines")
        )
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("centroid_id", "_fines")))
            ).alias("_cellmap")
        )
    )

    def descend(vectors: DataFrame, keep_fine: int) -> DataFrame:
        """coarse cells (nprobe) -> candidate fine centroids -> keep
        the best ``keep_fine`` fine cells per vector, as one
        ``centroid_id`` (fine id) row each.

        Round-5 fold shape: the coarse cells arrive as an ARRAY column
        (no explode), their fine slices come out of the one-row
        broadcast map, and the cross-cell ranking is an array_sort
        over the concatenated candidates — the old join + rank-window
        pair shuffled the FULL vector side twice (cells explode +
        fine rank).  Total order (fsim DESC, fid ASC) is unchanged.
        """
        cand = (
            _nearest_centroid_arr(vectors, coarse_crow, vector_col, keep=nprobe)
            .crossJoin(cell_map)
            .withColumn(
                "_cands",
                F.flatten(
                    F.filter(
                        F.transform(
                            "_cells", lambda cid: F.element_at("_cellmap", cid)
                        ),
                        lambda a: a.isNotNull(),
                    )
                ),
            )
        )
        scored = F.transform(
            F.col("_cands"),
            lambda f: F.struct(
                (
                    -(
                        dot_product(F.col(vector_col), f["_fvec"])
                        / (F.col("_vnorm") * f["_fnorm"])
                    )
                ).alias("_negsim"),
                f["fid"].alias("fid"),
            ),
        )
        if keep_fine == 1:
            # gallery-sized call: array_min instead of explode (the
            # Generate re-evaluation cost — see _nearest_centroids)
            return cand.select(
                *vectors.columns, F.array_min(scored)["fid"].alias("centroid_id")
            ).filter(F.col("centroid_id").isNotNull())  # no fines in probed cells: drop, as explode did
        return (
            cand.withColumn(
                "_t", F.explode(F.slice(F.array_sort(scored), 1, keep_fine))
            )
            .select(*vectors.columns, F.col("_t.fid").alias("centroid_id"))
        )

    return _bucketed_cosine_topk(
        probes, gallery, probe_key, gallery_key, vector_col, k, nprobe, descend
    )


def hard_negatives_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    label_col: str,
    vector_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each probe, the k gallery
    vectors MOST similar to it among those carrying a DIFFERENT label
    — the pairs a metric-learning / contrastive trainer wants in the
    batch (the reid analog: most-confusable other-person tracklets,
    PedestrianReIDer.java:38 run with an exclusion predicate).

    Delegates to the shared BLAS ranking kernel
    (operators/joins._stream_matmul_topk) with the label mask on:
    same-label pairs, pairs where either label is NULL (matching SQL
    ``g.label != p.label``, never true against NULL), and zero-norm
    pairs are excluded before the per-batch top-k.
    """
    from las_vpe_platform_spark.operators.joins import _stream_matmul_topk

    return _stream_matmul_topk(
        probes, gallery, probe_key, gallery_key, vector_col, k, label_col=label_col
    )


def semantic_dedup_keep(
    vectors: DataFrame,
    id_col: str,
    vector_col: str,
    dim: int,
    planes: int = 4,
    threshold: float = 0.9,
    seed: str = "semdedup",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a kept-set operator: cluster the
    embedding space, verify cosine only WITHIN a cluster, and drop the
    later (larger-id) member of every over-threshold pair.  Returns the
    surviving rows as (id, cluster) — the actual dedup semantic, where
    q31/q59 emit candidate PAIRS.

    The cluster assignment is one SRP band of ``planes`` sign bits
    (data-independent, plan-time literal hyperplanes — no centroid
    training pass), so the map side is shuffle-free; the only
    exchanges are the within-cluster self-join on the bucket id
    (cost sum over buckets of C(n_bucket, 2), never corpus pairs) and
    the final anti-join on the dropped-id set.  Recall is bounded by
    the SRP collision probability (1 - theta/pi)^planes, the
    documented SemDeDup trade: raising ``planes`` shrinks buckets
    (faster) and lowers recall.
    """
    w = srp_weights(planes, dim, seed=seed)
    wlit = "array(" + ", ".join(
        "array(" + ", ".join(f"{x:.1f}D" for x in row) + ")" for row in w
    ) + ")"
    bucket_expr = " + ".join(
        f"(CASE WHEN aggregate(zip_with({vector_col}, element_at({wlit}, {j + 1}),"
        f" (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),"
        f" (acc, v) -> acc + v) >= 0.0D THEN {1 << j} ELSE 0 END)"
        for j in range(planes)
    )
    keyed = vectors.selectExpr(id_col, vector_col, f"({bucket_expr}) AS cluster")

    # Within-cluster verification as a grouped BLAS kernel — the
    # SemDeDup paper's own shape (all pairwise cosines of ONE cluster
    # at a time, which is why the cluster count must scale with N):
    # a self-join with per-pair interpreted array folds measured ~6x
    # slower at 64-d. Emits the DROPPED ids per cluster.
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    id_type = vectors.schema[id_col].dataType
    drop_schema = StructType([StructField(id_col, id_type)])

    def _dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        G = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vector_col].iloc[order]]
        )
        norms = np.sqrt((G * G).sum(axis=1))
        denom = norms[:, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (G @ G.T) / np.where(denom > 0, denom, 1.0), 0.0)
        over = sims >= threshold
        # ids ascending: column j is dropped if any row i < j is over
        drop = np.array(
            [over[:j, j].any() for j in range(len(ids))], dtype=bool
        )
        return pd.DataFrame({id_col: ids[drop]})

    dropped = keyed.groupBy("cluster").applyInPandas(_dropped, drop_schema)
    return (
        keyed.join(dropped, on=id_col, how="left_anti")
        .select(id_col, F.col("cluster").cast("int").alias("cluster"))
    )


def semantic_dedup_sql(
    table: str,
    id_col: str,
    vector_col: str,
    dim: int,
    planes: int = 4,
    threshold: float = 0.9,
    seed: str = "semdedup",
) -> str:
    """DuckDB mirror of :func:`semantic_dedup_keep`, generated from the
    same hyperplane constants."""
    w = srp_weights(planes, dim, seed=seed)

    def lit_list(row: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in row) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> {vector_col}[i]::DOUBLE * ({lit_list(w[j])})[i])) >= 0.0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(planes)
    )
    norm = f"sqrt(list_sum(list_transform({vector_col}, x -> x::DOUBLE * x::DOUBLE)))"
    dot_ab = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> a.{vector_col}[i]::DOUBLE * b.{vector_col}[i]::DOUBLE))"
    )
    return f"""
WITH _keyed AS (
  SELECT {id_col}, {vector_col}, ({bucket}) AS cluster, {norm} AS _n
  FROM {table}
), _dropped AS (
  SELECT DISTINCT b.{id_col} AS {id_col}
  FROM _keyed a JOIN _keyed b ON a.cluster = b.cluster
                             AND a.{id_col} < b.{id_col}
  WHERE {dot_ab} / (a._n * b._n) >= {threshold}
)
SELECT k.{id_col}, k.cluster::INT AS cluster
FROM _keyed k ANTI JOIN _dropped d ON k.{id_col} = d.{id_col}
"""


# --- product quantization: one codec for PQ and IVF-PQ ----------------------

def _subspace_sq_dist(vec, cvec, s, sub_d: int):
    """Squared L2 between two double arrays over subspace ``s``
    (elements ``s*sub_d+1 .. (s+1)*sub_d``), folded in sub-dim index
    order — the encode and ADC primitive of :func:`_pq_codec`. Both
    DuckDB mirrors spell the identical fold so the doubles match
    bit-for-bit."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(sub_d)),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at(vec, (s * sub_d + i).cast("int"))
            - F.element_at(cvec, (s * sub_d + i).cast("int"))
        )
        * (
            F.element_at(vec, (s * sub_d + i).cast("int"))
            - F.element_at(cvec, (s * sub_d + i).cast("int"))
        ),
    )


def _pq_codec(
    gal: DataFrame, prb: DataFrame, dim: int, m: int, n_codes: int
) -> tuple[DataFrame, DataFrame]:
    """The product-quantization codec of :func:`pq_topk` (raw vectors)
    and :func:`ivfpq_topk` (residuals). ``gal`` is (``gallery_key``,
    ..., ``_vec``) and ``prb`` (``probe_key``, ..., ``_vec``), ``_vec``
    a double array. Returns ``gal`` with ``_vec`` encoded as ``_codes``
    and ``prb`` with ``_vec`` turned into its ADC table ``_adc``;
    :func:`_adc_dist` scores a joined pair.

    Determinism contract (what both DuckDB mirrors spell):

    - codebook = the ``_vec`` of the ``n_codes`` smallest
      ``gallery_key`` rows (TakeOrderedAndProject — per-partition
      top-k, no full sort), positions 0..n_codes-1 in key order;
    - encode: per subspace, argmin squared-L2 over codebook positions,
      ties to the smaller position; sub-dim folds run in index order;
    - ADC: each probe row's per-(subspace, position) distance table is
      computed once BELOW the pair join.

    Everything is lazy column expressions over a one-row broadcast
    codebook aggregate — no job at plan-build, composable into
    streaming plans (the s13 assignment pattern).
    """
    sub_d = dim // m
    # the one-row codebook is referenced by BOTH the gallery encode and
    # the probe ADC subtree — stage it (SCALE.md multi-reference rule)
    # or each side pays its own full-gallery TakeOrderedAndProject scan
    cb = F.broadcast(
        persist_disk(
            gal.orderBy("gallery_key")
            .limit(n_codes)
            .agg(
                F.array_sort(F.collect_list(F.struct("gallery_key", "_vec"))).alias("_cb")
            )
            .select(F.transform("_cb", lambda c: c["_vec"]).alias("_cb"))
        )
    )
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    codes = gal.crossJoin(cb).select(
        *[c for c in gal.columns if c != "_vec"],
        F.transform(
            subspaces,
            lambda s: F.array_min(
                F.transform(
                    F.col("_cb"),
                    lambda c, j: F.struct(
                        _subspace_sq_dist(F.col("_vec"), c, s, sub_d).alias("d"),
                        j.alias("j"),
                    ),
                )
            )["j"],
        ).alias("_codes"),
    )
    adc = prb.crossJoin(cb).select(
        *[c for c in prb.columns if c != "_vec"],
        F.transform(
            subspaces,
            lambda s: F.transform(
                F.col("_cb"), lambda c: _subspace_sq_dist(F.col("_vec"), c, s, sub_d)
            ),
        ).alias("_adc"),
    )
    return codes, adc


def _adc_dist() -> Column:
    """``adc_dist`` of a joined (``_adc``, ``_codes``) pair: the ``m``
    table lookups summed in subspace order."""
    return F.aggregate(
        F.zip_with(
            "_adc", "_codes", lambda a, c: F.element_at(a, (c + 1).cast("int"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ).alias("adc_dist")


def pq_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
) -> DataFrame:
    """Product-quantization ANN (FAISS IVF-PQ's storage half): the
    gallery is encoded as ``m`` sub-vector codes against a shared
    codebook, and probes score gallery rows by asymmetric distance —
    a sum of ``m`` table lookups instead of a ``dim``-wide float dot.

    Fifth ANN path after q27 (exact), q29/q70 (IVF), q59 (SRP), q66
    (SQ8).  SQ8 compresses 4x and still pays O(dim) per pair; PQ
    compresses ``dim*4 / m`` bytes-per-vector (32x here: 8 one-byte
    codes for a 64-dim float vector) and pays O(m) per pair.  At 10^11
    vectors this is the difference between a code table that fits in
    cluster RAM and one that doesn't — compose with ``ivf_topk``'s
    cell pruning for the full IVF-PQ (reference pairwise comparer J9,
    ExternPedestrianComparerUsingAttr.java:170-194, is the O(P x N)
    primitive this replaces at scale).

    The codec (:func:`_pq_codec`) runs on the raw vectors; every probe
    is scored against every gallery code, ties to the smaller key.
    """
    gal = gallery.select(
        F.col(gallery_key).alias("gallery_key"),
        F.transform(vector_col, lambda x: x.cast("double")).alias("_vec"),
    )
    prb = probes.select(
        F.col(probe_key).alias("probe_key"),
        F.transform(vector_col, lambda x: x.cast("double")).alias("_vec"),
    )
    codes, adc = _pq_codec(gal, prb, dim, m, n_codes)
    scored = (
        F.broadcast(adc)
        .crossJoin(codes)
        .select("probe_key", "gallery_key", _adc_dist())
    )
    return _rank_tail(scored, F.asc("adc_dist"), k)


def pq_topk_sql(
    table: str,
    probe_filter: str,
    id_col: str,
    vector_col: str,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
) -> str:
    """DuckDB mirror of :func:`pq_topk` — identical codebook choice,
    argmin tie-break, and fold orders (``probe_filter`` is applied to
    alias ``p``)."""
    sub_d = dim // m

    def d2(vec: str, cvec: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {sub_d}),"
            f" i -> ({vec}[s.s*{sub_d}+i]::DOUBLE - {cvec}[s.s*{sub_d}+i]::DOUBLE)"
            f" * ({vec}[s.s*{sub_d}+i]::DOUBLE - {cvec}[s.s*{sub_d}+i]::DOUBLE)))"
        )

    return f"""
WITH cb0 AS (
  SELECT {id_col} AS cid, {vector_col} AS cvec
  FROM {table} ORDER BY {id_col} LIMIT {n_codes}
), cb AS (
  SELECT row_number() OVER (ORDER BY cid) - 1 AS j, cvec FROM cb0
), g_sub AS (
  SELECT g.{id_col} AS gallery_key, s.s AS s, cb.j,
         {d2('g.' + vector_col, 'cb.cvec')} AS d2
  FROM {table} g CROSS JOIN cb CROSS JOIN generate_series(0, {m - 1}) AS s(s)
), g_codes AS (
  SELECT gallery_key, s, j AS code FROM (
    SELECT gallery_key, s, j,
           row_number() OVER (PARTITION BY gallery_key, s ORDER BY d2, j) AS rn
    FROM g_sub
  ) WHERE rn = 1
), p_sub AS (
  SELECT p.{id_col} AS probe_key, s.s AS s, cb.j,
         {d2('p.' + vector_col, 'cb.cvec')} AS d2
  FROM {table} p CROSS JOIN cb CROSS JOIN generate_series(0, {m - 1}) AS s(s)
  WHERE {probe_filter}
), pair AS (
  SELECT ps.probe_key, gc.gallery_key,
         list_sum(list(ps.d2 ORDER BY gc.s)) AS adc_dist
  FROM g_codes gc JOIN p_sub ps ON ps.s = gc.s AND ps.j = gc.code
  GROUP BY ps.probe_key, gc.gallery_key
), ranked AS (
  SELECT probe_key, gallery_key, adc_dist,
         row_number() OVER (PARTITION BY probe_key
                            ORDER BY adc_dist, gallery_key) AS rank
  FROM pair
)
SELECT probe_key, gallery_key, rank::BIGINT AS rank,
       floor((adc_dist) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
FROM ranked WHERE rank <= {k}
"""


# --- IVF-PQ: coarse cells + residual product quantization -------------------

def ivfpq_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    num_centroids_mod: int = 50,
    nprobe: int = 2,
) -> DataFrame:
    """The full FAISS-architecture ANN: IVF coarse cells (q29's
    deterministic ``key % mod`` quantizer) + product quantization of
    the RESIDUAL ``vec - centroid`` (not the raw vector, as
    :func:`pq_topk` encodes) + asymmetric-distance scoring restricted
    to the probe's ``nprobe`` nearest cells.

    Why this is the 10^11-vector shape (completing the ladder q27 ->
    q29/q70 -> q59 -> q66 -> q111): IVF alone still pays O(dim) floats
    per scanned pair; PQ alone still scans every gallery code. Composed,
    a probe touches ``nprobe/num_cells`` of the corpus at O(m) bytes
    per pair, and residual encoding recovers most of the quantization
    error IVF leaves (residual norms are a cell-radius, not a
    corpus-radius — the same codebook budget buys finer resolution).
    Replaces the reference's O(P x N) socket comparer (J9,
    ExternPedestrianComparerUsingAttr.java:170-194) at scale.

    Determinism contract (mirrored by :func:`ivfpq_topk_sql`):

    - coarse centroids: gallery rows with ``key % num_centroids_mod
      == 0``; cell assignment by cosine, ties to the smaller centroid;
    - the codec (:func:`_pq_codec`) runs on the residuals: the
      codebook holds the residuals of the ``n_codes`` smallest
      ``gallery_key`` rows (post-assignment), and each (probe, probed
      cell) gets its own ADC table; final ties to the smaller gallery
      key.

    Everything below the pair join is lazy column expressions; the
    gallery is touched by exactly two full passes (assign, encode) and
    never shuffled — the pair join broadcasts the (probes x nprobe)
    ADC side into the cells.
    """
    # coarse quantizer — same multi-reference staging as ivf_topk
    centroids = persist_disk(
        gallery.filter((F.col(gallery_key) % num_centroids_mod) == 0).select(
            F.col(gallery_key).alias("centroid_id"), F.col(vector_col)
        )
    )
    cvecs = F.broadcast(
        centroids.select(
            "centroid_id",
            F.transform(vector_col, lambda x: x.cast("double")).alias("_cvec"),
        )
    )

    # the ONE-ROW centroid fold, shared by the gallery assignment and
    # the probe bucketing (staged: one aggregate, not one per call)
    crow = persist_disk(_centroid_fold(centroids, vector_col))

    def residuals(vectors: DataFrame, keep: int) -> DataFrame:
        # vectors -> their ``keep`` nearest cells -> vec - centroid
        return (
            _nearest_centroids(vectors, crow, vector_col, keep)
            .join(cvecs, on="centroid_id")
            .select(
                *[c for c in vectors.columns if c != vector_col],
                "centroid_id",
                F.zip_with(
                    F.transform(vector_col, lambda x: x.cast("double")),
                    "_cvec",
                    lambda a, b: a - b,
                ).alias("_vec"),
            )
        )

    # the gallery residuals are referenced by BOTH the codebook
    # derivation and the encode pass, so stage them once
    gal = persist_disk(
        residuals(
            gallery.select(
                F.col(gallery_key).cast("bigint").alias("gallery_key"),
                F.col(vector_col),
            ),
            1,
        )
    )
    prb = residuals(
        probes.select(F.col(probe_key).alias("probe_key"), F.col(vector_col)),
        nprobe,
    )
    codes, adc = _pq_codec(gal, prb, dim, m, n_codes)
    scored = (
        F.broadcast(adc)
        .join(codes, on="centroid_id")
        .select("probe_key", "gallery_key", _adc_dist())
    )
    return _rank_tail(scored, F.asc("adc_dist"), k)


def ivfpq_topk_sql(
    table: str,
    probe_filter: str,
    id_col: str,
    vector_col: str,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    num_centroids_mod: int = 50,
    nprobe: int = 2,
) -> str:
    """DuckDB mirror of :func:`ivfpq_topk` — identical coarse
    quantizer, residual codebook choice, argmin tie-breaks and fold
    orders (``probe_filter`` is applied to alias ``p``)."""
    sub_d = dim // m
    # same fragments as queries_data.SQL_DOT / SQL_NORM (spelled here
    # to keep the operator module import-cycle-free)
    def cos(a: str, b: str) -> str:
        dot = (
            f"list_sum(list_transform(generate_series(1, len({a})), "
            f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
        )
        na = f"sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
        nb = f"sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))"
        return f"({dot} / ({na} * {nb}))"

    def d2(vec: str, cvec: str) -> str:
        # residual lists are already DOUBLE
        return (
            f"list_sum(list_transform(generate_series(1, {sub_d}),"
            f" i -> ({vec}[s.s*{sub_d}+i] - {cvec}[s.s*{sub_d}+i])"
            f" * ({vec}[s.s*{sub_d}+i] - {cvec}[s.s*{sub_d}+i])))"
        )

    return f"""
WITH cen AS (
  SELECT {id_col}::BIGINT AS centroid_id, {vector_col} AS cvec
  FROM {table} WHERE {id_col} % {num_centroids_mod} = 0
), gal AS (
  SELECT {id_col} AS gallery_key, {vector_col} AS gvec, centroid_id, cvec,
         row_number() OVER (PARTITION BY {id_col}
                            ORDER BY {cos(vector_col, 'cvec')} DESC, centroid_id) AS crank
  FROM {table} CROSS JOIN cen
  QUALIFY crank = 1
), gres AS (
  SELECT gallery_key, centroid_id,
         list_transform(generate_series(1, {dim}),
                        i -> gvec[i]::DOUBLE - cvec[i]::DOUBLE) AS rvec
  FROM gal
), cb0 AS (
  SELECT gallery_key, rvec FROM gres ORDER BY gallery_key LIMIT {n_codes}
), cb AS (
  SELECT row_number() OVER (ORDER BY gallery_key) - 1 AS j, rvec AS cvec FROM cb0
), g_sub AS (
  SELECT g.gallery_key, g.centroid_id, s.s AS s, cb.j,
         {d2('g.rvec', 'cb.cvec')} AS d2
  FROM gres g CROSS JOIN cb CROSS JOIN generate_series(0, {m - 1}) AS s(s)
), g_codes AS (
  SELECT gallery_key, centroid_id, s, j AS code FROM (
    SELECT gallery_key, centroid_id, s, j,
           row_number() OVER (PARTITION BY gallery_key, s ORDER BY d2, j) AS rn
    FROM g_sub
  ) WHERE rn = 1
), pcell AS (
  SELECT p.{id_col} AS probe_key, p.{vector_col} AS pvec, centroid_id, cvec,
         row_number() OVER (PARTITION BY p.{id_col}
                            ORDER BY {cos('p.' + vector_col, 'cvec')} DESC, centroid_id) AS crank
  FROM {table} p CROSS JOIN cen
  WHERE {probe_filter}
  QUALIFY crank <= {nprobe}
), pres AS (
  SELECT probe_key, centroid_id,
         list_transform(generate_series(1, {dim}),
                        i -> pvec[i]::DOUBLE - cvec[i]::DOUBLE) AS rvec
  FROM pcell
), p_adc AS (
  SELECT p.probe_key, p.centroid_id, s.s AS s, cb.j,
         {d2('p.rvec', 'cb.cvec')} AS d2
  FROM pres p CROSS JOIN cb CROSS JOIN generate_series(0, {m - 1}) AS s(s)
), pair AS (
  SELECT ps.probe_key, gc.gallery_key,
         list_sum(list(ps.d2 ORDER BY gc.s)) AS adc_dist
  FROM g_codes gc
  JOIN p_adc ps ON ps.centroid_id = gc.centroid_id
               AND ps.s = gc.s AND ps.j = gc.code
  GROUP BY ps.probe_key, gc.gallery_key
), ranked AS (
  SELECT probe_key, gallery_key, adc_dist,
         row_number() OVER (PARTITION BY probe_key
                            ORDER BY adc_dist, gallery_key) AS rank
  FROM pair
)
SELECT probe_key, gallery_key, rank::BIGINT AS rank,
       floor((adc_dist) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
FROM ranked WHERE rank <= {k}
"""
