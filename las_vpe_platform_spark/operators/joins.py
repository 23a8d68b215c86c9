"""Join operators (SURVEY §2.4 J1-J9).

The reference's relational centerpiece is the ReID dual-source join
(PedestrianReIDUsingAttrApp.java:136-243): a per-batch full outer join
plus two manual 600 s late-data re-join windows (J1-J6). In batch that
is exactly one full outer join; in streaming, one watermarked
stream-stream join (see streaming/engine.py). The pairwise comparison
primitive (J9, ExternPedestrianComparerUsingAttr.java:170-194) becomes
a crossJoin + similarity expression + per-probe top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# The probe-broadcast contract (SCALE.md), ENFORCED in code since r11
# (VERDICT r10 #3): at most this many probe rows are ever collected to
# the driver by the BLAS ranking kernel; larger probe sets take the
# blocked-grid path, which never collects either side.
PROBE_BROADCAST_MAX = 10_000
# The dual contract for the streaming-safe ranker: its gallery is the
# broadcast-DIM side (persons, never corpus). Unlike the probe ladder
# there is no silent reroute — the operator must stay stateless and
# windowless to compose after stream-stream joins, so a corpus-sized
# gallery is a CALLER error and fails loudly at plan build instead of
# OOMing the driver mid-stream.
GALLERY_BROADCAST_MAX = 100_000
# Blocked-grid sizing: a probe block is one dense float64 matrix per
# cogroup task (4096 x 1024-d = 32 MB worst case); a gallery block
# bounds the other matrix the same way. Block counts derive from
# ACTUAL row counts, so per-task memory is scale-invariant.
PROBE_BLOCK_ROWS = 4_096
GALLERY_BLOCK_ROWS = 65_536


def full_outer_assemble(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "full_outer",
) -> DataFrame:
    """Tracklet ⨝ Attributes assembly (J1+J6).

    The reference unions instant matches with two windowed late-data
    re-joins (J4/J5); in one Spark plan the union collapses into a
    single join — matched rows have both sides, unmatched rows carry
    nulls exactly like the reference's outer remainders.
    """
    return left.join(right, on=on, how=how)


def pairwise_similarity_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Probe-vs-gallery similarity ranking (J9 + W1/W2).

    The batch re-expression of the socket-offloaded comparer + IDRANK
    output (PedestrianReIDer.java:38,
    PedestrianReIDUsingAttrApp.java:226-228).

    Execution shape (the 100 TB path): the FEW probes are collected and
    broadcast as one dense float64 matrix — exactly what a broadcast
    hash join would ship, minus the row overhead — and the LARGE
    gallery streams through ``mapInPandas``, where each Arrow batch
    computes all probe×batch cosines as ONE BLAS matmul and keeps only
    its per-probe top-k candidates.  Per-element Catalyst array folds
    (zip_with + aggregate) are interpreted per element, which measured
    ~10x slower than Arrow+BLAS at 1024-d; dense linear algebra is the
    one hot path where the vectorized-Python escape hatch wins.  The
    only shuffle is the final exact window over #batches x #probes x k
    candidate rows (global top-k is contained in the union of
    per-batch top-k under the same total order), so cost scales
    linearly in gallery size with no gallery-side exchange.

    Tie-breaking matches the SQL oracle: similarity DESC (NULLs — from
    zero-norm vectors — last), then gallery_key ASC.  All math is
    float64, matching the ::DOUBLE casts in the oracle to ~1e-15.

    Lifecycle note (ADVICE r11): above the probe-broadcast contract
    the blocked-grid path stages both projected sides DISK_ONLY via
    the staging registry, and those blocks are CORPUS-sized. The
    release half of the contract is the caller's: harnesses call
    ``las_vpe_platform_spark.unpersist_all()`` between queries
    (bench.py does), and long-lived sessions invoking this operator
    repeatedly wrap each call in
    ``las_vpe_platform_spark.scoped_persists()`` — otherwise each
    above-contract invocation accretes two corpus-sized disk blocks.
    """
    return _stream_matmul_topk(
        probes, gallery, probe_key, gallery_key, vector_col, k, label_col=None
    )


# Gallery sub-tile inside _topk_block (ADVICE r11, medium): a FULL
# grid cell (4096 probes x 65536 gallery rows) scored in one shot
# allocates ~2 GiB per n_p x n_g float64 temporary (denom, masked
# divide, sims, -sims, argsort index) — a ~10 GiB transient peak per
# task, with up to 32 concurrent tasks. Scoring the gallery in
# 2048-row chunks with an exact running per-probe top-k merge caps
# every temporary at n_p x 2048 (~67 MB) while the matmul flops —
# the inherent cost — are unchanged. 2048 also bounds the broadcast
# path's Arrow batches (10k rows default) the same way.
TOPK_GALLERY_CHUNK_ROWS = 2_048


def _topk_block(keys_arr, labels, P, pnorm, pdf, k: int, exclude_mode: bool):
    """Score ONE probe matrix against ONE gallery block and return its
    per-probe top-k candidates as a pandas DataFrame — the scoring
    kernel shared by the broadcast path (:func:`_stream_matmul_topk`'s
    ``_score``, once per Arrow batch) and the blocked-grid path
    (:func:`_blocked_candidates`, once per cogroup cell), so the two
    ladders cannot drift semantically.

    ``keys_arr`` is a pandas Series of probe keys aligned with the rows
    of ``P`` (n_probes x dim float64); ``pnorm`` its row norms;
    ``labels`` an object ndarray (exclude mode) or None. ``pdf`` must
    carry ``gallery_key``/``_gvec`` (+ ``_glabel`` in exclude mode).

    Exact-tie machinery: the gallery block is re-sorted by key ASC and
    scored in :data:`TOPK_GALLERY_CHUNK_ROWS`-row chunks; the running
    candidate set is kept in gallery-index-ascending column order
    between chunks (kept columns re-sorted by index, appended chunk
    columns always carry larger indices), so a STABLE argsort on
    -similarity alone implements the (sim DESC, key ASC) total order
    at every merge — the same union-of-local-topk argument the callers
    rely on across blocks, applied within the block. A full-width
    argpartition was considered instead of the chunked sort and
    rejected: at a tie straddling the k boundary argpartition keeps an
    arbitrary member, breaking the key tie-break contract.
    """
    import numpy as np
    import pandas as pd

    order = np.argsort(pdf["gallery_key"].to_numpy(), kind="stable")
    pdf = pdf.iloc[order]
    g_keys_all = pdf["gallery_key"].to_numpy()
    g_vecs_all = pdf["_gvec"].to_numpy()
    g_labels_all = pdf["_glabel"].to_numpy() if exclude_mode else None
    n_p = P.shape[0]
    n_g = len(g_keys_all)
    kk = min(k, n_g)
    p_null = pd.isna(labels) if exclude_mode else None

    run_sims = np.empty((n_p, 0), dtype=np.float64)
    run_gidx = np.empty((n_p, 0), dtype=np.int64)
    for start in range(0, n_g, TOPK_GALLERY_CHUNK_ROWS):
        stop = min(start + TOPK_GALLERY_CHUNK_ROWS, n_g)
        G = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in g_vecs_all[start:stop]]
        )
        gnorm = np.sqrt((G * G).sum(axis=1))
        denom = pnorm[:, None] * gnorm[None, :]
        masked = denom <= 0
        if exclude_mode:
            g_labels = g_labels_all[start:stop]
            g_null = pd.isna(g_labels)
            masked = (
                masked
                | (labels[:, None] == g_labels[None, :])
                | p_null[:, None]
                | g_null[None, :]
            )
        sims = np.where(masked, -np.inf, (P @ G.T) / np.where(masked, 1.0, denom))
        cand_sims = np.concatenate([run_sims, sims], axis=1)
        cand_gidx = np.concatenate(
            [
                run_gidx,
                np.broadcast_to(
                    np.arange(start, stop, dtype=np.int64), (n_p, stop - start)
                ),
            ],
            axis=1,
        )
        sel = np.argsort(-cand_sims, axis=1, kind="stable")[:, :kk]
        top_sims = np.take_along_axis(cand_sims, sel, axis=1)
        top_gidx = np.take_along_axis(cand_gidx, sel, axis=1)
        # restore gallery-index ASC column order so the NEXT merge's
        # stable argsort keeps breaking similarity ties by key
        reord = np.argsort(top_gidx, axis=1, kind="stable")
        run_sims = np.take_along_axis(top_sims, reord, axis=1)
        run_gidx = np.take_along_axis(top_gidx, reord, axis=1)

    # final emit order: (sim DESC, key ASC) per probe row
    sel = np.argsort(-run_sims, axis=1, kind="stable")
    out_sims = np.take_along_axis(run_sims, sel, axis=1).ravel()
    flat = np.take_along_axis(run_gidx, sel, axis=1).ravel()
    row_mask = (
        ~np.isneginf(out_sims)
        if exclude_mode
        else np.ones(len(out_sims), dtype=bool)
    )
    flat = flat[row_mask]
    out = pd.DataFrame(
        {
            "probe_key": keys_arr.repeat(kk).reset_index(drop=True)[row_mask],
            "gallery_key": g_keys_all[flat],
            "similarity": out_sims[row_mask],
        }
    )
    if not exclude_mode:
        # zero-norm pairs carry NULL similarity (ranked last)
        out.loc[np.isneginf(out["similarity"]), "similarity"] = None
    return out


def _blocked_candidates(
    p: DataFrame,
    g: DataFrame,
    k: int,
    exclude_mode: bool,
    cand_schema,
) -> DataFrame:
    """Distributed per-probe top-k candidates for probe sets ABOVE the
    broadcast contract (VERDICT r10 #3): NEITHER side ever reaches the
    driver. Both sides are tiled into a 2-D grid — probes hash into
    ceil(n_p / PROBE_BLOCK_ROWS) row-blocks and replicate across the
    gallery blocks; the gallery hashes into max(defaultParallelism,
    ceil(n_g / GALLERY_BLOCK_ROWS)) blocks and replicates across the
    probe blocks — and each grid cell scores one bounded probe matrix
    against one bounded gallery block via the shared kernel. Shuffle
    volume is n_p x G_blocks + n_g x P_blocks rows: for a corpus
    self-ranking that is O(n^2 / block) — a factor block_rows BELOW the
    O(n^2) pair compute the exact semantics inherently cost, so data
    movement never dominates. Per-cell candidates are exact per-probe
    per-block top-k under the same (sim DESC NULLS LAST, key ASC) total
    order, so the caller's global rank window reduces the union exactly
    (the same union-of-local-topk argument the broadcast path already
    relies on across Arrow batches).

    Both projected two-column inputs are staged (DISK_ONLY, the
    operators/staging contract) before the sizing counts, so the
    count jobs and the grid scan share ONE evaluation of each subtree
    — without it a derived probe frame (e.g. a pipeline join output)
    would recompute its upstream three times: the limit guard, the
    count, and the grid itself (ADVICE r11 review). The one-time
    materialization is strictly smaller than the grid's own shuffle
    (which replicates the same columns P- and G-fold).
    """
    import math

    import numpy as np

    from las_vpe_platform_spark.operators.staging import persist_disk

    spark = p.sparkSession
    p = persist_disk(p)
    g = persist_disk(g)
    n_probes = p.count()
    n_gallery = g.count()
    if n_gallery == 0:
        from las_vpe_platform_spark.sources.tables import inline_rows

        return inline_rows(spark, [], cand_schema)
    p_blocks = max(1, math.ceil(n_probes / PROBE_BLOCK_ROWS))
    g_blocks = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(n_gallery / GALLERY_BLOCK_ROWS),
    )
    pb = p.withColumn(
        "_pb", F.pmod(F.hash(F.col("probe_key")), F.lit(p_blocks))
    ).withColumn("_gb", F.explode(F.sequence(F.lit(0), F.lit(g_blocks - 1))))
    gb = g.withColumn(
        "_gb", F.pmod(F.hash(F.col("gallery_key")), F.lit(g_blocks))
    ).withColumn("_pb", F.explode(F.sequence(F.lit(0), F.lit(p_blocks - 1))))

    def _cell(lpdf, rpdf):
        import pandas as pd

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {"probe_key": [], "gallery_key": [], "similarity": []}
            )
        keys_arr = lpdf["probe_key"].reset_index(drop=True)
        labels = (
            np.asarray(lpdf["_plabel"], dtype=object) if exclude_mode else None
        )
        P = np.asarray([np.asarray(v, dtype=np.float64) for v in lpdf["_pvec"]])
        pnorm = np.sqrt((P * P).sum(axis=1))
        return _topk_block(keys_arr, labels, P, pnorm, rpdf, k, exclude_mode)

    return (
        pb.groupby("_pb", "_gb")
        .cogroup(gb.groupby("_pb", "_gb"))
        .applyInPandas(_cell, cand_schema)
    )


def _stream_matmul_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str,
    k: int,
    label_col: str | None,
) -> DataFrame:
    """The shared BLAS ranking kernel (see pairwise_similarity_topk for
    the execution-shape rationale; hard_negatives_topk delegates here
    with ``label_col`` set).

    Probe-count ladder (VERDICT r10 #3): the probe side is collected
    via ``limit(max + 1)`` — for the common few-probe case that IS the
    full probe set at zero extra jobs, and it structurally caps what
    the driver can ever receive. At or below
    :data:`PROBE_BROADCAST_MAX` (the SCALE.md contract) the
    collected matrix broadcasts and the gallery streams through
    ``mapInPandas`` with no exchange; above it, the corpus-probe case
    (q176's leave-one-out self-ranking at 100 TB) routes to
    :func:`_blocked_candidates`, where neither side is ever collected.
    Both ladders share :func:`_topk_block`, so their per-pair math,
    masking, and tie order are identical by construction — the global
    rank window below reduces either candidate stream to the same
    exact result.

    Two emit policies, matching the two SQL oracle formulations:
    - label_col=None: every pair ranks; zero-norm pairs carry NULL
      similarity and rank last (the F.when(denom > 0, ...) contract).
    - label_col set: same-label pairs, pairs where EITHER label is
      NULL (SQL ``g.label != p.label`` is never true against NULL),
      and zero-norm pairs are EXCLUDED before the top-k.

    Cross-engine float note: the dot products are BLAS blocked sums,
    the oracle's list_sum is a sequential fold — they agree to ~1e-15
    but not bitwise, so two gallery rows whose similarities tie within
    ~1 ulp could order differently across engines. Ties AT EQUAL bits
    break by gallery_key in both; sub-ulp near-ties are measure-zero
    for real embeddings and continuously re-checked by the sf0.01
    parity suite.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = probes.sparkSession
    # both ladder paths pickle a reference to the module-level
    # _topk_block kernel; external-harness sessions that never
    # pip-installed the package resolve it via the py-files zip
    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    exclude_mode = label_col is not None
    p_cols = [F.col(probe_key).alias("probe_key"), F.col(vector_col).alias("_pvec")]
    if label_col is not None:
        p_cols.append(F.col(label_col).alias("_plabel"))
    g_cols = [F.col(gallery_key).alias("gallery_key"), F.col(vector_col).alias("_gvec")]
    if label_col is not None:
        g_cols.append(F.col(label_col).alias("_glabel"))
    g = gallery.select(*g_cols)

    cand_schema = StructType(
        [
            StructField("probe_key", probes.schema[probe_key].dataType),
            StructField("gallery_key", gallery.schema[gallery_key].dataType),
            StructField("similarity", DoubleType()),
        ]
    )
    w = W.partitionBy("probe_key").orderBy(F.desc("similarity"), F.asc("gallery_key"))

    p_sel = probes.select(*p_cols)
    p_rows = p_sel.limit(PROBE_BROADCAST_MAX + 1).collect()
    if not p_rows:
        from las_vpe_platform_spark.sources.tables import inline_rows

        empty = inline_rows(spark, [], cand_schema)
        return empty.withColumn("rank", F.lit(1)).filter(F.lit(False))
    if len(p_rows) > PROBE_BROADCAST_MAX:
        # above the broadcast contract: corpus-sized probe set — the
        # partial collect is discarded and the blocked grid takes over
        candidates = _blocked_candidates(p_sel, g, k, exclude_mode, cand_schema)
        return (
            candidates.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    p_keys = [r["probe_key"] for r in p_rows]
    p_labels = (
        np.asarray([r["_plabel"] for r in p_rows], dtype=object)
        if label_col is not None
        else None
    )
    P = np.asarray([np.asarray(r["_pvec"], dtype=np.float64) for r in p_rows])
    pnorm = np.sqrt((P * P).sum(axis=1))
    # Spark's ContextCleaner reclaims the broadcast once the returned
    # frame (whose task closure holds the only reference) is GC'd —
    # no explicit destroy() needed, and destroying eagerly would break
    # re-execution of the lazy plan.
    bc = spark.sparkContext.broadcast((p_keys, p_labels, P, pnorm))

    def _score(batches):
        keys, labels, P, pnorm = bc.value
        keys_arr = pd.Series(keys)
        for pdf in batches:
            if pdf.empty:
                continue
            yield _topk_block(keys_arr, labels, P, pnorm, pdf, k, exclude_mode)

    # Parallelism guard for LARGE probe sets: the per-batch Python work
    # scales with n_probes x batch_rows, and a small parquet gallery
    # arrives as ONE partition — so a corpus self-ranking (q176's
    # leave-one-out, probes == gallery) serializes its entire
    # n_probes x n_gallery scoring in a single Python task (measured
    # sf0.1: 2000 probes, 1-partition gallery -> 6-14 s in one task vs
    # 1.8 s at 4 partitions). Few-probe rankings keep the original
    # no-exchange shape — the round-3 bench regression showed the
    # exchange costs MORE than it buys when the probe matrix is small
    # (q27's note), and per-batch candidate volume (probes x k per
    # batch) stays negligible either way. Output is identical under
    # any partitioning: each batch emits its local per-probe top-k and
    # the exact global window below reduces the union.
    if len(p_rows) >= 512:
        par = spark.sparkContext.defaultParallelism
        if g.rdd.getNumPartitions() < par:
            g = g.repartition(par)
    candidates = g.mapInPandas(_score, cand_schema)
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _gallery_matrix(tbl, gallery_key: str):
    """The key-sorted gallery of a collected ``(_gkey, _gvec)`` Arrow
    table as ``(keys, float64 matrix)``. A NULL key, a repeated key, and
    a NULL, NULL-holding or ragged vector each raise ``ValueError``
    naming the offending key."""
    import numpy as np
    import pyarrow.compute as pc

    where = "broadcast_gallery_topk: gallery"
    if tbl.column("_gkey").null_count:
        raise ValueError(f"{where} key column {gallery_key!r} holds a NULL")
    tbl = tbl.take(pc.sort_indices(tbl, [("_gkey", "ascending")]))
    keys = tbl.column("_gkey").to_pylist()
    for a, b in zip(keys, keys[1:]):
        if a == b:
            raise ValueError(f"{where} key {a!r} appears more than once")
    if not keys:
        return keys, np.zeros((0, 0))
    vecs = tbl.column("_gvec").combine_chunks()
    if vecs.null_count:
        bad = keys[vecs.is_null().to_numpy(zero_copy_only=False).argmax()]
        raise ValueError(f"{where} key {bad!r} has a NULL vector")
    lens = pc.list_value_length(vecs).to_numpy()
    if (lens != lens[0]).any():
        i = int((lens != lens[0]).argmax())
        raise ValueError(
            f"{where} key {keys[i]!r} has a {lens[i]}-element vector, "
            f"key {keys[0]!r} one of {lens[0]}"
        )
    values = vecs.flatten()
    if values.null_count:
        row = pc.list_parent_indices(vecs).to_numpy()
        i = row[values.is_null().to_numpy(zero_copy_only=False).argmax()]
        raise ValueError(f"{where} key {keys[i]!r} has a NULL vector element")
    # float32 -> float64 is exact: the matmul sees the stored values
    G = values.to_numpy(zero_copy_only=False).astype(np.float64)
    return keys, G.reshape(len(keys), int(lens[0]))


def broadcast_gallery_topk(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "feature",
    k: int = 10,
    passthrough: list[str] | None = None,
    gallery_broadcast_max: int | None = None,
) -> DataFrame:
    """Streaming-safe probe→gallery ranking: the dual of
    :func:`pairwise_similarity_topk` for the LIVE path, where probe
    KEYS arrive on a stream and the gallery is the small static person
    store (PedestrianReIDUsingAttrApp.java:226-228 ranks each arriving
    tracklet against the gallery as it flows past).

    A probe's vector is the gallery row whose ``gallery_key`` equals the
    probe's ``probe_key``: probes carry no vector column, and probe
    vectors and gallery come from one build-time snapshot.

    Execution shape: the gallery is collected ONCE through Arrow
    (key-sorted) and broadcast as a dense float64 matrix with its
    norms; every probe Arrow batch looks its keys up in a key → row
    index, computes all probe×gallery cosines as one BLAS matmul and
    emits its exact per-row top-k directly — no join, no window, no
    shuffle, and crucially NO STATE, so the operator composes after
    windowed aggregations where a rank window could not (Structured
    Streaming forbids window functions). No per-trigger scan or
    broadcast exchange re-reads the gallery. A probe whose key is NULL
    or not in the gallery emits ONE row with NULL rank/gallery_key —
    the leftover flush passthrough (SparkStreamingApp.java:176-192: a
    tracklet whose partner never arrived proceeds alone, unranked). An
    EMPTY gallery routes every probe through that same branch (ADVICE
    r8): the operator guarantees at least one output row per probe.

    Input contract, checked at build time: gallery keys are unique and
    non-NULL, and every gallery vector is non-NULL, NULL-free and of one
    length; a violation raises ``ValueError`` naming the key.

    100 TB contract: the gallery is the broadcast-dim side (persons,
    not corpus) — same smallness contract as pairwise_similarity_topk's
    probe collect, stated in SCALE.md.  Tie-break (similarity DESC,
    gallery_key ASC) and the ~1e-15 BLAS-vs-sequential-fold float note
    match pairwise_similarity_topk.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    passthrough = list(passthrough or [probe_key])
    if gallery_broadcast_max is None:
        gallery_broadcast_max = GALLERY_BROADCAST_MAX
    spark = probes.sparkSession
    # the dual of the probe ladder's limit guard (r11): the collect is
    # bounded BY PLAN, and a contract violation fails loudly at build
    # time rather than OOMing the driver mid-stream
    tbl = gallery.select(
        F.col(gallery_key).alias("_gkey"), F.col(vector_col).alias("_gvec")
    ).limit(gallery_broadcast_max + 1).toArrow()
    if tbl.num_rows > gallery_broadcast_max:
        raise ValueError(
            "broadcast_gallery_topk: gallery exceeds the broadcast-dim "
            f"contract ({gallery_broadcast_max} rows) — this operator ranks "
            "against a persons-sized gallery; for corpus-sized galleries "
            "use pairwise_similarity_topk (blocked-grid) or ivf_topk"
        )
    g_keys, G = _gallery_matrix(tbl, gallery_key)
    gnorm = np.sqrt((G * G).sum(axis=1))
    bc = spark.sparkContext.broadcast((g_keys, G, gnorm))

    out_schema = StructType(
        [StructField(c, probes.schema[c].dataType) for c in passthrough]
        + [
            StructField("rank", LongType()),
            StructField("gallery_key", gallery.schema[gallery_key].dataType),
        ]
    )

    def _rank(batches):
        keys, G, gnorm = bc.value
        gk = np.asarray(keys, dtype=object)
        row_of = pd.Index(keys)
        for pdf in batches:
            if pdf.empty:
                continue
            # a NULL or unknown key (every key, for an empty gallery)
            # takes the unranked-flush branch: one NULL-rank row
            pos = row_of.get_indexer(pdf["_pkey"])
            has = pos >= 0
            outs = []
            if not has.all():
                sub = pdf.loc[~has, passthrough].copy()
                sub["rank"] = pd.Series([None] * len(sub), dtype=object, index=sub.index)
                sub["gallery_key"] = pd.Series([None] * len(sub), dtype=object, index=sub.index)
                outs.append(sub)
            if has.any():
                sub = pdf.loc[has]
                P, pnorm = G[pos[has]], gnorm[pos[has]]
                denom = pnorm[:, None] * gnorm[None, :]
                sims = np.where(denom > 0, (P @ G.T) / np.where(denom > 0, denom, 1.0), -np.inf)
                kk = min(k, len(gk))
                idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                rep = (
                    sub[passthrough]
                    .iloc[np.repeat(np.arange(len(sub)), kk)]
                    .reset_index(drop=True)
                )
                rep["rank"] = np.tile(np.arange(1, kk + 1, dtype=np.int64), len(sub))
                rep["gallery_key"] = gk[idx.ravel()]
                outs.append(rep)
            yield pd.concat(outs, ignore_index=True)

    in_cols = [F.col(c) for c in passthrough] + [F.col(probe_key).alias("_pkey")]
    return probes.select(*in_cols).mapInPandas(_rank, out_schema)


def pairwise_similarity_topk_expr(
    probes: DataFrame,
    gallery: DataFrame,
    probe_key: str,
    gallery_key: str,
    vector_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Pure-Catalyst formulation of :func:`pairwise_similarity_topk`
    (broadcast crossJoin + zip_with/aggregate cosine + window rank).

    Kept for environments where Arrow is unavailable and as the parity
    witness for the BLAS path (see test_new_ops.py); ~10x slower at
    1024-d because higher-order array folds are interpreted.
    """
    from las_vpe_platform_spark.functions.vector import dot_product, l2_norm

    p = probes.select(
        F.col(probe_key).alias("probe_key"),
        F.col(vector_col).alias("_pvec"),
    ).withColumn("_pnorm", l2_norm("_pvec"))
    g = gallery.select(
        F.col(gallery_key).alias("gallery_key"),
        F.col(vector_col).alias("_gvec"),
    ).withColumn("_gnorm", l2_norm("_gvec"))
    denom = F.col("_pnorm") * F.col("_gnorm")
    scored = (
        F.broadcast(p)
        .crossJoin(g)
        .withColumn(
            "similarity",
            F.when(denom > 0, dot_product("_pvec", "_gvec") / denom),
        )
        .drop("_pvec", "_gvec", "_pnorm", "_gnorm")
    )
    w = W.partitionBy("probe_key").orderBy(F.desc("similarity"), F.asc("gallery_key"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    by: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval range join via interval bucketization.

    The naive ``l.ts BETWEEN r.start AND r.end`` formulation is a
    non-equi join — Spark plans it as BroadcastNestedLoop or a
    cartesian product, quadratic at scale. Bucketizing time restores an
    equi-join: each left (point) row lands in ONE bucket
    ``floor(t/G)``; each right interval explodes into every bucket it
    overlaps; the join is an equi-join on (by..., bucket) followed by
    the exact BETWEEN filter (both endpoints inclusive). A qualifying
    pair meets exactly once — in the left point's bucket — so no dedup
    pass is needed.

    Scale: shuffle = |left| + |right| x (interval/G + 1); per-bucket
    occupancy bounds the pair work exactly like an LSH band. Pick
    ``bucket_seconds`` ~ the median interval length to balance
    replication against occupancy; AQE splits hot buckets. Both sides
    bucket through the same ``unix_timestamp`` expression, so the join
    is correct under any session timezone (a TZ shift moves both sides
    identically).

    Column names outside ``by`` must be disjoint between the inputs.
    """
    by = list(by or [])
    g = int(bucket_seconds)
    lb = left.withColumn(
        "_rj_bucket", F.floor(F.unix_timestamp(F.col(left_point)) / g)
    )
    rb = right.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(right_start)) / g),
                F.floor(F.unix_timestamp(F.col(right_end)) / g),
            )
        ),
    )
    matched = (
        lb.join(rb, on=by + ["_rj_bucket"], how="inner")
        .filter(
            (F.col(left_point) >= F.col(right_start))
            & (F.col(left_point) <= F.col(right_end))
        )
        .drop("_rj_bucket")
    )
    return matched
