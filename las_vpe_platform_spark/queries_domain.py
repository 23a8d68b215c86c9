"""Domain query catalog: the reference's own query surface (SURVEY §2,
§3.3) over the seeded fixture tables in ``fixtures/``.

These queries exercise the video-platform data model end-to-end —
tracklet sampling (P9), the 125-column attribute average (A1), ranked
similarity neighbors (W1/S9), ReID assembly (J1/J6), claim-check
resolution (P10), task cancellation (P4), frame-time arithmetic (F5),
time-tree bucketing (F6/K8) and command fan-out (§3.1 step 4).

Fixture tables are read from the repo's ``fixtures/`` directory (they
are deterministic, seed=42, committed); oracle SQL reads the same
parquet bytes via absolute path, so the comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from las_vpe_platform_spark.compat import pround, pround_expr
from las_vpe_platform_spark.fixtures import FIXTURES_DIR
from las_vpe_platform_spark.functions.scalar import ntz_epoch_micros
from las_vpe_platform_spark.operators.aggregates import wide_avg
from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
from las_vpe_platform_spark.operators.routing import term_sig_filter
from las_vpe_platform_spark.operators.sampling import sample_array_even
from las_vpe_platform_spark.operators.windows import topk_per_group
from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES


def _fx(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(str(FIXTURES_DIR / f"{name}.parquet"))


def _fxsql(name: str) -> str:
    return f"read_parquet('{FIXTURES_DIR}/{name}.parquet')"


# --- d01: tracklet even-spaced sampling (P9/W4, Tracklet.sample) ------------

SAMPLE_N = 3


def d01_tracklet_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets")
    sampled = sample_array_even("location_sequence", SAMPLE_N)
    return tr.select(
        "tracklet_key",
        F.size("location_sequence").alias("n_boxes"),
        F.size(sampled).alias("n_sampled"),
        F.size(
            F.filter("location_sequence", lambda b: b.getField("patch_data").isNotNull())
        ).alias("n_patches"),
    )


D01_SQL = f"""
SELECT tracklet_key,
       len(location_sequence) AS n_boxes,
       len(list_distinct(list_transform([0, 1, 2],
           i -> least(i * CAST(ceil(len(location_sequence) / {SAMPLE_N}.0) AS INT) + 1,
                      len(location_sequence))))) AS n_sampled,
       len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) AS n_patches
FROM {_fxsql('tracklets')}
"""


# --- d02: the 125-column attribute average (A1) -----------------------------

def d02_attribute_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    samples = _fx(spark, "attribute_samples")
    avg = wide_avg(samples, ["tracklet_key"], ATTRIBUTE_NAMES)
    return avg.selectExpr(
        "tracklet_key", *[pround_expr(c, 6) + f" AS {c}" for c in ATTRIBUTE_NAMES]
    )


D02_SQL = "SELECT tracklet_key, " + ", ".join(
    f"floor((avg({c})) * 1000000.0 + 0.5) / 1000000.0 AS {c}" for c in ATTRIBUTE_NAMES
) + f" FROM {_fxsql('attribute_samples')} GROUP BY tracklet_key"


# --- d03: ranked similarity neighbors (W1, getLinkedPedestrians) ------------

def d03_similarity_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _fx(spark, "similarity_edges")
    top = topk_per_group(
        edges, ["node_a"], "similarity", k=5, tiebreak_cols=["node_b"]
    )
    return top.select(
        "node_a", "node_b", "rank", pround(F.col("similarity").cast("double"), 6).alias("similarity")
    )


D03_SQL = f"""
SELECT node_a, node_b,
       row_number() OVER (PARTITION BY node_a ORDER BY similarity DESC, node_b) AS rank,
       floor((similarity::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS similarity
FROM {_fxsql('similarity_edges')}
QUALIFY rank <= 5
"""


# --- d04: persons per time-tree bucket (K8/F6, Neo4j time tree) -------------

def d04_persons_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets")
    attrs = _fx(spark, "attributes").select("tracklet_key")
    persons = tr.join(attrs, on="tracklet_key")
    return (
        persons.groupBy(
            "video_id",
            F.date_trunc("minute", "start_ts").cast("string").alias("minute"),
        )
        .agg(F.count(F.lit(1)).alias("n_persons"))
    )


D04_SQL = f"""
SELECT t.video_id, CAST(date_trunc('minute', t.start_ts) AS VARCHAR) AS minute,
       count(*) AS n_persons
FROM {_fxsql('tracklets')} t
JOIN {_fxsql('attributes')} a USING (tracklet_key)
GROUP BY 1, 2
"""


# --- d05: ReID assembly, full outer (J1/J6) ---------------------------------

def d05_reid_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets").select("tracklet_key", "video_id")
    attrs = _fx(spark, "attributes").select(
        "tracklet_key", F.lit(1).alias("has_attr")
    )
    joined = tr.join(attrs, on="tracklet_key", how="full_outer")
    return joined.groupBy("video_id").agg(
        F.sum(F.when(F.col("has_attr").isNotNull(), 1).otherwise(0)).alias("n_matched"),
        F.sum(F.when(F.col("has_attr").isNull(), 1).otherwise(0)).alias("n_tracklet_only"),
    )


D05_SQL = f"""
SELECT t.video_id,
       sum(CASE WHEN a.tracklet_key IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
       sum(CASE WHEN a.tracklet_key IS NULL THEN 1 ELSE 0 END)::BIGINT     AS n_tracklet_only
FROM {_fxsql('tracklets')} t
FULL OUTER JOIN {_fxsql('attributes')} a USING (tracklet_key)
GROUP BY t.video_id
"""


# --- d06: claim-check resolution (P10/S6, TrackletOrURL) --------------------

def d06_claim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets")
    return (
        tr.withColumn(
            "resolution",
            F.when(F.col("stored_url").isNotNull(), F.lit("url")).otherwise(F.lit("inline")),
        )
        .groupBy("video_id", "resolution")
        .agg(F.count(F.lit(1)).alias("n"))
    )


D06_SQL = f"""
SELECT video_id,
       CASE WHEN stored_url IS NOT NULL THEN 'url' ELSE 'inline' END AS resolution,
       count(*) AS n
FROM {_fxsql('tracklets')}
GROUP BY 1, 2
"""


# --- d07: task-kill anti-join (P4/T6, TERM_SIG pool) ------------------------

def d07_task_kill_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets")
    kills = _fx(spark, "term_sigs")
    alive = term_sig_filter(tr, kills, key="task_id")
    return alive.groupBy("video_id").agg(F.count(F.lit(1)).alias("n_alive"))


D07_SQL = f"""
SELECT video_id, count(*) AS n_alive
FROM {_fxsql('tracklets')} t
WHERE NOT EXISTS (SELECT 1 FROM {_fxsql('term_sigs')} k WHERE k.task_id = t.task_id)
GROUP BY video_id
"""


# --- d08: frame-index -> wall clock (F5, calTrackletStartTime) --------------

def d08_frame_time_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets").select("video_id", "tracklet_key", "start_frame_index", "start_ts")
    vids = _fx(spark, "videos").select("video_id", F.col("start_ts").alias("video_start"))
    # 12.5 fps -> exactly 80_000 us per frame; integer micros arithmetic
    # fixtures carry TIMESTAMP_NTZ; cast both sides before micros
    # arithmetic — the equality below is then session-TZ independent
    derived = tr.join(F.broadcast(vids), on="video_id").withColumn(
        "derived_ts",
        F.timestamp_micros(
            F.unix_micros(F.col("video_start").cast("timestamp"))
            + F.col("start_frame_index").cast("bigint") * 80000
        ),
    )
    return derived.groupBy("video_id").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("derived_ts") == F.col("start_ts").cast("timestamp"), 1).otherwise(0)
        ).alias("n_match"),
    )


D08_SQL = f"""
SELECT t.video_id, count(*) AS n_total,
       sum(CASE WHEN make_timestamp(epoch_us(v.start_ts) + t.start_frame_index::BIGINT * 80000)
                     = t.start_ts THEN 1 ELSE 0 END)::BIGINT AS n_match
FROM {_fxsql('tracklets')} t
JOIN {_fxsql('videos')} v USING (video_id)
GROUP BY t.video_id
"""


# --- d09: ReID feature ranking (J9/W2, Feature1024 + IDRANK) ----------------

def d09_feature_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unit-of-work repartition: the 1024-dim gallery is one fixture
    # file = one scan partition; the cosine fold is the compute
    feats = _fx(spark, "features").repartition(
        spark.sparkContext.defaultParallelism
    )
    tr = _fx(spark, "tracklets").select("tracklet_key", "video_id", "serial_number")
    probes = feats.join(
        tr.filter((F.col("serial_number") == 0) & F.col("video_id").startswith("CAM01")),
        on="tracklet_key",
    ).select("tracklet_key", "feature")
    top = pairwise_similarity_topk(
        probes, feats, probe_key="tracklet_key", gallery_key="tracklet_key",
        vector_col="feature", k=10,
    )
    return top.select(
        "probe_key", "gallery_key", "rank", pround("similarity", 4).alias("similarity")
    )


D09_SQL = f"""
WITH pr AS (
  SELECT f.tracklet_key AS probe_key, f.feature AS pvec
  FROM {_fxsql('features')} f
  JOIN {_fxsql('tracklets')} t USING (tracklet_key)
  WHERE t.serial_number = 0 AND starts_with(t.video_id, 'CAM01')
), scored AS (
  SELECT probe_key, g.tracklet_key AS gallery_key,
         (list_sum(list_transform(generate_series(1, len(pvec)),
                                  i -> pvec[i]::DOUBLE * g.feature[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(pvec, x -> x::DOUBLE * x::DOUBLE)))
             * sqrt(list_sum(list_transform(g.feature, x -> x::DOUBLE * x::DOUBLE))))) AS sim
  FROM pr CROSS JOIN {_fxsql('features')} g
), ranked AS (
  SELECT probe_key, gallery_key, sim,
         row_number() OVER (PARTITION BY probe_key ORDER BY sim DESC, gallery_key) AS rank
  FROM scored
)
SELECT probe_key, gallery_key, rank, floor((sim) * 10000.0 + 0.5) / 10000.0 AS similarity
FROM ranked WHERE rank <= 10
"""


# --- d10: command fan-out (§3.1 step 4, HDFSReader.listSubfiles) ------------

def d10_command_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    cmds = _fx(spark, "commands").select("command", "video_url", "submit_ts")
    vids = _fx(spark, "videos").select("url")
    expanded = cmds.join(
        F.broadcast(vids), vids.url.startswith(cmds.video_url), "left"
    )
    return expanded.groupBy("command", "video_url").agg(
        F.count(F.col("url")).alias("n_tasks")
    )


D10_SQL = f"""
SELECT c.command, c.video_url, count(v.url) AS n_tasks
FROM {_fxsql('commands')} c
LEFT JOIN {_fxsql('videos')} v ON starts_with(v.url, c.video_url)
GROUP BY 1, 2
"""


# --- d11: full pipeline end-to-end (§3.1: track -> attrrecog, A1) -----------
# Spark side runs the COMPILED PIPELINE: videos -> mapInPandas fake
# tracker (UDTF) -> sample explode -> JVM-expression fake recognizer ->
# 125-column average. The oracle reconstructs the same math in SQL from
# the tracklets fixture (which the tracker provably reproduces — see
# tests/test_pipeline.py). This is the reference's TRACK_ATTRRECOG path
# validated end-to-end.

def d11_pipeline_attr_recog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command

    videos = _fx(spark, "videos")
    ex = BatchExecutor(spark)
    out = ex.run(compile_command("track-attrrecog"), videos)
    attrs = out["attr_recog"]
    return attrs.selectExpr(
        "tracklet_key", *[pround_expr(c, 6) + f" AS {c}" for c in ATTRIBUTE_NAMES]
    )


def _d11_sql() -> str:
    from las_vpe_platform_spark.fixtures import SEED

    val = (
        "(('0x' || substr(md5('{seed}:' || tracklet_key || ':' || sample_idx || ':{name}'), 1, 8))::BIGINT::DOUBLE"
        " / 4294967296.0 - 0.5)"
    )
    avgs = ", ".join(
        f"floor((avg({val.format(seed=SEED, name=name)})) * 1000000.0 + 0.5) / 1000000.0 AS {name}"
        for name in ATTRIBUTE_NAMES
    )
    return f"""
WITH samples AS (
  SELECT tracklet_key, i - 1 AS sample_idx
  FROM {_fxsql('tracklets')}, unnest(generate_series(1, len(location_sequence))) AS t(i)
  WHERE location_sequence[i].patch_data IS NOT NULL
), kept AS (
  SELECT * FROM samples
  WHERE (('0x' || substr(md5('{SEED}:attr_drop:' || tracklet_key), 1, 8))::BIGINT::DOUBLE
         / 4294967296.0) >= 0.1
)
SELECT tracklet_key, {avgs} FROM kept GROUP BY tracklet_key
"""


D11_SQL = _d11_sql()


# --- d12: flagship — ranked similar persons with attributes in a time
# bucket (SURVEY §7.2 step 3: the TRACK_ATTRRECOG + getLinkedPedestrians
# path as one analytic query: J9/W1 ranking ⨝ K5 persons ⨝ F6 bucket) ------

def d12_similar_persons_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _fx(spark, "similarity_edges")
    tr = _fx(spark, "tracklets").select("tracklet_key", "video_id", "start_ts")
    attrs = _fx(spark, "attributes").select(
        "tracklet_key", ATTRIBUTE_NAMES[0], ATTRIBUTE_NAMES[1]
    )
    # persons = tracklets with attributes (K5/K8 materialization)
    persons = tr.join(attrs, on="tracklet_key")
    # probes: persons in one 30-minute time bucket of one camera
    probes = persons.filter(
        F.col("video_id").startswith("CAM01")
        & (F.date_trunc("hour", "start_ts") == F.to_timestamp(F.lit("2016-03-10 09:00:00")))
    ).select(F.col("tracklet_key").alias("node_a"))
    ranked = topk_per_group(
        edges.join(probes, on="node_a"),
        ["node_a"], "similarity", k=5, tiebreak_cols=["node_b"],
    )
    # decorate neighbors with their attributes (the Cypher RETURN shape)
    neighbor_attrs = persons.select(
        F.col("tracklet_key").alias("node_b"),
        F.col(ATTRIBUTE_NAMES[0]).alias("nb_attr0"),
        F.col("start_ts").alias("nb_start_ts"),
    )
    return ranked.join(neighbor_attrs, on="node_b", how="left").select(
        "node_a",
        "node_b",
        "rank",
        pround(F.col("similarity").cast("double"), 6).alias("similarity"),
        pround(F.col("nb_attr0").cast("double"), 6).alias("nb_attr0"),
        F.col("nb_start_ts").cast("string").alias("nb_start_ts"),
    )


D12_SQL = f"""
WITH persons AS (
  SELECT t.tracklet_key, t.video_id, t.start_ts,
         a.{ATTRIBUTE_NAMES[0]} AS attr0
  FROM {_fxsql('tracklets')} t
  JOIN {_fxsql('attributes')} a USING (tracklet_key)
), probes AS (
  SELECT tracklet_key AS node_a FROM persons
  WHERE starts_with(video_id, 'CAM01')
    AND date_trunc('hour', start_ts) = TIMESTAMP '2016-03-10 09:00:00'
), ranked AS (
  SELECT e.node_a, e.node_b, e.similarity,
         row_number() OVER (PARTITION BY e.node_a
                            ORDER BY e.similarity DESC, e.node_b) AS rank
  FROM {_fxsql('similarity_edges')} e
  JOIN probes USING (node_a)
  QUALIFY rank <= 5
)
SELECT r.node_a, r.node_b, r.rank,
       floor((r.similarity::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS similarity,
       floor((p.attr0::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS nb_attr0,
       CAST(p.start_ts AS VARCHAR) AS nb_start_ts
FROM ranked r
LEFT JOIN persons p ON p.tracklet_key = r.node_b
"""


# --- d13: two-hop similarity traversal (graph queries beyond 1-hop) ---------

def d13_two_hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friends-of-friends over the similarity graph: for a probe set,
    all 2-hop neighbors with the best path (max of min(edge1, edge2)),
    excluding direct neighbors and self. The Cypher
    ``(p)-[:Similar]->()-[:Similar]->(q)`` shape as two self-joins +
    one aggregate — shuffle-bounded by edge count, not vertex².
    """
    edges = _fx(spark, "similarity_edges").select(
        "node_a", "node_b", F.col("similarity").cast("double").alias("sim")
    )
    probes = edges.select("node_a").distinct().filter(
        F.col("node_a").startswith("CAM01_") & F.col("node_a").endswith("_tarid0")
    )
    hop1 = edges.join(probes, on="node_a")
    hop2 = hop1.alias("h1").join(
        edges.alias("h2"), F.col("h1.node_b") == F.col("h2.node_a")
    ).select(
        F.col("h1.node_a").alias("probe"),
        F.col("h2.node_b").alias("two_hop"),
        F.least("h1.sim", "h2.sim").alias("path_sim"),
    ).filter(F.col("probe") != F.col("two_hop"))
    direct = hop1.select(F.col("node_a").alias("probe"), F.col("node_b").alias("two_hop"))
    best = (
        hop2.join(direct, on=["probe", "two_hop"], how="left_anti")
        .groupBy("probe", "two_hop")
        .agg(pround(F.max("path_sim"), 6).alias("best_path_sim"), F.count(F.lit(1)).alias("n_paths"))
    )
    return best


D13_SQL = f"""
WITH edges AS (
  SELECT node_a, node_b, similarity::DOUBLE AS sim FROM {_fxsql('similarity_edges')}
), probes AS (
  SELECT DISTINCT node_a FROM edges
  WHERE starts_with(node_a, 'CAM01_') AND node_a LIKE '%_tarid0'
), hop1 AS (
  SELECT e.* FROM edges e JOIN probes USING (node_a)
), hop2 AS (
  SELECT h1.node_a AS probe, h2.node_b AS two_hop, least(h1.sim, h2.sim) AS path_sim
  FROM hop1 h1 JOIN edges h2 ON h1.node_b = h2.node_a
  WHERE h1.node_a <> h2.node_b
)
SELECT probe, two_hop,
       floor((max(path_sim)) * 1000000.0 + 0.5) / 1000000.0 AS best_path_sim,
       count(*) AS n_paths
FROM hop2
WHERE NOT EXISTS (SELECT 1 FROM hop1 d WHERE d.node_a = hop2.probe AND d.node_b = hop2.two_hop)
GROUP BY probe, two_hop
"""


# --- m01/m02: multimodal binary columns -------------------------------------

def m01_patch_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import patch_metadata

    return patch_metadata(_fx(spark, "tracklets"))


M01_SQL = f"""
SELECT video_id, tracklet_key,
       len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) AS n_patches,
       list_sum(list_transform(
           list_filter(location_sequence, b -> b.patch_data IS NOT NULL),
           b -> octet_length(b.patch_data)))::BIGINT AS total_patch_bytes
FROM {_fxsql('tracklets')}
"""


def m02_patch_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary decode + featurize (F3 plumbing shape).

    The fake featurizer is a 16-bin byte histogram of the first
    retained patch, so the whole vector IS oracle-expressible: DuckDB
    re-derives every bin from ``hex(patch_data)`` byte extraction. The
    output checks bin 0 plus a weighted checksum over all 16 bins
    (sequential fold, so the fold order matches ``list_sum``
    bit-for-bit).
    """
    from las_vpe_platform_spark.operators.multimodal import extract_patch_features

    feats = extract_patch_features(_fx(spark, "tracklets"))
    checksum = F.aggregate(
        F.zip_with(
            "patch_feature",
            F.sequence(F.lit(1), F.lit(16)),
            lambda f, k: f * k.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return feats.select(
        "tracklet_key",
        pround(F.element_at("patch_feature", 1), 6).alias("f0"),
        F.size("patch_feature").alias("dim"),
        pround(checksum, 6).alias("hist_checksum"),
    )


M02_SQL = f"""
WITH fp AS (
  SELECT tracklet_key,
         hex((list_filter(location_sequence, b -> b.patch_data IS NOT NULL))[1].patch_data) AS h
  FROM {_fxsql('tracklets')}
  WHERE len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) > 0
), bytes AS (
  SELECT tracklet_key,
         list_transform(generate_series(1, length(h) // 2),
                        i -> ('0x' || substr(h, 2 * i - 1, 2))::INT) AS bs
  FROM fp
), bins AS (
  SELECT tracklet_key,
         list_transform(generate_series(0, 15),
                        k -> len(list_filter(bs, v -> v // 16 = k))::DOUBLE / len(bs)) AS f
  FROM bytes
)
SELECT tracklet_key,
       floor(f[1] * 1000000.0 + 0.5) / 1000000.0 AS f0,
       16 AS dim,
       floor(list_sum(list_transform(generate_series(1, 16), k -> f[k] * k::DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS hist_checksum
FROM bins
"""


# --- m03: patch resize (multimodal: the preprocess-resize stage) ------------

RESIZE_W, RESIZE_H = 2, 2


def m03_patch_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real nearest-neighbor resize of raw BGR patches (no codec
    needed); the resized bytes are verified by a JVM-side byte
    checksum, re-derived in the oracle from hex(patch_data) with the
    same index mapping (src = (y*H//outH, x*W//outW))."""
    from las_vpe_platform_spark.operators.multimodal import resize_patches

    rz = resize_patches(_fx(spark, "tracklets"), out_w=RESIZE_W, out_h=RESIZE_H)
    return rz.selectExpr(
        "tracklet_key",
        "CAST(out_w AS BIGINT) AS out_w",
        "CAST(out_h AS BIGINT) AS out_h",
        "CAST(conv(hex(substring(resized, 1, 1)), 16, 10) AS BIGINT) AS b0",
        "aggregate(sequence(1, length(resized)), 0L,"
        " (acc, i) -> acc + CAST(conv(hex(substring(resized, i, 1)), 16, 10) AS BIGINT))"
        " AS byte_sum",
    )


M03_SQL = f"""
WITH fp AS (
  SELECT tracklet_key,
         (list_filter(location_sequence, b -> b.patch_data IS NOT NULL))[1] AS box
  FROM {_fxsql('tracklets')}
  WHERE len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) > 0
), sel AS (
  SELECT tracklet_key, hex(box.patch_data) AS hx, box.width AS w, box.height AS h
  FROM fp
), px AS (
  SELECT tracklet_key,
         list_transform(
           generate_series(0, {RESIZE_H} * {RESIZE_W} * 3 - 1),
           k -> ('0x' || substr(hx,
                  2 * ((((k // (3 * {RESIZE_W})) * h // {RESIZE_H}) * w
                        + ((k // 3) % {RESIZE_W}) * w // {RESIZE_W}) * 3 + k % 3)
                  + 1, 2))::BIGINT) AS bs
  FROM sel
)
SELECT tracklet_key,
       {RESIZE_W}::BIGINT AS out_w,
       {RESIZE_H}::BIGINT AS out_h,
       bs[1] AS b0,
       list_sum(bs)::BIGINT AS byte_sum
FROM px
"""


# --- m04: audio decimation (multimodal: PCM binary columns) -----------------

DECIMATE_FACTOR = 4

# signed int16 at DECIMATED index i, little-endian, from a binary col:
# byte pair (2*F*i, 2*F*i + 1) of the ORIGINAL pcm == pair (2i, 2i+1)
# of the decimated output. Spark reads the decimated bytes; the oracle
# re-derives the same values from hex(pcm) of the SOURCE — so the
# comparison proves the decimation itself, not just a checksum echo.
_S16_COL = (
    "(CAST(conv(hex(substring({col}, 2*{i} + 1, 1)), 16, 10) AS BIGINT)"
    " + 256 * CAST(conv(hex(substring({col}, 2*{i} + 2, 1)), 16, 10) AS BIGINT))"
)
_S16_SIGNED_COL = (
    f"(CASE WHEN {_S16_COL} > 32767 THEN {_S16_COL} - 65536 ELSE {_S16_COL} END)"
)
# bound forms for the two columns that use it
_S16_SIGNED = _S16_SIGNED_COL.replace("{col}", "decimated")


def m04_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import decimate_audio

    rz = decimate_audio(_fx(spark, "audio_clips"), factor=DECIMATE_FACTOR)
    n_expr = "CAST(length(decimated) / 2 AS INT)"
    return rz.selectExpr(
        "clip_id",
        f"CAST({n_expr} AS BIGINT) AS n_out",
        f"{_S16_SIGNED.format(i='0')} AS s0",
        f"aggregate(sequence(0, {n_expr} - 1), 0L,"
        f" (acc, i) -> acc + {_S16_SIGNED.format(i='i')}) AS sample_sum",
        f"aggregate(sequence(0, {n_expr} - 1), 0L,"
        f" (acc, i) -> acc + {_S16_SIGNED.format(i='i')} * {_S16_SIGNED.format(i='i')})"
        " AS sample_sumsq",
    )


def _m04_sql() -> str:
    f = DECIMATE_FACTOR
    val = (
        f"(('0x' || substr(hx, 2 * ({2 * f} * i) + 1, 2))::BIGINT"
        f" + 256 * ('0x' || substr(hx, 2 * ({2 * f} * i) + 3, 2))::BIGINT)"
    )
    signed = f"(CASE WHEN {val} > 32767 THEN {val} - 65536 ELSE {val} END)"
    return f"""
WITH src AS (
  SELECT clip_id, hex(pcm) AS hx,
         CAST(ceil(n_samples / {f}.0) AS BIGINT) AS n_out
  FROM {_fxsql('audio_clips')}
), samples AS (
  SELECT clip_id, n_out,
         list_transform(generate_series(0, CAST(n_out AS INT) - 1),
                        i -> {signed}) AS vals
  FROM src
)
SELECT clip_id, n_out,
       vals[1] AS s0,
       list_sum(vals)::BIGINT AS sample_sum,
       list_sum(list_transform(vals, v -> v * v))::BIGINT AS sample_sumsq
FROM samples
"""


M04_SQL = _m04_sql()


# --- d14: the full flagship DAG — track -> attrrecog -> reid ----------------
# The reference's NAMED application (PedestrianReIDUsingAttrApp.java:
# 136-243, the TRACK_ATTRRECOG_REID command of MessageHandlingApp):
# fake tracker UDTF -> attribute recognition -> ReID ranking against
# the feature gallery, compiled and executed as ONE plan by
# BatchExecutor. d11 gates the attr half, d09 the ranking primitive;
# this row gates the whole DAG end-to-end, id_rank arrays exploded to
# scalar rows so the driver hash sees plain columns.


def d14_pipeline_reid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command

    videos = _fx(spark, "videos")
    gallery = _fx(spark, "features").repartition(
        spark.sparkContext.defaultParallelism
    )
    ex = BatchExecutor(spark, gallery=gallery)
    out = ex.run(compile_command("track-attrrecog-reid"), videos)
    ranks = out["reid"]
    return ranks.select(
        F.col("probe_key").alias("tracklet_key"),
        F.posexplode("id_rank").alias("pos", "gallery_key"),
    ).select(
        "tracklet_key",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        "gallery_key",
    )


def _d14_sql() -> str:
    from las_vpe_platform_spark.fixtures import SEED

    return f"""
WITH samples AS (
  SELECT tracklet_key
  FROM {_fxsql('tracklets')}, unnest(generate_series(1, len(location_sequence))) AS t(i)
  WHERE location_sequence[i].patch_data IS NOT NULL
), kept AS (
  SELECT DISTINCT tracklet_key FROM samples
  WHERE (('0x' || substr(md5('{SEED}:attr_drop:' || tracklet_key), 1, 8))::BIGINT::DOUBLE
         / 4294967296.0) >= 0.1
), pr AS (
  SELECT f.tracklet_key AS probe_key, f.feature AS pvec
  FROM {_fxsql('features')} f JOIN kept USING (tracklet_key)
), scored AS (
  SELECT probe_key, g.tracklet_key AS gallery_key,
         (list_sum(list_transform(generate_series(1, len(pvec)),
                                  i -> pvec[i]::DOUBLE * g.feature[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(pvec, x -> x::DOUBLE * x::DOUBLE)))
             * sqrt(list_sum(list_transform(g.feature, x -> x::DOUBLE * x::DOUBLE))))) AS sim
  FROM pr CROSS JOIN {_fxsql('features')} g
), ranked AS (
  SELECT probe_key, gallery_key,
         row_number() OVER (PARTITION BY probe_key ORDER BY sim DESC, gallery_key) AS rank
  FROM scored
)
SELECT probe_key AS tracklet_key, rank::BIGINT AS rank, gallery_key
FROM ranked WHERE rank <= 10
"""


D14_SQL = _d14_sql()


# --- m05: video-cutting frame source, driver-gated --------------------------
# S5's fragmenting contract (VideoCuttingStream, DataManagingApp.java:
# 160-217) checked against an arithmetic oracle: frame indices are a
# stride sequence over floor(duration * fps), fragment id = index div
# 1000 — so DuckDB reproduces the mapInPandas source's exact output
# shape without any codec. The payload path is covered by
# test_multimodal.py (decoder injection + determinism).


def m05_frame_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import cut_video_frames

    videos = _fx(spark, "videos")
    frames = cut_video_frames(videos)
    return frames.groupBy("video_id", "fragment_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.min("frame_index").cast("bigint").alias("first_frame"),
        F.max("frame_index").cast("bigint").alias("last_frame"),
    ).select(
        "video_id",
        F.col("fragment_id").cast("bigint").alias("fragment_id"),
        "n_frames",
        "first_frame",
        "last_frame",
    )


M05_SQL = f"""
WITH f AS (
  SELECT video_id,
         unnest(generate_series(
           0, CAST(floor(duration_s * fps_num / fps_den) AS BIGINT) - 1, 250)) AS frame_index
  FROM {_fxsql('videos')}
)
SELECT video_id,
       (frame_index // 1000)::BIGINT AS fragment_id,
       count(*)::BIGINT AS n_frames,
       min(frame_index)::BIGINT AS first_frame,
       max(frame_index)::BIGINT AS last_frame
FROM f GROUP BY 1, 2
"""


# --- m06: keyframe selection over the frame source --------------------------
# Representative-frame selection per fragment (the thumbnail/preview
# pass a video catalog runs after cutting — reference's fragments at
# DataManagingApp.java:160-217 are the unit): keyframe = the fragment's
# frame with the minimal content digest, i.e. a deterministic
# content-addressed pick that any engine reproduces from the payload
# bytes alone. One grouped arg-min over the m05 frame stream — frame
# payloads never leave the JVM after the source (hex+min on binary),
# and the aggregate is partial+final so frames never re-shuffle whole.


def m06_keyframe_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import cut_video_frames

    videos = _fx(spark, "videos")
    frames = cut_video_frames(videos)
    scored = frames.select(
        "video_id",
        F.col("fragment_id").cast("bigint").alias("fragment_id"),
        "frame_index",
        F.lower(F.hex("frame_data")).alias("_h"),
    )
    return scored.groupBy("video_id", "fragment_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.min_by("frame_index", "_h").cast("bigint").alias("keyframe_index"),
        F.substring(F.min("_h"), 1, 8).alias("key_hash_prefix"),
    )


M06_SQL = f"""
WITH f AS (
  SELECT video_id,
         unnest(generate_series(
           0, CAST(floor(duration_s * fps_num / fps_den) AS BIGINT) - 1, 250)) AS frame_index
  FROM {_fxsql('videos')}
), h AS (
  SELECT video_id, (frame_index // 1000)::BIGINT AS fragment_id, frame_index,
         md5('frame:' || video_id || ':' || frame_index) AS h
  FROM f
)
SELECT video_id, fragment_id, count(*)::BIGINT AS n_frames,
       arg_min(frame_index, h)::BIGINT AS keyframe_index,
       substr(min(h), 1, 8) AS key_hash_prefix
FROM h GROUP BY 1, 2
"""


# --- d15: storage-fed attrrecog-reid (the OTHER reid command) ---------------
# The ATTRRECOG_REID command of MessageHandlingApp.java:214-337:
# tracklets arrive from STORAGE (RETRIEVE_TRACKLET with a serial-number
# point filter, S6/S7) rather than from an in-plan tracker — which is
# exactly the branch of _stage_reid where the tracklet<->attrs join is
# KEPT (the r3 join elimination applies only when both sides trace to
# one tracking node). d14 gates the eliminated-join path; this row
# oracle-gates the kept-join path, so the elimination predicate can
# never silently flip for storage-fed plans.


def d15_pipeline_storage_reid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command

    tracklets = _fx(spark, "tracklets")
    gallery = _fx(spark, "features").repartition(
        spark.sparkContext.defaultParallelism
    )
    ex = BatchExecutor(spark, gallery=gallery)
    out = ex.run(
        compile_command("attrrecog-reid", {"tracklet_serial_num": 3}), tracklets
    )
    ranks = out["reid"]
    return ranks.select(
        F.col("probe_key").alias("tracklet_key"),
        F.posexplode("id_rank").alias("pos", "gallery_key"),
    ).select(
        "tracklet_key",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        "gallery_key",
    )


def _d15_sql() -> str:
    from las_vpe_platform_spark.fixtures import SEED

    return f"""
WITH samples AS (
  SELECT tracklet_key
  FROM {_fxsql('tracklets')}, unnest(generate_series(1, len(location_sequence))) AS t(i)
  WHERE location_sequence[i].patch_data IS NOT NULL AND serial_number = 3
), kept AS (
  SELECT DISTINCT tracklet_key FROM samples
  WHERE (('0x' || substr(md5('{SEED}:attr_drop:' || tracklet_key), 1, 8))::BIGINT::DOUBLE
         / 4294967296.0) >= 0.1
), pr AS (
  SELECT f.tracklet_key AS probe_key, f.feature AS pvec
  FROM {_fxsql('features')} f JOIN kept USING (tracklet_key)
), scored AS (
  SELECT probe_key, g.tracklet_key AS gallery_key,
         (list_sum(list_transform(generate_series(1, len(pvec)),
                                  i -> pvec[i]::DOUBLE * g.feature[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(pvec, x -> x::DOUBLE * x::DOUBLE)))
             * sqrt(list_sum(list_transform(g.feature, x -> x::DOUBLE * x::DOUBLE))))) AS sim
  FROM pr CROSS JOIN {_fxsql('features')} g
), ranked AS (
  SELECT probe_key, gallery_key,
         row_number() OVER (PARTITION BY probe_key ORDER BY sim DESC, gallery_key) AS rank
  FROM scored
)
SELECT probe_key AS tracklet_key, rank::BIGINT AS rank, gallery_key
FROM ranked WHERE rank <= 10
"""


D15_SQL = _d15_sql()


# --- m07: perceptual-bucket image near-dup (multimodal dedup) ---------------
# The scalable image-dedup shape (pHash/PDQ-style): per representative
# patch, a coarse PERCEPTUAL signature (4 quantized byte-histogram
# bands from the m02 featurizer) buckets candidates; exact content
# hashes then verify WITHIN buckets only. The verify stage is a
# (bucket, content-hash) groupBy — Σ C(same-hash,2) — never a pair
# join, so a hot bucket (the fixture's 2-2-2-2 bucket holds ~25% of
# tracklets) costs one aggregate row, not C(245,2) pairs; n_pairs is
# reported so the occupancy knob (more bands/finer deciles) has a
# measured trigger. Content hash runs md5-over-hex on BOTH engines for
# oracle portability; production hashes raw bytes (xxhash64(binary)).


def m07_patch_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import extract_patch_features

    tr = _fx(spark, "tracklets")
    feats = extract_patch_features(tr)
    # guard the empty-retained-list case BEFORE element_at — under this
    # session's ANSI mode element_at([], 1) aborts the query (mirrors
    # the oracle's WHERE len(...) > 0 and extract_patch_features)
    retained = F.filter(
        "location_sequence", lambda b: b.getField("patch_data").isNotNull()
    )
    hashed = (
        tr.select("tracklet_key", retained.alias("_ret"))
        .filter(F.size("_ret") > 0)
        .select(
            "tracklet_key",
            F.md5(F.hex(F.element_at("_ret", 1).getField("patch_data"))).alias(
                "content_hash"
            ),
        )
    )

    def band(k: int):
        s = F.element_at("patch_feature", 4 * k + 1)
        for j in range(2, 5):
            s = s + F.element_at("patch_feature", 4 * k + j)
        return F.floor(s * 10.0).cast("bigint").cast("string")

    sig = F.concat_ws("-", band(0), band(1), band(2), band(3))
    members = feats.select("tracklet_key", sig.alias("sig")).join(hashed, "tracklet_key")
    by_hash = members.groupBy("sig", "content_hash").agg(
        F.count(F.lit(1)).alias("h_cnt")
    )
    return (
        by_hash.groupBy("sig")
        .agg(
            F.sum("h_cnt").cast("bigint").alias("n_members"),
            F.sum(F.expr("h_cnt * (h_cnt - 1) div 2")).cast("bigint").alias("n_exact_dups"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "sig",
            "n_members",
            (F.col("n_members") * (F.col("n_members") - 1) / 2).cast("bigint").alias("n_pairs"),
            "n_exact_dups",
        )
    )


M07_SQL = f"""
WITH fp AS (
  SELECT tracklet_key,
         hex((list_filter(location_sequence, b -> b.patch_data IS NOT NULL))[1].patch_data) AS h
  FROM {_fxsql('tracklets')}
  WHERE len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) > 0
), bytes AS (
  SELECT tracklet_key, h, list_transform(generate_series(1, length(h) // 2),
                        i -> ('0x' || substr(h, 2 * i - 1, 2))::INT) AS bs
  FROM fp
), bins AS (
  SELECT tracklet_key, h, list_transform(generate_series(0, 15),
         k -> len(list_filter(bs, v -> v // 16 = k))::DOUBLE / len(bs)) AS f
  FROM bytes
), members AS (
  SELECT tracklet_key, md5(h) AS content_hash,
         concat_ws('-', floor((f[1]+f[2]+f[3]+f[4])*10.0)::BIGINT,
                        floor((f[5]+f[6]+f[7]+f[8])*10.0)::BIGINT,
                        floor((f[9]+f[10]+f[11]+f[12])*10.0)::BIGINT,
                        floor((f[13]+f[14]+f[15]+f[16])*10.0)::BIGINT) AS sig
  FROM bins
), by_hash AS (
  SELECT sig, content_hash, count(*) AS h_cnt FROM members GROUP BY sig, content_hash
)
SELECT sig, sum(h_cnt)::BIGINT AS n_members,
       (sum(h_cnt) * (sum(h_cnt) - 1) // 2)::BIGINT AS n_pairs,
       sum(h_cnt * (h_cnt - 1) // 2)::BIGINT AS n_exact_dups
FROM by_hash GROUP BY sig HAVING sum(h_cnt) >= 2
"""


# --- d16: the REID command (stored tracklet+attr assembly -> ranking) -------
# The remaining command shape of MessageHandlingApp.java:214-337: REID
# alone, fed by RETRIEVE_TRACKLET_ATTR (stored tracklets point-filtered
# by serial, inner-joined to the stored attribute table — the J7/J8
# bypass port TRACKLET_ATTR). With d11/d14/d15 this gates all four
# distinct compiled dataflows; every stage of every command now has a
# driver-facing oracle row.


def d16_pipeline_reid_command(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command

    tracklets = _fx(spark, "tracklets")
    attrs = _fx(spark, "attributes")
    gallery = _fx(spark, "features").repartition(
        spark.sparkContext.defaultParallelism
    )
    ex = BatchExecutor(spark, gallery=gallery)
    out = ex.run(
        compile_command("reid", {"tracklet_serial_num": 5}),
        tracklets,
        ATTR_TABLE=attrs,
    )
    ranks = out["reid"]
    return ranks.select(
        F.col("probe_key").alias("tracklet_key"),
        F.posexplode("id_rank").alias("pos", "gallery_key"),
    ).select(
        "tracklet_key",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        "gallery_key",
    )


def _d16_sql() -> str:
    return f"""
WITH keys AS (
  SELECT t.tracklet_key
  FROM {_fxsql('tracklets')} t JOIN {_fxsql('attributes')} a USING (tracklet_key)
  WHERE t.serial_number = 5
), pr AS (
  SELECT f.tracklet_key AS probe_key, f.feature AS pvec
  FROM {_fxsql('features')} f JOIN keys USING (tracklet_key)
), scored AS (
  SELECT probe_key, g.tracklet_key AS gallery_key,
         (list_sum(list_transform(generate_series(1, len(pvec)),
                                  i -> pvec[i]::DOUBLE * g.feature[i]::DOUBLE))
          / (sqrt(list_sum(list_transform(pvec, x -> x::DOUBLE * x::DOUBLE)))
             * sqrt(list_sum(list_transform(g.feature, x -> x::DOUBLE * x::DOUBLE))))) AS sim
  FROM pr CROSS JOIN {_fxsql('features')} g
), ranked AS (
  SELECT probe_key, gallery_key,
         row_number() OVER (PARTITION BY probe_key ORDER BY sim DESC, gallery_key) AS rank
  FROM scored
)
SELECT probe_key AS tracklet_key, rank::BIGINT AS rank, gallery_key
FROM ranked WHERE rank <= 10
"""


D16_SQL = _d16_sql()


# --- m08: windowed audio energy (VAD-style frame analysis) -------------------
# The frame-energy pass every speech pipeline runs before anything
# else (voice-activity detection, silence trimming, loudness
# normalization): fixed 256-sample windows over the int16 PCM, per
# window the EXACT integer energy Σ s² — engine-portable with no
# float in sight, so the oracle re-derives every window from hex(pcm)
# byte arithmetic. All JVM expressions over the binary column: the
# samples never materialize as rows, only the per-window aggregates do
# (clips × ceil(n/256) rows).

M08_WIN = 256

# signed int16 at index i of the RAW pcm column (the shared template,
# bound to this column — one decode implementation, two columns)
_S16_PCM = _S16_SIGNED_COL.replace("{col}", "pcm")


def m08_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = _fx(spark, "audio_clips")
    w = M08_WIN
    s = _S16_PCM.format(i="i")
    # n_samples > 0 guard: Spark's sequence(0, -1) is a DESCENDING
    # range [0, -1], not empty, so a zero-sample clip would emit two
    # garbage windows while the oracle's generate_series emits none
    return clips.filter("n_samples > 0").selectExpr(
        "clip_id",
        f"explode(sequence(0, CAST(ceil(n_samples / {w}.0) AS INT) - 1)) AS window_id",
        # window bounds computed ONCE and reused by both outputs below
        "pcm",
        "n_samples",
    ).selectExpr(
        "clip_id",
        "CAST(window_id AS BIGINT) AS window_id",
        f"window_id * {w} AS _lo",
        f"CAST(least(CAST((window_id + 1) * {w} AS BIGINT), n_samples) AS INT) AS _hi",
        "pcm",
    ).selectExpr(
        "clip_id",
        "window_id",
        "CAST(_hi - _lo AS BIGINT) AS n_in_window",
        f"aggregate(sequence(_lo, _hi - 1), 0L, (acc, i) -> acc + {s} * {s}) AS energy",
    )


def _m08_sql() -> str:
    w = M08_WIN
    # sample i = bytes (2i, 2i+1) = hex chars (4i+1..4i+2, 4i+3..4i+4)
    val = (
        "(('0x' || substr(hx, 4 * i + 1, 2))::BIGINT"
        " + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT)"
    )
    signed = f"(CASE WHEN {val} > 32767 THEN {val} - 65536 ELSE {val} END)"
    return f"""
WITH src AS (
  SELECT clip_id, n_samples, hex(pcm) AS hx,
         CAST(ceil(n_samples / {w}.0) AS BIGINT) AS n_win
  FROM {_fxsql('audio_clips')}
), wins AS (
  SELECT clip_id, n_samples, hx, unnest(generate_series(0, n_win - 1)) AS window_id
  FROM src
)
SELECT clip_id, window_id::BIGINT AS window_id,
       (least((window_id + 1) * {w}, n_samples) - window_id * {w})::BIGINT AS n_in_window,
       list_sum(list_transform(
         generate_series(CAST(window_id * {w} AS INT),
                         CAST(least((window_id + 1) * {w}, n_samples) AS INT) - 1),
         i -> {signed} * {signed}))::BIGINT AS energy
FROM wins
"""


M08_SQL = _m08_sql()





# --- m13: audio QA stats (clipping / silence / level) ------------------------
# Per-clip audio quality audit over the PCM binary column: rail-value
# (clipping) counts, near-silent sample counts, and exact level stats
# (sum/max of |x|) — the ingest gate an audio-corpus pipeline runs
# before paying for decode/feature work downstream (the audio face of
# q21's text-quality scoring). All BIGINT folds over the int16
# samples; zero exchanges — the whole audit runs in the scan stage.

M13_QUIET_T = 16  # |x| below this counts as near-silent


def m13_audio_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = _fx(spark, "audio_clips")
    x = _S16_PCM.format(i="i")
    ax = f"abs({x})"
    fold = (
        "aggregate(sequence(0, CAST(n_samples AS INT) - 1), 0L,"
        " (acc, i) -> acc + {body})"
    )
    return clips.filter("n_samples > 0").selectExpr(
        "clip_id",
        "CAST(n_samples AS BIGINT) AS n_samples",
        fold.format(body=f"CAST({x} IN (32767, -32768) AS LONG)") + " AS n_rail",
        fold.format(body=f"CAST({ax} < {M13_QUIET_T} AS LONG)") + " AS n_quiet",
        fold.format(body=ax) + " AS sum_abs",
        (
            "aggregate(sequence(0, CAST(n_samples AS INT) - 1), 0L,"
            f" (acc, i) -> greatest(acc, {ax})) AS max_abs"
        ),
    )


def _m13_sql() -> str:
    val = (
        "(('0x' || substr(hx, 4 * i + 1, 2))::BIGINT"
        " + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT)"
    )
    signed = f"(CASE WHEN {val} > 32767 THEN {val} - 65536 ELSE {val} END)"
    ax = f"abs({signed})"
    fold = (
        "list_sum(list_transform(generate_series(0, n_samples::INT - 1),"
        " i -> {body}))::BIGINT"
    )
    return f"""
WITH src AS (
  SELECT clip_id, n_samples, hex(pcm) AS hx
  FROM {_fxsql('audio_clips')}
  WHERE n_samples > 0
)
SELECT clip_id, n_samples::BIGINT AS n_samples,
       {fold.format(body=f"CASE WHEN {signed} IN (32767, -32768) THEN 1 ELSE 0 END")} AS n_rail,
       {fold.format(body=f"CASE WHEN {ax} < {M13_QUIET_T} THEN 1 ELSE 0 END")} AS n_quiet,
       {fold.format(body=ax)} AS sum_abs,
       list_max(list_transform(generate_series(0, n_samples::INT - 1),
                               i -> {ax}))::BIGINT AS max_abs
FROM src
"""


M13_SQL = _m13_sql()




# --- d27: camera occupancy heatmap ---------------------------------------------
# The VPE staple the reference's person-tracking store exists to feed:
# per camera, a grid-cell occupancy heatmap of detected-person box
# CENTERS (8x5 cells over the 1920x1080 frame) with both box mass and
# distinct-tracklet presence — dwell hot zones, dead zones, and the
# entry-corridor structure d19's transitions aggregate away. Scale
# shape: explode boxes -> integer cell keys in the scan stage -> ONE
# (camera, cell) aggregate with map-side partials; the camera dim
# broadcasts. Exact integer arithmetic throughout.

HEAT_CELL_W = 240
HEAT_CELL_H = 216


def d27_camera_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets").select(
        "tracklet_key", "video_id", F.explode("location_sequence").alias("box")
    )
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    cells = tr.join(F.broadcast(vids), "video_id").selectExpr(
        "camera_id",
        "tracklet_key",
        f"(box.x + box.width div 2) div {HEAT_CELL_W} AS gx",
        f"(box.y + box.height div 2) div {HEAT_CELL_H} AS gy",
    )
    return cells.groupBy("camera_id", "gx", "gy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boxes"),
        F.countDistinct("tracklet_key").cast("bigint").alias("n_tracklets"),
    ).selectExpr(
        "camera_id", "CAST(gx AS BIGINT) AS gx", "CAST(gy AS BIGINT) AS gy",
        "n_boxes", "n_tracklets",
    )


def _d27_sql() -> str:
    return f"""
WITH boxes AS (
  SELECT v.camera_id, t.tracklet_key,
         (b.x + b.width // 2) // {HEAT_CELL_W} AS gx,
         (b.y + b.height // 2) // {HEAT_CELL_H} AS gy
  FROM {_fxsql('tracklets')} t
  JOIN {_fxsql('videos')} v USING (video_id),
  unnest(t.location_sequence) AS u(b)
)
SELECT camera_id, gx::BIGINT AS gx, gy::BIGINT AS gy,
       count(*)::BIGINT AS n_boxes,
       count(DISTINCT tracklet_key)::BIGINT AS n_tracklets
FROM boxes GROUP BY camera_id, gx, gy
"""


D27_SQL = _d27_sql()



# --- d28: camera activity calendar (hour-of-week occupancy) --------------------
# Operations-facing rollup: per camera, the (day-of-week, hour) matrix
# of tracklet starts — the staffing/retention-policy calendar next to
# d27's spatial heatmap (WHERE activity concentrates vs WHEN). Exact
# integer epoch arithmetic (the q131 dow/hod derivation, timezone-free
# on epoch micros); one grouped aggregate with map-side partials, the
# camera dim broadcast.


def d28_activity_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.functions.scalar import ntz_epoch_micros

    tr = _fx(spark, "tracklets").select(
        "tracklet_key", "video_id", ntz_epoch_micros("start_ts").alias("us")
    )
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    return (
        tr.join(F.broadcast(vids), "video_id")
        .selectExpr(
            "camera_id",
            "CAST((us div 86400000000 + 4) % 7 AS BIGINT) AS dow",
            "CAST((us div 3600000000) % 24 AS BIGINT) AS hod",
        )
        .groupBy("camera_id", "dow", "hod")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tracklets"))
    )


D28_SQL = f"""
SELECT v.camera_id,
       CAST((epoch_us(t.start_ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
       CAST((epoch_us(t.start_ts) // 3600000000) % 24 AS BIGINT) AS hod,
       count(*)::BIGINT AS n_tracklets
FROM {_fxsql('tracklets')} t
JOIN {_fxsql('videos')} v USING (video_id)
GROUP BY 1, 2, 3
"""


# --- d26: camera embedding-bias report ----------------------------------------
# Re-id health diagnostic: per camera, the cosine between its tracklet
# feature CENTROID-SUM and the global one — a camera whose appearance
# distribution drifts (lens change, angle, lighting regime) pulls away
# from the fleet and poisons cross-camera ranking long before recall
# metrics notice (the embedding-space face of d19's topology stats).
# Scale shape: ONE feature scan -> (camera, dim) partial sums (64 rows
# per camera after map-side combine); the global vector is a second
# 64-row aggregate OVER THE CAMERA SUMS (never a second corpus pass);
# the cosine joins 64-row frames. Float note: grouped double sums
# reassociate across engines (~1e-13); outputs round at 1e-6 (the d02
# wide-average precedent).


def d26_camera_feature_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.staging import persist_disk

    tr = _fx(spark, "tracklets").select("tracklet_key", "video_id")
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    feats = _fx(spark, "features")
    dims = (
        feats.join(tr, "tracklet_key")
        .join(F.broadcast(vids), "video_id")
        .select(
            "camera_id",
            F.posexplode(
                F.transform("feature", lambda x: x.cast("double"))
            ).alias("dim", "v"),
        )
    )
    # camera sums feed BOTH the global aggregate and the cosine join
    csums = persist_disk(
        dims.groupBy("camera_id", "dim").agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    gsums = csums.groupBy("dim").agg(F.sum("s").alias("g"))
    joined = csums.join(gsums, "dim")
    per_cam = joined.groupBy("camera_id").agg(
        F.min("n").cast("bigint").alias("n_tracklets"),
        F.sum(F.col("s") * F.col("g")).alias("_dot"),
        F.sum(F.col("s") * F.col("s")).alias("_cc"),
        F.sum(F.col("g") * F.col("g")).alias("_gg"),
    )
    return per_cam.selectExpr(
        "camera_id",
        "n_tracklets",
        "floor((_dot / (sqrt(_cc) * sqrt(_gg))) * 1000000.0D + 0.5D)"
        " / 1000000.0D AS centroid_cos",
    )


def _d26_sql() -> str:
    return f"""
WITH dims AS (
  SELECT v.camera_id, t.i - 1 AS dim, f.feature[t.i]::DOUBLE AS val
  FROM {_fxsql('features')} f
  JOIN {_fxsql('tracklets')} tr USING (tracklet_key)
  JOIN {_fxsql('videos')} v USING (video_id),
  unnest(generate_series(1, len(f.feature))) AS t(i)
), csums AS (
  SELECT camera_id, dim, sum(val) AS s, count(*) AS n
  FROM dims GROUP BY camera_id, dim
), gsums AS (
  SELECT dim, sum(s) AS g FROM csums GROUP BY dim
), per_cam AS (
  SELECT c.camera_id,
         min(c.n)::BIGINT AS n_tracklets,
         sum(c.s * g.g) AS _dot,
         sum(c.s * c.s) AS _cc,
         sum(g.g * g.g) AS _gg
  FROM csums c JOIN gsums g USING (dim)
  GROUP BY c.camera_id
)
SELECT camera_id, n_tracklets,
       floor((_dot / (sqrt(_cc) * sqrt(_gg))) * 1000000.0 + 0.5)
       / 1000000.0 AS centroid_cos
FROM per_cam
"""


D26_SQL = _d26_sql()


# --- m12: fixed-point Goertzel tone detection over PCM windows ---------------
# Single-frequency DSP over the audio binary column: per 256-sample
# window, the Goertzel correlation against one frequency bin (bin 8 =
# 500 Hz at 16 kHz) — the cheap tone/DTMF/beep detector a curation
# pipeline runs to find alarm tones or test signals in audio corpora.
# Exactness: the cos/sin table is quantized to 7-bit fixed point at
# PLAN-BUILD time (Python literals embedded in BOTH engines' plans —
# the q59/q132 plan-literal pattern), so the correlations are pure
# BIGINT folds: c,s <= 2^30, power = c^2+s^2 <= 2.3e18 < 2^63, zero
# float anywhere (the pagerank_fixed_point philosophy). Scale shape:
# one explode to full windows, all arithmetic inside the scan stage,
# NO exchange at all — 100 TB of audio streams through map-side.

M12_WIN = 256
M12_BIN = 8            # 500 Hz at 16 kHz, 256-sample window
M12_SCALE = 128        # 7-bit fixed-point table
M12_TONE_T = 1_500_000_000_000_000  # ~noise mean; flags the loud tail

import math as _m12math

_M12_COS = [
    int(_m12math.floor(_m12math.cos(2 * _m12math.pi * M12_BIN * i / M12_WIN)
                       * M12_SCALE + 0.5))
    for i in range(M12_WIN)
]
_M12_SIN = [
    int(_m12math.floor(_m12math.sin(2 * _m12math.pi * M12_BIN * i / M12_WIN)
                       * M12_SCALE + 0.5))
    for i in range(M12_WIN)
]


def m12_tone_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = _fx(spark, "audio_clips")
    w = M12_WIN
    x = _S16_PCM.format(i="i")
    cos_arr = "array(" + ",".join(f"{v}L" for v in _M12_COS) + ")"
    sin_arr = "array(" + ",".join(f"{v}L" for v in _M12_SIN) + ")"
    ctab = f"element_at({cos_arr}, CAST(i % {w} AS INT) + 1)"
    stab = f"element_at({sin_arr}, CAST(i % {w} AS INT) + 1)"
    return (
        clips.filter(f"n_samples >= {w}")
        .selectExpr(
            "clip_id",
            f"explode(sequence(0, CAST(n_samples div {w} AS INT) - 1)) AS window_id",
            "pcm",
        )
        .selectExpr(
            "clip_id",
            "CAST(window_id AS BIGINT) AS window_id",
            f"CAST(window_id * {w} AS INT) AS _lo",
            "pcm",
        )
        .selectExpr(
            "clip_id",
            "window_id",
            f"aggregate(sequence(_lo, _lo + {w} - 1), 0L,"
            f" (acc, i) -> acc + {x} * {ctab}) AS g_re",
            f"aggregate(sequence(_lo, _lo + {w} - 1), 0L,"
            f" (acc, i) -> acc + {x} * {stab}) AS g_im",
        )
        .selectExpr(
            "clip_id",
            "window_id",
            "g_re",
            "g_im",
            "g_re * g_re + g_im * g_im AS power",
            f"CAST(g_re * g_re + g_im * g_im >= {M12_TONE_T} AS INT) AS is_tone",
        )
    )


def _m12_sql() -> str:
    w = M12_WIN
    val = (
        "(('0x' || substr(hx, 4 * i + 1, 2))::BIGINT"
        " + 256 * ('0x' || substr(hx, 4 * i + 3, 2))::BIGINT)"
    )
    signed = f"(CASE WHEN {val} > 32767 THEN {val} - 65536 ELSE {val} END)"
    cos_list = "[" + ",".join(str(v) for v in _M12_COS) + "]"
    sin_list = "[" + ",".join(str(v) for v in _M12_SIN) + "]"
    ctab = f"({cos_list})[(i % {w}) + 1]"
    stab = f"({sin_list})[(i % {w}) + 1]"
    fold = (
        "list_sum(list_transform(generate_series("
        f"CAST(window_id * {w} AS INT), CAST(window_id * {w} AS INT) + {w} - 1),"
        " i -> {body}))::BIGINT"
    )
    return f"""
WITH src AS (
  SELECT clip_id, n_samples, hex(pcm) AS hx, n_samples // {w} AS n_win
  FROM {_fxsql('audio_clips')}
  WHERE n_samples >= {w}
), wins AS (
  SELECT clip_id, hx, unnest(generate_series(0, n_win - 1)) AS window_id
  FROM src
), g AS (
  SELECT clip_id, window_id::BIGINT AS window_id,
         {fold.format(body=f"{signed} * {ctab}")} AS g_re,
         {fold.format(body=f"{signed} * {stab}")} AS g_im
  FROM wins
)
SELECT clip_id, window_id, g_re, g_im,
       g_re * g_re + g_im * g_im AS power,
       (CASE WHEN g_re * g_re + g_im * g_im >= {M12_TONE_T} THEN 1 ELSE 0 END)::INT AS is_tone
FROM g
"""


M12_SQL = _m12_sql()


# --- m09: appearance-change (scene-cut) detection over patch brightness -----
# Shot/appearance-boundary detection, the video-curation primitive the
# reference's tracker consumes upstream (a tracklet whose patches jump
# in appearance spans a tracking error or a lighting cut): per patch,
# a brightness proxy from a FIXED 64-byte sample of the raw BGR
# payload (cost O(64) per patch regardless of patch size — the
# thumbnail trick real shot detectors use), then a per-tracklet lag
# window flags deltas above threshold. All JVM expressions: bytes are
# read via the hex/conv route (m08's machinery), never materialized
# as rows, and the only exchange is the per-tracklet window.

M09_SAMPLES = 64
M09_CUT_T = 500


def m09_patch_brightness_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tr = _fx(spark, "tracklets")
    ex = (
        tr.select(
            "video_id",
            "tracklet_key",
            F.posexplode("location_sequence").alias("patch_idx", "box"),
        )
        .filter(F.col("box.patch_data").isNotNull())
        .select(
            "video_id",
            "tracklet_key",
            "patch_idx",
            F.col("box.patch_data").alias("patch_data"),
        )
        .filter(F.length("patch_data") > 0)
    )
    ns = M09_SAMPLES
    byte_at = (
        "CAST(conv(hex(substring(patch_data,"
        f" CAST((j * _n) DIV {ns} AS INT) + 1, 1)), 16, 10) AS BIGINT)"
    )
    bright = ex.selectExpr(
        "video_id",
        "tracklet_key",
        "patch_idx",
        "CAST(length(patch_data) AS BIGINT) AS _n",
        "patch_data",
    ).selectExpr(
        "video_id",
        "tracklet_key",
        "CAST(patch_idx AS BIGINT) AS patch_idx",
        f"aggregate(sequence(0, {ns - 1}), 0L, (acc, j) -> acc + {byte_at})"
        " AS brightness",
    )
    w = W.partitionBy("tracklet_key").orderBy("patch_idx")
    delta = F.col("brightness") - F.lag("brightness").over(w)
    return bright.select(
        "video_id",
        "tracklet_key",
        "patch_idx",
        "brightness",
        F.abs(delta).alias("brightness_delta"),
        F.when(F.abs(delta) > M09_CUT_T, 1).otherwise(0).alias("is_cut"),
    )


def _m09_sql() -> str:
    ns = M09_SAMPLES
    b = (
        "('0x' || substr(hx, 2 * CAST((j * n) // "
        f"{ns} AS INT) + 1, 2))::BIGINT"
    )
    return f"""
WITH ex AS (
  SELECT video_id, tracklet_key,
         unnest(list_transform(generate_series(1, len(location_sequence)),
                i -> {{'patch_idx': i - 1,
                      'pd': location_sequence[i].patch_data}})) AS u
  FROM {_fxsql('tracklets')}
), px AS (
  SELECT video_id, tracklet_key, u.patch_idx AS patch_idx,
         hex(u.pd) AS hx, octet_length(u.pd) AS n
  FROM ex WHERE u.pd IS NOT NULL AND octet_length(u.pd) > 0
), br AS (
  SELECT video_id, tracklet_key, patch_idx::BIGINT AS patch_idx,
         list_sum(list_transform(generate_series(0, {ns - 1}),
                                 j -> {b}))::BIGINT AS brightness
  FROM px
)
SELECT video_id, tracklet_key, patch_idx, brightness,
       abs(brightness - lag(brightness) OVER w)::BIGINT AS brightness_delta,
       (CASE WHEN abs(brightness - lag(brightness) OVER w) > {M09_CUT_T}
             THEN 1 ELSE 0 END) AS is_cut
FROM br
WINDOW w AS (PARTITION BY tracklet_key ORDER BY patch_idx)
"""


M09_SQL = _m09_sql()



# --- d17: tracklet trajectory statistics ------------------------------------
# Motion features from the bounding-box sequence — the downstream
# signal a pedestrian platform derives from its tracklets (dwell vs
# transit classification, camera-handoff prediction; the reference
# stores the raw location_sequence, Tracklet.java:216-225, and leaves
# analytics to consumers). Pure array expressions over the struct
# array: centers, per-step displacements, path length, net
# displacement, straightness — no explode, no shuffle except none at
# all (the plan is Project over the scan; a 100 TB tracklet table
# streams through in one stage).

def d17_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets")
    cx = "(ls[{i}].x + ls[{i}].width / 2.0D)"
    cy = "(ls[{i}].y + ls[{i}].height / 2.0D)"
    step = (
        "sqrt(pow(" + cx.format(i="i") + " - " + cx.format(i="i-1") + ", 2.0D)"
        " + pow(" + cy.format(i="i") + " - " + cy.format(i="i-1") + ", 2.0D))"
    )
    net = (
        "sqrt(pow(" + cx.format(i="size(ls)-1") + " - " + cx.format(i="0") + ", 2.0D)"
        " + pow(" + cy.format(i="size(ls)-1") + " - " + cy.format(i="0") + ", 2.0D))"
    )
    return tr.selectExpr(
        "tracklet_key", "location_sequence AS ls"
    ).selectExpr(
        "tracklet_key",
        "CAST(size(ls) AS BIGINT) AS n_boxes",
        f"CASE WHEN size(ls) >= 2 THEN aggregate(sequence(1, size(ls) - 1),"
        f" 0.0D, (acc, i) -> acc + {step}) ELSE 0.0D END AS _path",
        f"CASE WHEN size(ls) >= 2 THEN {net} ELSE 0.0D END AS _net",
        "CASE WHEN size(ls) > 0 THEN aggregate(ls, 0.0D,"
        " (acc, b) -> acc + CAST(b.width AS DOUBLE) * b.height)"
        " / size(ls) ELSE 0.0D END AS _area",
    ).selectExpr(
        "tracklet_key",
        "n_boxes",
        "floor(_path * 1000000.0D + 0.5D) / 1000000.0D AS path_len",
        "floor(_net * 1000000.0D + 0.5D) / 1000000.0D AS net_disp",
        "CASE WHEN _path > 0.0D THEN floor(_net / _path * 1000000.0D + 0.5D)"
        " / 1000000.0D ELSE NULL END AS straightness",
        "floor(_area * 1000000.0D + 0.5D) / 1000000.0D AS avg_area",
    )


def _d17_sql() -> str:
    cx = "(ls[{i}].x + ls[{i}].width / 2.0)"
    cy = "(ls[{i}].y + ls[{i}].height / 2.0)"
    step = (
        "sqrt(pow(" + cx.format(i="i") + " - " + cx.format(i="i-1") + ", 2.0)"
        " + pow(" + cy.format(i="i") + " - " + cy.format(i="i-1") + ", 2.0))"
    )
    net = (
        "sqrt(pow(" + cx.format(i="len(ls)") + " - " + cx.format(i="1") + ", 2.0)"
        " + pow(" + cy.format(i="len(ls)") + " - " + cy.format(i="1") + ", 2.0))"
    )
    return f"""
WITH base AS (
  SELECT tracklet_key, location_sequence AS ls FROM {_fxsql('tracklets')}
), m AS (
  SELECT tracklet_key, len(ls)::BIGINT AS n_boxes,
         CASE WHEN len(ls) >= 2 THEN coalesce(list_sum(
           list_transform(generate_series(2, len(ls)), i -> {step})), 0.0)
         ELSE 0.0 END AS _path,
         CASE WHEN len(ls) >= 2 THEN {net} ELSE 0.0 END AS _net,
         CASE WHEN len(ls) > 0 THEN list_sum(
           list_transform(ls, b -> b.width::DOUBLE * b.height)) / len(ls)
         ELSE 0.0 END AS _area
  FROM base
)
SELECT tracklet_key, n_boxes,
       floor(_path * 1000000.0 + 0.5) / 1000000.0 AS path_len,
       floor(_net * 1000000.0 + 0.5) / 1000000.0 AS net_disp,
       CASE WHEN _path > 0.0 THEN floor(_net / _path * 1000000.0 + 0.5) / 1000000.0
            ELSE NULL END AS straightness,
       floor(_area * 1000000.0 + 0.5) / 1000000.0 AS avg_area
FROM m
"""


D17_SQL = _d17_sql()



# --- d18: tracker fragment-healing candidates --------------------------------
# The classic MOT post-process the reference leaves to consumers: a
# tracker drops fragments when occlusion breaks a track
# (BasicTracker.java's per-segment tracklets); healing merges pairs
# that are temporally adjacent AND spatially continuous. Candidate
# generation is a BANDED equi-join, never per-video all-pairs: the
# predecessor side explodes into its end-frame bucket and the next
# (gap <= G means the successor's start bucket is one of exactly
# those two), so the join keys on (video, frame-bucket) and pair mass
# is bounded by per-bucket occupancy — the same skew-safe shape as
# the LSH band join, with the bucket width G doubling as the temporal
# gate.

HEAL_GAP = 600      # frames: max temporal gap between fragments
HEAL_RADIUS = 300.0  # px: max center distance (exit -> entry)


def d18_fragment_heal_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty sequences carry no endpoints — skip them instead of dying
    # on element_at(ls, 0) (review r5; d17 guards the same way)
    tr = _fx(spark, "tracklets").filter("size(location_sequence) > 0")
    ends = tr.selectExpr(
        "video_id",
        "tracklet_key",
        "start_frame_index + size(location_sequence) AS ef",
        "element_at(location_sequence, size(location_sequence)).x"
        " + element_at(location_sequence, size(location_sequence)).width / 2.0D AS lx",
        "element_at(location_sequence, size(location_sequence)).y"
        " + element_at(location_sequence, size(location_sequence)).height / 2.0D AS ly",
    ).selectExpr(
        "video_id", "tracklet_key AS key_a", "ef", "lx", "ly",
        f"explode(array(ef div {HEAL_GAP}, ef div {HEAL_GAP} + 1)) AS bucket",
    )
    starts = tr.selectExpr(
        "video_id",
        "tracklet_key AS key_b",
        "start_frame_index AS sf",
        f"start_frame_index div {HEAL_GAP} AS bucket",
        "element_at(location_sequence, 1).x"
        " + element_at(location_sequence, 1).width / 2.0D AS fx",
        "element_at(location_sequence, 1).y"
        " + element_at(location_sequence, 1).height / 2.0D AS fy",
    )
    dist = "sqrt(pow(fx - lx, 2.0D) + pow(fy - ly, 2.0D))"
    return (
        ends.join(starts, on=["video_id", "bucket"])
        .filter("key_a != key_b")
        .filter(f"sf - ef BETWEEN 0 AND {HEAL_GAP}")
        .filter(f"{dist} <= {HEAL_RADIUS}D")
        .selectExpr(
            "video_id",
            "key_a",
            "key_b",
            "CAST(sf - ef AS BIGINT) AS gap_frames",
            f"floor({dist} * 1000000.0D + 0.5D) / 1000000.0D AS exit_entry_dist",
        )
    )


D18_SQL = f"""
WITH t AS (
  SELECT video_id, tracklet_key, start_frame_index AS sf,
         start_frame_index + len(location_sequence) AS ef,
         (location_sequence[1].x + location_sequence[1].width / 2.0) AS fx,
         (location_sequence[1].y + location_sequence[1].height / 2.0) AS fy,
         (location_sequence[len(location_sequence)].x
          + location_sequence[len(location_sequence)].width / 2.0) AS lx,
         (location_sequence[len(location_sequence)].y
          + location_sequence[len(location_sequence)].height / 2.0) AS ly
  FROM {_fxsql('tracklets')} WHERE len(location_sequence) > 0
)
SELECT a.video_id, a.tracklet_key AS key_a, b.tracklet_key AS key_b,
       (b.sf - a.ef)::BIGINT AS gap_frames,
       floor(sqrt(pow(b.fx - a.lx, 2.0) + pow(b.fy - a.ly, 2.0))
             * 1000000.0 + 0.5) / 1000000.0 AS exit_entry_dist
FROM t a JOIN t b
  ON a.video_id = b.video_id AND a.tracklet_key != b.tracklet_key
WHERE b.sf - a.ef BETWEEN 0 AND {HEAL_GAP}
  AND sqrt(pow(b.fx - a.lx, 2.0) + pow(b.fy - a.ly, 2.0)) <= {HEAL_RADIUS}
"""


# --- d19: camera-transition matrix -------------------------------------------
# The topology question a multi-camera re-id deployment ultimately
# answers: which camera pairs exchange pedestrians, and how long does
# the hand-off take?  The reference stores the raw material — weighted
# [:Similar] edges between person nodes (GraphDatabaseConnector.java:
# 102-123, Neo4jConnector.java:192-202) plus per-person start times
# hung off the time tree (Neo4jConnector.java:105-173) — and ranks
# neighbors per query node (Neo4jConnector.java:770-776, W1).  This
# composes those pieces: per-node top-k strongest matches (row_number
# window — partial per-partition top-k, no global sort), tracklet →
# camera via a BROADCAST join against the tiny videos dim, orient each
# link by wall-clock time, and one hash aggregate to the (from, to)
# matrix.  Scale shape: the only shuffles are the edge top-k window
# and the two key-joins to the tracklet side; the camera dim never
# shuffles, and transit averaging sums exact BIGINT micros (order-
# independent, rounded once at the end) rather than averaging doubles.

D19_TOPK = 3


def d19_camera_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    tk = (
        _fx(spark, "tracklets")
        .select("tracklet_key", "video_id", ntz_epoch_micros("start_ts").alias("us"))
        .join(F.broadcast(vids), "video_id")
        .select("tracklet_key", "camera_id", "us")
    )
    top = topk_per_group(
        _fx(spark, "similarity_edges"),
        ["node_a"], "similarity", D19_TOPK, tiebreak_cols=["node_b"],
    ).drop("rank")
    a = tk.selectExpr("tracklet_key AS node_a", "camera_id AS cam_a", "us AS us_a")
    b = tk.selectExpr("tracklet_key AS node_b", "camera_id AS cam_b", "us AS us_b")
    oriented = (
        top.join(a, "node_a")
        .join(b, "node_b")
        .filter("cam_a != cam_b")
        .selectExpr(
            "CASE WHEN us_a <= us_b THEN cam_a ELSE cam_b END AS cam_from",
            "CASE WHEN us_a <= us_b THEN cam_b ELSE cam_a END AS cam_to",
            "abs(us_b - us_a) AS transit_us",
        )
    )
    return (
        oriented.groupBy("cam_from", "cam_to")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.sum("transit_us").alias("_sum_us"),
            F.min("transit_us").alias("_min_us"),
            F.max("transit_us").alias("_max_us"),
        )
        .selectExpr(
            "cam_from",
            "cam_to",
            "n_links",
            # round to whole micros first (exact: sum fits a double far
            # below 2^53 at any realistic link count), THEN divide —
            # avg is reproducible under any aggregation order
            "floor(CAST(_sum_us AS DOUBLE) / n_links + 0.5D) / 1000000.0D"
            " AS avg_transit_s",
            "_min_us / 1000000.0D AS min_transit_s",
            "_max_us / 1000000.0D AS max_transit_s",
        )
    )


D19_SQL = f"""
WITH tk AS (
  SELECT t.tracklet_key, v.camera_id, epoch_us(t.start_ts) AS us
  FROM {_fxsql('tracklets')} t
  JOIN {_fxsql('videos')} v USING (video_id)
), top AS (
  SELECT node_a, node_b,
         row_number() OVER (PARTITION BY node_a
                            ORDER BY similarity DESC, node_b) AS rk
  FROM {_fxsql('similarity_edges')}
), oriented AS (
  SELECT CASE WHEN a.us <= b.us THEN a.camera_id ELSE b.camera_id END AS cam_from,
         CASE WHEN a.us <= b.us THEN b.camera_id ELSE a.camera_id END AS cam_to,
         abs(b.us - a.us) AS transit_us
  FROM top e
  JOIN tk a ON e.node_a = a.tracklet_key
  JOIN tk b ON e.node_b = b.tracklet_key
  WHERE e.rk <= {D19_TOPK} AND a.camera_id != b.camera_id
)
SELECT cam_from, cam_to, count(*)::BIGINT AS n_links,
       floor(CAST(sum(transit_us) AS DOUBLE) / count(*) + 0.5) / 1000000.0
         AS avg_transit_s,
       min(transit_us) / 1000000.0 AS min_transit_s,
       max(transit_us) / 1000000.0 AS max_transit_s
FROM oriented GROUP BY cam_from, cam_to
"""


# --- d20: attribute-conditioned person search --------------------------------
# The reference's end-user query: find pedestrians matching an
# attribute description, ranked — its attr-recognition stream scores
# 125 attributes per tracklet (PedestrianAttrRecogApp.java:50, DeepMAR
# logit scores stored via Neo4jConnector.java:222-480) precisely so a
# consumer can later MATCH people by attribute predicate
# (getPedestrianAttributes, Neo4jConnector.java:483-749) and rank the
# hits (the ReID stream's IDRANK, PedestrianReIDUsingAttrApp.java:48).
# Spark shape: predicate pushed into the attributes scan (only the two
# queried columns + key are read), one key-join to tracklets for
# where/when, broadcast camera dim, then a per-camera top-k window
# over the few surviving hits.  At 100 TB the attribute filter is the
# selective step and it runs inside the scan; nothing quadratic,
# nothing driver-side.

D20_TOPK = 5


def d20_attribute_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = (
        _fx(spark, "attributes")
        .select("tracklet_key", "gender_male", "accessory_backpack")
        .filter("gender_male > 0.0D AND accessory_backpack > 0.0D")
        .join(
            _fx(spark, "tracklets").select("tracklet_key", "video_id", "start_ts"),
            "tracklet_key",
        )
        .join(F.broadcast(_fx(spark, "videos").select("video_id", "camera_id")), "video_id")
        .selectExpr(
            "camera_id",
            "tracklet_key",
            "gender_male + accessory_backpack AS score",
            "start_ts",
        )
    )
    ranked = topk_per_group(
        hits, ["camera_id"], "score", D20_TOPK, tiebreak_cols=["tracklet_key"]
    )
    return ranked.selectExpr(
        "camera_id",
        "CAST(rank AS BIGINT) AS rank",
        "tracklet_key",
        "floor(score * 1000000.0D + 0.5D) / 1000000.0D AS score",
        "date_trunc('minute', start_ts) AS seen_minute",
    )


D20_SQL = f"""
WITH hits AS (
  SELECT v.camera_id, a.tracklet_key,
         a.gender_male + a.accessory_backpack AS score, t.start_ts
  FROM {_fxsql('attributes')} a
  JOIN {_fxsql('tracklets')} t USING (tracklet_key)
  JOIN {_fxsql('videos')} v USING (video_id)
  WHERE a.gender_male > 0.0 AND a.accessory_backpack > 0.0
), rk AS (
  SELECT camera_id, tracklet_key, score, start_ts,
         row_number() OVER (PARTITION BY camera_id
                            ORDER BY score DESC, tracklet_key) AS rank
  FROM hits
)
SELECT camera_id, rank::BIGINT AS rank, tracklet_key,
       floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
       date_trunc('minute', start_ts) AS seen_minute
FROM rk WHERE rank <= {D20_TOPK}
"""



# --- d21: co-appearance pairs (who walks with whom) ---------------------------
# The within-camera companion analytic to d19's cross-camera topology:
# tracklet pairs in the SAME video whose frame intervals overlap and
# whose mean bounding-box centers sit within a radius — the raw
# material for group/tailgating detection over the reference's tracker
# output (Tracklet location sequences, Tracklet.java:56-138; the
# reference stores the tracks and leaves co-occurrence to the graph,
# GraphDatabaseConnector.java:102-123). Scale shape: a banded
# (video, frame-bucket) equi-join — each tracklet explodes into the
# <= 2 buckets its (span <= COTRAVEL_BUCKET frames) interval touches,
# and the CANONICAL-BUCKET filter (bucket == greatest(sf_a, sf_b) div
# COTRAVEL_BUCKET) admits each qualifying pair EXACTLY once, so no
# distinct is needed and no per-video all-pairs product exists. Mean
# centers are one array fold per tracklet, computed in the scan stage.

COTRAVEL_BUCKET = 64   # >= max tracklet span (fixtures: <= 31 frames)
COTRAVEL_RADIUS = 300.0
COTRAVEL_MIN_OVERLAP = 1


def d21_cotravel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _fx(spark, "tracklets").filter("size(location_sequence) > 0")
    base = tr.selectExpr(
        "video_id",
        "tracklet_key",
        "start_frame_index AS sf",
        "start_frame_index + size(location_sequence) AS ef",
        "aggregate(location_sequence, 0D, (acc, b) -> acc + b.x + b.width / 2.0D)"
        " / size(location_sequence) AS cx",
        "aggregate(location_sequence, 0D, (acc, b) -> acc + b.y + b.height / 2.0D)"
        " / size(location_sequence) AS cy",
    )
    a = base.selectExpr(
        "video_id", "tracklet_key AS key_a", "sf AS sf_a", "ef AS ef_a",
        "cx AS cx_a", "cy AS cy_a",
        f"explode(sequence(sf div {COTRAVEL_BUCKET}, ef div {COTRAVEL_BUCKET}))"
        " AS bucket",
    )
    b = base.selectExpr(
        "video_id", "tracklet_key AS key_b", "sf AS sf_b", "ef AS ef_b",
        "cx AS cx_b", "cy AS cy_b",
        f"explode(sequence(sf div {COTRAVEL_BUCKET}, ef div {COTRAVEL_BUCKET}))"
        " AS bucket",
    )
    dist = "sqrt(pow(cx_a - cx_b, 2.0D) + pow(cy_a - cy_b, 2.0D))"
    return (
        a.join(b, on=["video_id", "bucket"])
        .filter("key_a < key_b")
        .filter(f"bucket = greatest(sf_a, sf_b) div {COTRAVEL_BUCKET}")
        .filter(
            "least(ef_a, ef_b) - greatest(sf_a, sf_b)"
            f" >= {COTRAVEL_MIN_OVERLAP}"
        )
        .filter(f"{dist} <= {COTRAVEL_RADIUS}D")
        .selectExpr(
            "video_id",
            "key_a",
            "key_b",
            "CAST(least(ef_a, ef_b) - greatest(sf_a, sf_b) AS BIGINT)"
            " AS overlap_frames",
            f"floor({dist} * 1000000.0D + 0.5D) / 1000000.0D AS pair_dist",
        )
    )


D21_SQL = f"""
WITH t AS (
  SELECT video_id, tracklet_key, start_frame_index AS sf,
         start_frame_index + len(location_sequence) AS ef,
         list_sum(list_transform(location_sequence, b -> b.x + b.width / 2.0))
           / len(location_sequence) AS cx,
         list_sum(list_transform(location_sequence, b -> b.y + b.height / 2.0))
           / len(location_sequence) AS cy
  FROM {_fxsql('tracklets')} WHERE len(location_sequence) > 0
)
SELECT a.video_id, a.tracklet_key AS key_a, b.tracklet_key AS key_b,
       (least(a.ef, b.ef) - greatest(a.sf, b.sf))::BIGINT AS overlap_frames,
       floor(sqrt(pow(a.cx - b.cx, 2.0) + pow(a.cy - b.cy, 2.0))
             * 1000000.0 + 0.5) / 1000000.0 AS pair_dist
FROM t a JOIN t b
  ON a.video_id = b.video_id AND a.tracklet_key < b.tracklet_key
WHERE least(a.ef, b.ef) - greatest(a.sf, b.sf) >= {COTRAVEL_MIN_OVERLAP}
  AND sqrt(pow(a.cx - b.cx, 2.0) + pow(a.cy - b.cy, 2.0)) <= {COTRAVEL_RADIUS}
"""



# --- m10: loudness segmentation (gaps-and-islands over window energies) ------
# Audio curation's segmentation primitive: split each clip into maximal
# RUNS of consecutive energy windows above/below the clip's own mean
# energy-per-sample — the structure VAD / highlight-extraction passes
# consume (the reference stops at raw PCM storage; SURVEY §2.1 S3).
# Composes m08's in-scan hex-arithmetic energies with the classic
# gaps-and-islands window pattern. Everything is INTEGER-exact: the
# above-mean flag compares energy x total_samples > total_energy x
# n_in_window by BIGINT cross-multiplication (max ~1e14, no overflow,
# no float boundary to drift), so both engines agree bit-for-bit.
# Scale shape: energies in the scan stage; ONE per-clip sort window
# (the only exchange) computes flag + island id; one hash aggregate
# per island.

def m10_loudness_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W2

    from las_vpe_platform_spark.operators.staging import persist_disk

    # wins is referenced by the clip totals AND the flag join — stage
    # it so the per-window hex-energy fold (the expensive stage) runs
    # once, not twice (the multi-reference materialization rule)
    wins = persist_disk(m08_audio_energy_windows(spark, sf_dir))
    tot = wins.groupBy("clip_id").agg(
        F.sum("energy").alias("tot_energy"),
        F.sum("n_in_window").alias("tot_n"),
    )
    # NO forced broadcast: tot is clip-cardinality (data-sized at
    # production volume — the q109 user-dim rule), and a shuffle join
    # on clip_id co-partitions with the island window right below it
    flagged = wins.join(tot, "clip_id").withColumn(
        "is_loud",
        (F.col("energy") * F.col("tot_n")
         > F.col("tot_energy") * F.col("n_in_window")).cast("int"),
    )
    grp = (
        F.col("window_id")
        - F.row_number().over(
            W2.partitionBy("clip_id", "is_loud").orderBy("window_id")
        )
    )
    return (
        flagged.withColumn("_grp", grp)
        .groupBy("clip_id", "is_loud", "_grp")
        .agg(
            F.min("window_id").alias("start_window"),
            F.max("window_id").alias("end_window"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("energy").alias("seg_energy"),
        )
        .drop("_grp")
    )


M10_SQL = f"""
WITH wins AS ({_m08_sql()}),
tot AS (
  SELECT clip_id, sum(energy) AS tot_energy, sum(n_in_window) AS tot_n
  FROM wins GROUP BY clip_id
), flagged AS (
  SELECT wins.clip_id, window_id, n_in_window, energy,
         (energy * tot_n > tot_energy * n_in_window)::INT AS is_loud
  FROM wins JOIN tot USING (clip_id)
), grouped AS (
  SELECT *, window_id - row_number() OVER (
           PARTITION BY clip_id, is_loud ORDER BY window_id) AS _grp
  FROM flagged
)
SELECT clip_id, is_loud,
       min(window_id)::BIGINT AS start_window,
       max(window_id)::BIGINT AS end_window,
       count(*)::BIGINT AS n_windows,
       sum(energy)::BIGINT AS seg_energy
FROM grouped
GROUP BY clip_id, is_loud, _grp
"""



# --- d22: per-camera dwell-time distribution ---------------------------------
# The occupancy dashboard over tracker output: how long do pedestrians
# stay in each camera's view? Dwell = tracklet box count x the exact
# 80_000 us frame period (d08's integer frame-time arithmetic,
# Neo4jConnector.java:53-54's 12.5 fps), aggregated per camera via the
# broadcast videos dim. Percentiles here are EXACT (percentile() holds
# one camera's dwell list per task — fine at 8 cameras x fixture
# scale); at 10^10 tracklets the same question routes through q110's
# bottom-hash quantile sketch per camera, which this query's shape
# composes with directly (the dwell column is just another value).

def d22_dwell_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    tr = (
        _fx(spark, "tracklets")
        .filter("size(location_sequence) > 0")
        .select(
            "video_id",
            (F.expr("size(location_sequence)").cast("bigint") * 80000)
            .alias("dwell_us"),
        )
    )
    return (
        tr.join(F.broadcast(vids), "video_id")
        .groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tracklets"),
            pround(
                F.expr("percentile(dwell_us, 0.5)") / F.lit(1000000.0), 6
            ).alias("p50_dwell_s"),
            pround(
                F.expr("percentile(dwell_us, 0.9)") / F.lit(1000000.0), 6
            ).alias("p90_dwell_s"),
            pround(
                F.max("dwell_us").cast("double") / F.lit(1000000.0), 6
            ).alias("max_dwell_s"),
        )
    )


D22_SQL = f"""
WITH tr AS (
  SELECT video_id, len(location_sequence)::BIGINT * 80000 AS dwell_us
  FROM {_fxsql('tracklets')} WHERE len(location_sequence) > 0
)
SELECT camera_id, count(*)::BIGINT AS n_tracklets,
       floor((quantile_cont(dwell_us, 0.5) / 1000000.0::DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS p50_dwell_s,
       floor((quantile_cont(dwell_us, 0.9) / 1000000.0::DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS p90_dwell_s,
       floor((max(dwell_us)::DOUBLE / 1000000.0::DOUBLE) * 1000000.0 + 0.5)
         / 1000000.0 AS max_dwell_s
FROM tr JOIN {_fxsql('videos')} v USING (video_id)
GROUP BY camera_id
"""


# --- d23: cross-camera stitch candidates (topology-calibrated) ---------------
# The recall extension of the re-id graph: high-confidence similarity
# links (>= SIM_HI) calibrate a transit-time band per ordered camera
# pair — the learned topology d19 aggregates — and lower-confidence
# links (SIM_LO..SIM_HI) are admitted as stitch candidates only when
# their transit falls inside the calibrated band. The reference's
# consumer-side rank join (getPedestrianSimilarities,
# Neo4jConnector.java:756-811, over the IDRANK edges K7 stores) has no
# physical-plausibility gate; this is the composite a tracking team
# builds from exactly those stored edges. Scale shape: the band table
# is cameras^2 rows (broadcast); links shuffle on tracklet keys only;
# seed thresholds are compared in DOUBLE on both engines.

D23_SIM_HI = 0.06
D23_SIM_LO = 0.03


def d23_cross_camera_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stitch_candidates(spark)


def _stitch_candidates(spark: SparkSession) -> DataFrame:
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    tk = (
        _fx(spark, "tracklets")
        .select("tracklet_key", "video_id", ntz_epoch_micros("start_ts").alias("us"))
        .join(F.broadcast(vids), "video_id")
        .select("tracklet_key", "camera_id", "us")
    )
    a = tk.selectExpr("tracklet_key AS node_a", "camera_id AS cam_a", "us AS us_a")
    b = tk.selectExpr("tracklet_key AS node_b", "camera_id AS cam_b", "us AS us_b")
    from las_vpe_platform_spark.operators.staging import persist_disk

    links = (
        _fx(spark, "similarity_edges")
        .join(a, "node_a")
        .join(b, "node_b")
        .filter("cam_a != cam_b")
        .selectExpr(
            "CASE WHEN us_a <= us_b THEN cam_a ELSE cam_b END AS cam_from",
            "CASE WHEN us_a <= us_b THEN cam_b ELSE cam_a END AS cam_to",
            "CASE WHEN us_a <= us_b THEN node_a ELSE node_b END AS key_from",
            "CASE WHEN us_a <= us_b THEN node_b ELSE node_a END AS key_to",
            "abs(us_b - us_a) AS transit_us",
            "CAST(similarity AS DOUBLE) AS sim",
        )
    )
    # referenced by the band calibration AND the candidate filter —
    # stage once (review r5: the edge-tracklet join computed twice)
    links = persist_disk(links)
    bands = links.filter(F.col("sim") >= D23_SIM_HI).groupBy(
        "cam_from", "cam_to"
    ).agg(
        F.min("transit_us").alias("_lo"),
        F.max("transit_us").alias("_hi"),
        F.count(F.lit(1)).alias("n_seeds"),
    )
    return (
        links.filter(
            (F.col("sim") >= D23_SIM_LO) & (F.col("sim") < D23_SIM_HI)
        )
        .join(F.broadcast(bands), ["cam_from", "cam_to"])
        .filter("transit_us BETWEEN _lo AND _hi")
        .selectExpr(
            "cam_from",
            "cam_to",
            "key_from",
            "key_to",
            "n_seeds",
            "transit_us / 1000000.0D AS transit_s",
            "floor(sim * 1000000.0D + 0.5D) / 1000000.0D AS similarity",
        )
    )


D23_SQL = f"""
WITH tk AS (
  SELECT t.tracklet_key, v.camera_id, epoch_us(t.start_ts) AS us
  FROM {_fxsql('tracklets')} t
  JOIN {_fxsql('videos')} v USING (video_id)
), links AS MATERIALIZED (
  SELECT CASE WHEN a.us <= b.us THEN a.camera_id ELSE b.camera_id END AS cam_from,
         CASE WHEN a.us <= b.us THEN b.camera_id ELSE a.camera_id END AS cam_to,
         CASE WHEN a.us <= b.us THEN a.tracklet_key ELSE b.tracklet_key END AS key_from,
         CASE WHEN a.us <= b.us THEN b.tracklet_key ELSE a.tracklet_key END AS key_to,
         abs(b.us - a.us) AS transit_us,
         e.similarity::DOUBLE AS sim
  FROM {_fxsql('similarity_edges')} e
  JOIN tk a ON e.node_a = a.tracklet_key
  JOIN tk b ON e.node_b = b.tracklet_key
  WHERE a.camera_id != b.camera_id
), bands AS (
  SELECT cam_from, cam_to, min(transit_us) AS lo, max(transit_us) AS hi,
         count(*) AS n_seeds
  FROM links WHERE sim >= {D23_SIM_HI}::DOUBLE
  GROUP BY cam_from, cam_to
)
SELECT l.cam_from, l.cam_to, l.key_from, l.key_to, b.n_seeds,
       l.transit_us / 1000000.0 AS transit_s,
       floor(l.sim * 1000000.0 + 0.5) / 1000000.0 AS similarity
FROM links l
JOIN bands b USING (cam_from, cam_to)
WHERE l.sim >= {D23_SIM_LO}::DOUBLE AND l.sim < {D23_SIM_HI}::DOUBLE
  AND l.transit_us BETWEEN b.lo AND b.hi
"""


# --- m11: diverse exemplar selection per tracklet ----------------------------
# The modern upgrade of the reference's even-spaced tracklet sampling
# (W4/Tracklet.sample, d01): a re-id gallery wants COMPLEMENTARY
# views, not evenly-spaced ones. Per tracklet: exemplar 1 = the
# highest-energy patch (the m09 brightness proxy); exemplar 2 = the
# patch most VISUALLY DIFFERENT from it (lowest cosine between
# 4-quarter byte-sum features). Every feature is an exact BIGINT
# derived from hex arithmetic in the scan stage (the m08/m09 trick —
# pixels never become Python rows), so cosines are bit-identical
# across engines; the only exchanges are the two per-tracklet rank
# windows over patch-index rows. Tracklets need >= 2 retained patches
# (48-byte patch_data) to emit.

def m11_diverse_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tr = _fx(spark, "tracklets")
    patches = (
        tr.select(
            "tracklet_key",
            F.posexplode("location_sequence").alias("idx0", "box"),
        )
        .filter(F.col("box.patch_data").isNotNull())
        .filter(F.length(F.col("box.patch_data")) == 48)
        .selectExpr(
            "tracklet_key",
            "idx0 + 1 AS idx",
            "box.patch_data AS pd",
        )
    )
    qexprs = [
        f"aggregate(sequence(1, 12), CAST(0 AS BIGINT), (acc, i) -> acc"
        f" + CAST(conv(hex(substring(pd, {q} * 12 + i, 1)), 16, 10) AS BIGINT))"
        f" AS f{q}"
        for q in range(4)
    ]
    feats = patches.selectExpr("tracklet_key", "idx", *qexprs).selectExpr(
        "*",
        "f0 + f1 + f2 + f3 AS energy",
        "f0*f0 + f1*f1 + f2*f2 + f3*f3 AS sq",
    )
    w1 = W.partitionBy("tracklet_key").orderBy(F.desc("energy"), F.asc("idx"))
    pick1 = (
        feats.withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") == 1)
        .selectExpr(
            "tracklet_key", "idx AS idx1", "energy AS energy1",
            "f0 AS g0", "f1 AS g1", "f2 AS g2", "f3 AS g3", "sq AS gsq",
        )
    )
    rest = (
        feats.join(pick1, "tracklet_key")
        .filter(F.col("idx") != F.col("idx1"))
        .selectExpr(
            "tracklet_key", "idx", "idx1", "energy1",
            "CAST(f0*g0 + f1*g1 + f2*g2 + f3*g3 AS DOUBLE)"
            " / (sqrt(CAST(sq AS DOUBLE)) * sqrt(CAST(gsq AS DOUBLE)))"
            " AS cos_sim",
        )
    )
    w2 = W.partitionBy("tracklet_key").orderBy(F.asc("cos_sim"), F.asc("idx"))
    return (
        rest.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") == 1)
        .select(
            "tracklet_key",
            F.col("idx1").cast("bigint").alias("exemplar_hi_energy"),
            F.col("energy1").cast("bigint").alias("energy1"),
            F.col("idx").cast("bigint").alias("exemplar_most_diff"),
            pround("cos_sim", 6).alias("div_cosine"),
        )
    )


def _m11_q(q: str, col: str = "hx") -> str:
    # byte b (1-based) of quarter q from the 96-char hex string
    return (
        f"list_sum(list_transform(generate_series(1, 12),"
        f" b -> ('0x' || substr({col}, 2 * ({q} * 12 + b) - 1, 2))::BIGINT))"
    )


M11_SQL = f"""
WITH patches AS (
  SELECT t.tracklet_key, u.s.idx AS idx, hex(u.s.pd) AS hx
  FROM {_fxsql('tracklets')} t,
       unnest(list_transform(t.location_sequence,
                             (b, i) -> {{'idx': i, 'pd': b.patch_data}})) AS u(s)
  WHERE u.s.pd IS NOT NULL AND octet_length(u.s.pd) = 48
), feats AS (
  SELECT tracklet_key, idx,
         {_m11_q('0')} AS f0, {_m11_q('1')} AS f1,
         {_m11_q('2')} AS f2, {_m11_q('3')} AS f3
  FROM patches
), scored AS (
  SELECT *, f0 + f1 + f2 + f3 AS energy,
         f0*f0 + f1*f1 + f2*f2 + f3*f3 AS sq
  FROM feats
), pick1 AS (
  SELECT tracklet_key, idx AS idx1, energy AS energy1,
         f0 AS g0, f1 AS g1, f2 AS g2, f3 AS g3, sq AS gsq
  FROM (
    SELECT *, row_number() OVER (PARTITION BY tracklet_key
                                 ORDER BY energy DESC, idx) AS r
    FROM scored
  ) WHERE r = 1
), rest AS (
  SELECT s.tracklet_key, s.idx, p.idx1, p.energy1,
         (s.f0*p.g0 + s.f1*p.g1 + s.f2*p.g2 + s.f3*p.g3)::DOUBLE
           / (sqrt(s.sq::DOUBLE) * sqrt(p.gsq::DOUBLE)) AS cos_sim
  FROM scored s JOIN pick1 p USING (tracklet_key)
  WHERE s.idx != p.idx1
)
SELECT tracklet_key,
       idx1::BIGINT AS exemplar_hi_energy,
       energy1::BIGINT AS energy1,
       idx::BIGINT AS exemplar_most_diff,
       floor((cos_sim) * 1000000.0 + 0.5) / 1000000.0 AS div_cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY tracklet_key
                               ORDER BY cos_sim, idx) AS r
  FROM rest
) WHERE r = 1
"""


# --- d24: journey reconstruction (chained stitch candidates) -----------------
# The multi-camera deliverable the stitch graph exists for: 2-leg
# journeys A -> B -> C, chained where leg2 continues from leg1's
# arrival tracklet (shared middle key makes camera continuity and
# time ordering structural — d23 already oriented each leg by wall
# clock). Journey confidence = the WEAKER leg's similarity (a chain
# is only as strong as its weakest link). Scale shape: the candidate
# frame is staged once (both legs read it) and the chain is one
# equi-join on the middle tracklet key — journeys never touch raw
# tracklets again.

def d24_journey_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.staging import persist_disk

    cand = persist_disk(
        _stitch_candidates(spark).select(
            "cam_from", "cam_to", "key_from", "key_to", "transit_s", "similarity"
        )
    )
    leg1 = cand.selectExpr(
        "cam_from AS cam_a", "cam_to AS cam_b",
        "key_from AS key_a", "key_to AS key_b",
        "transit_s AS t1", "similarity AS sim1",
    )
    leg2 = cand.selectExpr(
        "cam_from AS cam_b2", "cam_to AS cam_c",
        "key_from AS key_b", "key_to AS key_c",
        "transit_s AS t2", "similarity AS sim2",
    )
    return (
        leg1.join(leg2, on="key_b")
        .filter("key_a != key_c")
        .selectExpr(
            "key_a", "key_b", "key_c",
            "cam_a", "cam_b", "cam_c",
            "t1 + t2 AS total_transit_s",
            "least(sim1, sim2) AS journey_confidence",
        )
    )


D24_SQL = f"""
WITH cand AS MATERIALIZED (
  SELECT cam_from, cam_to, key_from, key_to, transit_s, similarity
  FROM ({D23_SQL}) c
)
SELECT l1.key_from AS key_a, l1.key_to AS key_b, l2.key_to AS key_c,
       l1.cam_from AS cam_a, l1.cam_to AS cam_b, l2.cam_to AS cam_c,
       l1.transit_s + l2.transit_s AS total_transit_s,
       least(l1.similarity, l2.similarity) AS journey_confidence
FROM cand l1
JOIN cand l2 ON l2.key_from = l1.key_to
WHERE l1.key_from != l2.key_to
"""


# --- d29: per-camera concurrent-load profile (interval sweep) ----------------
# Capacity planning for the live pipeline: how many tracklets are
# simultaneously active per camera (peak concurrency sizes the
# tracker/recognizer batch the camera feeds; busy time sizes its duty
# cycle). Classic sweep-line, distributed: each tracklet becomes a
# (+1, start) and (-1, end) event; a PER-CAMERA time-ordered window
# running-sums the deltas (end events sort before starts at equal
# timestamps — intervals are end-exclusive, the back-to-back tracklet
# does not overlap its successor). Scale: windows partition by camera
# (bounded cardinality), event stream is 2 rows per tracklet — no
# joins, no quadratic interval pairing.


def d29_camera_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.fixtures import FPS_DEN, FPS_NUM
    from las_vpe_platform_spark.functions.scalar import ntz_epoch_micros

    frame_us = FPS_DEN * 1_000_000 // FPS_NUM
    tr = _fx(spark, "tracklets").select(
        "tracklet_key",
        "video_id",
        ntz_epoch_micros("start_ts").alias("s_us"),
        (F.size("location_sequence").cast("bigint") * frame_us).alias("dur_us"),
    )
    vids = _fx(spark, "videos").select("video_id", "camera_id")
    iv = tr.join(F.broadcast(vids), "video_id")
    # one scan, not a union of two: each interval EXPLODES into its
    # (+1, start) / (-1, end) event pair map-side
    events = iv.select(
        "camera_id",
        "tracklet_key",
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("us"), F.lit(1).cast("bigint").alias("delta")),
                F.struct(
                    (F.col("s_us") + F.col("dur_us")).alias("us"),
                    F.lit(-1).cast("bigint").alias("delta"),
                ),
            )
        ).alias("_e"),
    ).select("camera_id", "tracklet_key", "_e.us", "_e.delta")
    w = W.partitionBy("camera_id").orderBy("us", "delta", "tracklet_key")
    swept = events.select(
        "camera_id",
        "delta",
        "us",
        F.sum("delta").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        (F.lead("us").over(w) - F.col("us")).alias("gap"),
    )
    return swept.groupBy("camera_id").agg(
        F.sum((F.col("delta") == 1).cast("long")).cast("bigint").alias("n_tracklets"),
        F.max("cum").cast("bigint").alias("peak_concurrent"),
        F.sum(
            F.when((F.col("cum") > 0) & F.col("gap").isNotNull(), F.col("gap"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("busy_us"),
    )


D29_SQL = f"""
WITH iv AS (
  SELECT v.camera_id, t.tracklet_key, epoch_us(t.start_ts) AS s_us,
         len(t.location_sequence)::BIGINT * 80000 AS dur_us
  FROM {_fxsql('tracklets')} t JOIN {_fxsql('videos')} v USING (video_id)
), ev AS (
  SELECT camera_id, tracklet_key, s_us AS us, 1::BIGINT AS delta FROM iv
  UNION ALL
  SELECT camera_id, tracklet_key, s_us + dur_us, -1::BIGINT FROM iv
), swept AS (
  SELECT camera_id, delta,
         sum(delta) OVER (PARTITION BY camera_id
                          ORDER BY us, delta, tracklet_key
                          ROWS UNBOUNDED PRECEDING) AS cum,
         lead(us) OVER (PARTITION BY camera_id
                        ORDER BY us, delta, tracklet_key) - us AS gap
  FROM ev
)
SELECT camera_id,
       sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT AS n_tracklets,
       max(cum)::BIGINT AS peak_concurrent,
       sum(CASE WHEN cum > 0 AND gap IS NOT NULL THEN gap ELSE 0 END)::BIGINT AS busy_us
FROM swept GROUP BY camera_id
"""


# --- m14: content-defined scene segmentation over the frame stream -----------
# Temporal segmentation of the m05 frame source: a frame whose content
# hash falls below a fixed cut threshold opens a NEW segment (the
# deterministic stand-in for a scene-change detector — same plug-point
# convention as the recognizer fakes: a real detector swaps in at the
# boundary-flag expression without touching the plan). Per (video,
# segment): frame count and index range — the shot list a video
# curation pipeline samples from. Scale: boundary flag is a pure
# column expression on the frame payload (JVM-side), segment ids are a
# per-video prefix sum — no shuffle beyond the per-video window.

M14_CUT = (1 << 32) // 20  # ~5% boundary rate -> ~20-frame scenes


def m14_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import cut_video_frames

    frames = cut_video_frames(_fx(spark, "videos"))
    flagged = frames.select(
        "video_id",
        "frame_index",
        (
            F.conv(F.substring(F.lower(F.hex("frame_data")), 1, 8), 16, 10)
            .cast("bigint")
            < M14_CUT
        ).cast("long").alias("_b"),
    )
    w = W.partitionBy("video_id").orderBy("frame_index")
    seg = flagged.withColumn(
        "segment", F.sum("_b").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return seg.groupBy("video_id", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.min("frame_index").cast("bigint").alias("first_frame"),
        F.max("frame_index").cast("bigint").alias("last_frame"),
    )


M14_SQL = f"""
WITH f AS (
  SELECT video_id,
         unnest(generate_series(
           0, CAST(floor(duration_s * fps_num / fps_den) AS BIGINT) - 1, 250)) AS frame_index
  FROM {_fxsql('videos')}
), flagged AS (
  SELECT video_id, frame_index,
         CASE WHEN ('0x' || substr(md5('frame:' || video_id || ':' || frame_index), 1, 8))::BIGINT
                   < {M14_CUT} THEN 1 ELSE 0 END AS b
  FROM f
), seg AS (
  SELECT video_id, frame_index,
         sum(b) OVER (PARTITION BY video_id ORDER BY frame_index
                      ROWS UNBOUNDED PRECEDING) AS segment
  FROM flagged
)
SELECT video_id, segment::BIGINT AS segment, count(*)::BIGINT AS n_frames,
       min(frame_index)::BIGINT AS first_frame,
       max(frame_index)::BIGINT AS last_frame
FROM seg GROUP BY 1, 2
"""


# --- m15: scene-exemplar frame sampling ---------------------------------------
# The frame-sampling pass a video training pipeline actually runs:
# ONE representative frame per SCENE (m14's content-defined segments
# give temporal diversity; m06's content-addressed argmin gives a
# deterministic pick within each) — versus m06's per-fragment pick,
# which oversamples long static scenes and undersamples busy ones.
# Output is the training manifest row: (video, segment, exemplar
# frame, scene span). Scale: one frame scan, per-video prefix-sum
# windows, one (video, segment) argmin aggregate — payload bytes never
# shuffle (the argmin compares hex digests computed in-scan).


def m15_scene_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import cut_video_frames

    frames = cut_video_frames(_fx(spark, "videos"))
    flagged = frames.select(
        "video_id",
        "frame_index",
        F.lower(F.hex("frame_data")).alias("_h"),
    ).select(
        "video_id",
        "frame_index",
        "_h",
        (
            F.conv(F.substring("_h", 1, 8), 16, 10).cast("bigint") < M14_CUT
        ).cast("long").alias("_b"),
    )
    w = W.partitionBy("video_id").orderBy("frame_index")
    seg = flagged.withColumn(
        "segment", F.sum("_b").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return seg.groupBy("video_id", F.col("segment").cast("bigint").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.min("frame_index").cast("bigint").alias("first_frame"),
        F.max("frame_index").cast("bigint").alias("last_frame"),
        F.min_by("frame_index", "_h").cast("bigint").alias("exemplar_frame"),
        F.substring(F.min("_h"), 1, 8).alias("exemplar_hash_prefix"),
    )


M15_SQL = f"""
WITH f AS (
  SELECT video_id,
         unnest(generate_series(
           0, CAST(floor(duration_s * fps_num / fps_den) AS BIGINT) - 1, 250)) AS frame_index
  FROM {_fxsql('videos')}
), h AS (
  SELECT video_id, frame_index,
         md5('frame:' || video_id || ':' || frame_index) AS hx
  FROM f
), seg AS (
  SELECT video_id, frame_index, hx,
         sum(CASE WHEN ('0x' || substr(hx, 1, 8))::BIGINT < {M14_CUT}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY video_id ORDER BY frame_index
                 ROWS UNBOUNDED PRECEDING) AS segment
  FROM h
)
SELECT video_id, segment::BIGINT AS segment, count(*)::BIGINT AS n_frames,
       min(frame_index)::BIGINT AS first_frame,
       max(frame_index)::BIGINT AS last_frame,
       arg_min(frame_index, hx)::BIGINT AS exemplar_frame,
       substr(min(hx), 1, 8) AS exemplar_hash_prefix
FROM seg GROUP BY 1, 2
"""


# --- m16: audio silence trim (VAD-style endpointing) --------------------------
# The leading/trailing-silence trim every speech-data pipeline runs
# before training (endpointing): a frame is VOICED when its energy
# density clears HALF the clip's mean density (the m10 relative-
# threshold convention — absolute PCM thresholds don't transfer across
# recording gains), and the trim keeps [first_voiced, last_voiced].
# Frame granularity is the honest unit (real VADs are frame-based).
# Scale: rides m08's per-window hex-energy fold (staged once), one
# clip-keyed join + one grouped aggregate — no per-sample shuffle.


def m16_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.staging import persist_disk

    wins = persist_disk(m08_audio_energy_windows(spark, sf_dir))
    tot = wins.groupBy("clip_id").agg(
        F.sum("energy").alias("_te"),
        F.sum("n_in_window").alias("_tn"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    )
    voiced = F.when(
        F.col("energy") * 2 * F.col("_tn") > F.col("_te") * F.col("n_in_window"),
        F.col("window_id"),
    )
    agg = (
        wins.join(tot, "clip_id")
        .groupBy("clip_id")
        .agg(
            F.max("n_windows").alias("n_windows"),
            F.min(voiced).cast("bigint").alias("first_voiced"),
            F.max(voiced).cast("bigint").alias("last_voiced"),
        )
    )
    return agg.select(
        "clip_id",
        "n_windows",
        "first_voiced",
        "last_voiced",
        F.coalesce("first_voiced", F.col("n_windows")).cast("bigint").alias(
            "n_lead_trimmed"
        ),
        F.coalesce(
            F.col("n_windows") - 1 - F.col("last_voiced"), F.lit(0)
        ).cast("bigint").alias("n_tail_trimmed"),
    )


M16_SQL = f"""
WITH wins AS ({M08_SQL}
), tot AS (
  SELECT clip_id, sum(energy) AS te, sum(n_in_window) AS tn,
         count(*)::BIGINT AS nw
  FROM wins GROUP BY 1
), flags AS (
  SELECT w.clip_id, any_value(nw) AS nw,
         min(CASE WHEN w.energy * 2 * tn > te * w.n_in_window
                  THEN w.window_id END)::BIGINT AS fv,
         max(CASE WHEN w.energy * 2 * tn > te * w.n_in_window
                  THEN w.window_id END)::BIGINT AS lv
  FROM wins w JOIN tot USING (clip_id) GROUP BY w.clip_id
)
SELECT clip_id, nw AS n_windows, fv AS first_voiced, lv AS last_voiced,
       coalesce(fv, nw)::BIGINT AS n_lead_trimmed,
       coalesce(nw - 1 - lv, 0)::BIGINT AS n_tail_trimmed
FROM flags
"""


# --- m17: perceptual-hash near-dup over binary patches ----------------------
# The MISSING multimodal dedup mode: m07 groups EXACT content (md5)
# under a coarse feature signature; m17 finds perceptually-CLOSE
# patches that hash differently — aHash bits (byte > grid mean) packed
# band-wise, Manku-style banded candidate join (some band equal), then
# exact Hamming scoring with bit_count(xor) — the image twin of q53's
# SimHash text join, computed entirely inside codegen (hex/conv/
# shiftleft/bit_count; no Python, no pixel decode). Candidate
# semantics (like q24): pair reported iff SOME band collides AND total
# Hamming <= M17_HAMMING_T; the oracle mirrors the band predicate
# verbatim. Scale: only (band_idx, band_value) postings shuffle —
# governed by bucket occupancy, never corpus^2.

M17_HAMMING_T = 13


def m17_patch_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.multimodal import (
        ahash_candidate_pairs,
        patch_ahash,
    )
    from las_vpe_platform_spark.operators.staging import persist_disk

    hashed = persist_disk(patch_ahash(_fx(spark, "tracklets")))
    return ahash_candidate_pairs(hashed, M17_HAMMING_T)


M17_SQL = f"""
WITH fp AS (
  SELECT tracklet_key AS id,
         hex((list_filter(location_sequence, b -> b.patch_data IS NOT NULL))[1].patch_data) AS h
  FROM {_fxsql('tracklets')}
  WHERE len(list_filter(location_sequence, b -> b.patch_data IS NOT NULL)) > 0
    AND octet_length((list_filter(location_sequence, b -> b.patch_data IS NOT NULL))[1].patch_data) >= 48
), bytes AS (
  SELECT id,
         list_transform(generate_series(1, 48), i -> ('0x' || substr(h, 2*i - 1, 2))::INT) AS bs
  FROM fp
), mo AS (
  SELECT id, bs, list_sum(bs)::DOUBLE / 48 AS mu FROM bytes
), bands AS (
  SELECT id,
         list_transform(generate_series(0, 3),
           j -> list_sum(list_transform(generate_series(1, 12),
                 i -> CASE WHEN bs[12*j + i] > mu THEN (1 << (i - 1)) ELSE 0 END))::INT) AS bv
  FROM mo
)
SELECT a.id AS id_a, b.id AS id_b,
       list_sum(list_transform(generate_series(1, 4),
                k -> bit_count(xor(a.bv[k], b.bv[k]))))::INT AS hamming
FROM bands a JOIN bands b
  ON a.id < b.id
 AND (a.bv[1] = b.bv[1] OR a.bv[2] = b.bv[2] OR a.bv[3] = b.bv[3] OR a.bv[4] = b.bv[4])
WHERE list_sum(list_transform(generate_series(1, 4),
               k -> bit_count(xor(a.bv[k], b.bv[k])))) <= {M17_HAMMING_T}
"""


# --- m18: perceptual-dup clusters over binary patches -----------------------
# Completes m17's pairs into actionable storage decisions: connected
# components over the aHash near-dup graph (q55's min-label
# propagation, string keys) with one keeper per cluster — the
# image-side keep-one manifest a tracklet store compacts against
# (reference K4's HAR folding is the byte-level cousin,
# DataManagingApp.java:422-473). Scale: CC rounds are edge-keyed
# joins over the LSH-bounded alert set, never the patch corpus.


def m18_patch_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from las_vpe_platform_spark.operators.dedup import connected_components
    from las_vpe_platform_spark.operators.multimodal import (
        ahash_candidate_pairs,
        patch_ahash,
    )
    from las_vpe_platform_spark.operators.staging import persist_disk

    hashed = persist_disk(patch_ahash(_fx(spark, "tracklets")))
    pairs = ahash_candidate_pairs(hashed, M17_HAMMING_T).select("id_a", "id_b")
    comp = connected_components(pairs, src="id_a", dst="id_b", edges_canonical=True)
    # min-label CC already labels each component with its minimum node id,
    # so keeper_id == component by construction (ADVICE r9) — alias it
    # instead of paying a redundant min(node) aggregate; the column is
    # kept because downstream compaction consumers key on "keeper_id"
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    ).withColumn("keeper_id", F.col("component"))


def _m18_sql() -> str:
    return f"""
WITH RECURSIVE m17 AS (
  SELECT id_a, id_b FROM ({M17_SQL}) t
), edges AS (
  SELECT id_a AS a, id_b AS b FROM m17
  UNION SELECT id_b AS a, id_a AS b FROM m17
), reach(node, root) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(root) AS component FROM reach GROUP BY node
)
SELECT component, count(*)::BIGINT AS n_members, component AS keeper_id
FROM comp GROUP BY component
"""


M18_SQL = _m18_sql()


# --- m19: audio energy-profile fingerprint dedup ----------------------------
# The AUDIO member of the content-dedup family (text q23/q24, image
# m07/m17): clips grouped by their quantized loudness profile — per
# m08 window, bucket = length(bin(1 + mean_energy)), i.e.
# floor(log2)+1 as a PURE INTEGER expression (no float log whose ULP
# could straddle engines); fingerprint = the ordered bucket list.
# Same-profile clips are re-recordings/re-encodes of the same
# material at this resolution — the keep-one manifest before paying
# for decode. Scale: rides m08's windowed exact-BIGINT energy fold
# (scan-stage work); the fingerprint aggregate shuffles clip-keyed
# rows once and groups are fingerprint-keyed.


def m19_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    wins = m08_audio_energy_windows(spark, sf_dir)
    fp = (
        wins.select(
            "clip_id",
            "window_id",
            F.length(
                F.bin(F.lit(1) + F.expr("energy div n_in_window"))
            ).alias("_b"),
        )
        .groupBy("clip_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("window_id", "_b"))),
                lambda s: s.getField("_b"),
            ).alias("_fp")
        )
    )
    return fp.groupBy("_fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clips"),
        F.min("clip_id").alias("keeper_id"),
        F.size("_fp").cast("bigint").alias("n_windows"),
    ).select("keeper_id", "n_clips", "n_windows")


def _m19_sql() -> str:
    return f"""
WITH wins AS ({_m08_sql()}),
fp AS (
  SELECT clip_id,
         list(length(bin(1 + energy // n_in_window)) ORDER BY window_id) AS f
  FROM wins GROUP BY 1
)
SELECT min(clip_id) AS keeper_id, count(*)::BIGINT AS n_clips,
       max(len(f))::BIGINT AS n_windows
FROM fp GROUP BY f::VARCHAR
"""


M19_SQL = _m19_sql()


DOMAIN_QUERIES = {
    "d01_tracklet_sampling": (d01_tracklet_sampling, D01_SQL),
    "d02_attribute_average": (d02_attribute_average, D02_SQL),
    "d03_similarity_neighbors": (d03_similarity_neighbors, D03_SQL),
    "d04_persons_minutely": (d04_persons_minutely, D04_SQL),
    "d05_reid_assembly": (d05_reid_assembly, D05_SQL),
    "d06_claim_check": (d06_claim_check, D06_SQL),
    "d07_task_kill_filter": (d07_task_kill_filter, D07_SQL),
    "d08_frame_time_check": (d08_frame_time_check, D08_SQL),
    "d09_feature_topk": (d09_feature_topk, D09_SQL),
    "d10_command_fanout": (d10_command_fanout, D10_SQL),
    "d11_pipeline_attr_recog": (d11_pipeline_attr_recog, D11_SQL),
    "d12_similar_persons_in_window": (d12_similar_persons_in_window, D12_SQL),
    "d13_two_hop_neighbors": (d13_two_hop_neighbors, D13_SQL),
    "d14_pipeline_reid": (d14_pipeline_reid, D14_SQL),
    "d15_pipeline_storage_reid": (d15_pipeline_storage_reid, D15_SQL),
    "d16_pipeline_reid_command": (d16_pipeline_reid_command, D16_SQL),
    "m01_patch_metadata": (m01_patch_metadata, M01_SQL),
    "m02_patch_features": (m02_patch_features, M02_SQL),
    "m03_patch_resize": (m03_patch_resize, M03_SQL),
    "m04_audio_decimate": (m04_audio_decimate, M04_SQL),
    "m05_frame_fragments": (m05_frame_fragments, M05_SQL),
    "m06_keyframe_selection": (m06_keyframe_selection, M06_SQL),
    "m07_patch_neardup": (m07_patch_neardup, M07_SQL),
    "m08_audio_energy_windows": (m08_audio_energy_windows, M08_SQL),
    "m09_patch_brightness_cuts": (m09_patch_brightness_cuts, M09_SQL),
    "d17_trajectory_stats": (d17_trajectory_stats, D17_SQL),
    "d18_fragment_heal_candidates": (d18_fragment_heal_candidates, D18_SQL),
    "d19_camera_transitions": (d19_camera_transitions, D19_SQL),
    "d20_attribute_search": (d20_attribute_search, D20_SQL),
    "d21_cotravel_pairs": (d21_cotravel_pairs, D21_SQL),
    "d23_cross_camera_stitch": (d23_cross_camera_stitch, D23_SQL),
    "m11_diverse_exemplars": (m11_diverse_exemplars, M11_SQL),
    "d24_journey_reconstruction": (d24_journey_reconstruction, D24_SQL),
    "m10_loudness_segments": (m10_loudness_segments, M10_SQL),
    "d22_dwell_distribution": (d22_dwell_distribution, D22_SQL),
    "m12_tone_detection": (m12_tone_detection, M12_SQL),
    "m13_audio_qa": (m13_audio_qa, M13_SQL),
    "d26_camera_feature_bias": (d26_camera_feature_bias, D26_SQL),
    "d27_camera_heatmap": (d27_camera_heatmap, D27_SQL),
    "d28_activity_calendar": (d28_activity_calendar, D28_SQL),
    "d29_camera_load": (d29_camera_load, D29_SQL),
    "m14_scene_segments": (m14_scene_segments, M14_SQL),
    "m15_scene_exemplars": (m15_scene_exemplars, M15_SQL),
    "m16_audio_silence_trim": (m16_audio_silence_trim, M16_SQL),
    "m17_patch_ahash_neardup": (m17_patch_ahash_neardup, M17_SQL),
    "m18_patch_dedup_clusters": (m18_patch_dedup_clusters, M18_SQL),
    "m19_audio_fingerprint_dedup": (m19_audio_fingerprint_dedup, M19_SQL),
}
