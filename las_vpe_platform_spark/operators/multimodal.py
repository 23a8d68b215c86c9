"""Multimodal (image/audio/video) column operators.

Media travel as opaque ``binary`` columns with typed metadata — the
pattern the reference uses for BGR pixel patches
(Tracklet.BoundingBox.patchData, Tracklet.java:216-225) and decoded
frame arrays (DataManagingApp.java:160-217). Heavy per-byte work runs
in Arrow-batched ``mapInPandas`` stages; real codec/model backends
(cv2/PIL/ffmpeg — not in this container) are stubbed behind
import-tries with deterministic fakes, so the Spark-side plumbing
(schemas, batching, partitioning) is real and tested while the codec
is swappable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from las_vpe_platform_spark.schemas import FRAME

PATCH_FEATURE_DIM = 16


def patch_metadata(df: DataFrame, patches_col: str = "location_sequence") -> DataFrame:
    """Byte-level metadata of the binary patches, JVM-side only.

    Column pruning matters here: this plan never deserializes pixels
    into Python — length/null checks run inside codegen, and parquet
    reads only the (repeated) binary column lengths it must.
    """
    patches = F.filter(F.col(patches_col), lambda b: b.getField("patch_data").isNotNull())
    sizes = F.transform(patches, lambda b: F.length(b.getField("patch_data")))
    return df.select(
        "video_id",
        "tracklet_key",
        F.size(patches).alias("n_patches"),
        F.aggregate(sizes, F.lit(0), lambda acc, s: acc + s).alias("total_patch_bytes"),
    )


def extract_patch_features(
    df: DataFrame,
    key_col: str = "tracklet_key",
    patches_col: str = "location_sequence",
) -> DataFrame:
    """Patch binary -> 16-dim feature vector, Arrow-batched.

    The deterministic fake "model": a normalized 16-bin intensity
    histogram per first retained patch. A real CNN provider replaces
    the inner function only — batching, schema and partition shape are
    identical (the DeepMAR preprocess+forward path, DeepMAR.java:83-136).
    """
    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)

    sel = df.select(
        F.col(key_col).alias("tracklet_key"),
        F.filter(
            F.col(patches_col), lambda b: b.getField("patch_data").isNotNull()
        ).alias("patches"),
    ).filter(F.size("patches") > 0)

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            keys, feats = [], []
            for key, patches in zip(pdf["tracklet_key"], pdf["patches"]):
                first = patches[0]
                arr = np.frombuffer(first["patch_data"], dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=16, range=(0, 256))
                total = hist.sum()
                feats.append((hist / total if total else hist).astype(float).tolist())
                keys.append(key)
            yield pd.DataFrame({"tracklet_key": keys, "patch_feature": feats})

    return sel.mapInPandas(featurize, "tracklet_key string, patch_feature array<double>")


def resize_patches(
    df: DataFrame,
    out_w: int,
    out_h: int,
    key_col: str = "tracklet_key",
    patches_col: str = "location_sequence",
) -> DataFrame:
    """Nearest-neighbor resize of each tracklet's first retained patch
    to ``out_w`` x ``out_h``, Arrow-batched (the DeepMAR preprocess
    resize, DeepMAR.java:83-136, minus the mean subtraction).

    This one is NOT a stub: fixture patches are raw row-major BGR
    (CV_8UC3, Tracklet.java:216-225), so index arithmetic IS the
    resize — src pixel = (y*H//outH, x*W//outW), pure numpy fancy
    indexing, no codec needed. A cv2/PIL provider would only replace
    the index mapping with filtered interpolation.

    Output: (key, out_w, out_h, resized binary). Same batching/
    partitioning shape as :func:`extract_patch_features`.
    """
    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)

    sel = df.select(
        F.col(key_col).alias("tracklet_key"),
        F.filter(
            F.col(patches_col), lambda b: b.getField("patch_data").isNotNull()
        ).alias("patches"),
    ).filter(F.size("patches") > 0)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            keys, blobs = [], []
            for key, patches in zip(pdf["tracklet_key"], pdf["patches"]):
                first = patches[0]
                w, h = int(first["width"]), int(first["height"])
                arr = np.frombuffer(first["patch_data"], dtype=np.uint8).reshape(h, w, 3)
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                blobs.append(arr[np.ix_(ys, xs)].tobytes())
                keys.append(key)
            yield pd.DataFrame(
                {
                    "tracklet_key": keys,
                    "out_w": np.int32(out_w),
                    "out_h": np.int32(out_h),
                    "resized": blobs,
                }
            )

    return sel.mapInPandas(
        resize, "tracklet_key string, out_w int, out_h int, resized binary"
    )


def decimate_audio(
    df: DataFrame,
    factor: int,
    key_col: str = "clip_id",
    pcm_col: str = "pcm",
) -> DataFrame:
    """Audio downsampling by integer decimation (every ``factor``-th
    int16 sample), Arrow-batched — the audio face of the multimodal
    binary-column pattern. NOT a stub: raw PCM needs no codec, the
    numpy stride IS the resample. A real DSP provider (polyphase
    filter, soxr) replaces only the inner array expression; batching,
    schema and partition shape stay identical.
    """
    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)

    def decimate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for key, pcm in zip(pdf[key_col], pdf[pcm_col]):
                arr = np.frombuffer(pcm, dtype="<i2")
                out.append((key, np.int32(factor), arr[::factor].astype("<i2").tobytes()))
            yield pd.DataFrame(out, columns=["clip_id", "factor", "decimated"])

    return df.select(key_col, pcm_col).mapInPandas(
        decimate, "clip_id string, factor int, decimated binary"
    )


def fake_frame_decoder(
    video_id: str, duration_s: float, fps_num: int, fps_den: int, frame_stride: int
) -> Iterator[tuple[int, bytes]]:
    """Deterministic fake decode: md5-derived frame payloads at
    ``frame_stride`` intervals (subsampled to keep fake output
    bounded; a real deployment streams every frame)."""
    import hashlib

    n_frames = int(duration_s * fps_num / fps_den)
    for frame_index in range(0, n_frames, frame_stride):
        yield frame_index, hashlib.md5(f"frame:{video_id}:{frame_index}".encode()).digest()


def cut_video_frames(
    videos: DataFrame,
    max_frames_per_fragment: int = 1000,
    frame_stride: int = 250,
    decoder: Callable[..., Iterator[tuple[int, bytes]]] = fake_frame_decoder,
) -> DataFrame:
    """Video-cutting source (S5, VideoCuttingStream,
    DataManagingApp.java:160-217): video row -> frame rows in fragments
    of <= ``max_frames_per_fragment``.

    The codec is INJECTED: ``decoder(video_id, duration_s, fps_num,
    fps_den, frame_stride)`` yields (frame_index, frame_bytes). The
    default is the deterministic fake (no codec library in this
    image); a PyAV/ffmpeg deployment passes its own decoder and
    everything else — fragmenting, schema, Arrow batching, partition
    shape — is unchanged.
    """
    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(videos.sparkSession)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for video_id, duration_s, fps_num, fps_den in zip(
                pdf["video_id"], pdf["duration_s"], pdf["fps_num"], pdf["fps_den"]
            ):
                for frame_index, payload in decoder(
                    video_id, duration_s, fps_num, fps_den, frame_stride
                ):
                    rows.append(
                        {
                            "video_id": video_id,
                            "fragment_id": frame_index // max_frames_per_fragment,
                            "frame_index": frame_index,
                            "frame_data": payload,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME.fields])

    return videos.select("video_id", "duration_s", "fps_num", "fps_den").mapInPandas(
        cut, FRAME
    )


# --- perceptual hashing over binary patches ---------------------------------

AHASH_BYTES = 48
AHASH_BANDS = 4


def patch_ahash(
    df: DataFrame,
    id_col: str = "tracklet_key",
    patches_col: str = "location_sequence",
    n_bytes: int = AHASH_BYTES,
    bands: int = AHASH_BANDS,
) -> DataFrame:
    """Perceptual average-hash (aHash) of each row's FIRST retained
    binary patch, entirely JVM-side.

    The classic aHash recipe (downsample to a tiny grid, threshold
    each cell against the grid mean) applied to the patch's leading
    ``n_bytes`` bytes as the grid: bit i = byte_i > mean(bytes). Bits
    are packed BAND-WISE — ``bands`` positive ints of
    ``n_bytes/bands`` bits each — so the downstream Hamming band join
    never touches signed 64-bit shift/mask arithmetic. Zero Python:
    byte extraction is hex+substr+conv inside codegen, so the plan
    reads only the binary column and nothing crosses to a Python
    worker.

    Reference parity: the patch payload is the reference's BGR pixel
    block (Tracklet.java:216-225, patchData); content-hashing it is
    the dedup step its tracklet store lacks. Rows with no retained
    patch are dropped (nothing to hash), and so are patches SHORTER
    than ``n_bytes`` — without the guard Spark's conv(substr(...))
    would NULL out missing bytes into all-zero bands (every short
    patch colliding) while the SQL oracle's '0x'-cast errors: a
    latent cross-engine divergence, now excluded by contract.
    """
    band_bits = n_bytes // bands
    first = F.filter(
        F.col(patches_col), lambda b: b.getField("patch_data").isNotNull()
    )
    return (
        df.select(F.col(id_col).alias("id"), first.alias("_ps"))
        .filter(F.size("_ps") > 0)
        .filter(F.expr(f"length(_ps[0].patch_data) >= {n_bytes}"))
        .select("id", F.hex(F.expr("_ps[0].patch_data")).alias("_h"))
        .select(
            "id",
            F.expr(
                f"transform(sequence(1, {n_bytes}),"
                " i -> cast(conv(substr(_h, 2*i - 1, 2), 16, 10) AS INT))"
            ).alias("_bs"),
        )
        .select(
            "id",
            "_bs",
            (
                F.expr("aggregate(_bs, 0L, (a, x) -> a + x)").cast("double")
                / F.lit(float(n_bytes))
            ).alias("_mu"),
        )
        .select(
            "id",
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" j -> cast(aggregate(sequence(1, {band_bits}), 0,"
                f"  (acc, i) -> acc + IF(element_at(_bs, {band_bits}*j + i) > _mu,"
                "   shiftleft(1, i - 1), 0)) AS INT))"
            ).alias("band_hash"),
        )
    )


def ahash_candidate_pairs(hashed: DataFrame, max_hamming: int) -> DataFrame:
    """Banded Hamming near-dup join over ``patch_ahash`` output.

    LSH semantics (exactly like minhash_lsh_candidates / the SimHash
    Manku tables): a pair is a CANDIDATE iff some band matches
    exactly; candidates are then scored with the exact Hamming
    distance over all bands (bit_count of per-band XOR, JVM-side) and
    filtered to ``max_hamming``. Only (band_idx, band_value) postings
    shuffle — the corpus of binary patches never self-joins, so the
    plan survives a corpus-scale patch table: candidate mass is
    governed by band-bucket occupancy, not row count squared.
    """
    posts = hashed.select(
        "id", F.posexplode("band_hash").alias("band_idx", "band_val")
    )
    cands = (
        posts.alias("a")
        .join(posts.alias("b"), ["band_idx", "band_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ha = hashed.select(F.col("id").alias("id_a"), F.col("band_hash").alias("_ba"))
    hb = hashed.select(F.col("id").alias("id_b"), F.col("band_hash").alias("_bb"))
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(zip_with(_ba, _bb, (x, y) -> bit_count(x ^ y)), 0,"
                " (a, v) -> a + cast(v AS INT))"
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
