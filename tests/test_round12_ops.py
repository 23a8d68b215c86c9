"""Round-12 tests: trigger-consolidation invariance for the streaming
slow tail (VERDICT r11 #3), the chunked ranking kernel's exact
equivalence (ADVICE r11 memory fix). The bench's own tests are in
test_bench.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- trigger-consolidation invariance (s22 / s23) -----------------------------
# The consolidation is legal ONLY because each stateful UDF sorts its
# batch rows per key, making the output a pure function of the slice
# ORDER, not the trigger grouping. These tests run the same landed
# slices at 1 file/trigger vs all-in-one and require identical output
# — the s26 split-invariance pattern applied to the entries VERDICT
# r11 #3 consolidates.


def _landed_event_slices(spark, tmp_path, n_slices=4):
    rows = []
    # three hours of events, several per (type, hour), ids interleaved
    for i in range(120):
        rows.append(
            (
                i,
                f"t{i % 3}",
                (i * 97) % 3 * 3_600_000_000 + (i % 40) * 60_000_000,
            )
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_micros", T.LongType()),
        ]
    )
    df = spark.createDataFrame(rows, schema).orderBy("ts_micros", "event_id")
    src = str(tmp_path / "slices")
    step = 120 // n_slices
    parts = df.collect()
    parts.sort(key=lambda r: (r["ts_micros"], r["event_id"]))
    for i in range(n_slices):
        spark.createDataFrame(parts[i * step : (i + 1) * step], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/slice{i:02d}")
    return src, schema


def _run_rate_limit(spark, src, schema, mft):
    import uuid

    from las_vpe_platform_spark.streaming.engine import (
        file_stream,
        run_to_completion,
    )
    from las_vpe_platform_spark.streaming.stateful import rate_limit_stream

    stream = file_stream(spark, f"{src}/*", schema, max_files_per_trigger=mft)
    stream = stream.withColumn("ts", F.timestamp_micros("ts_micros"))
    admitted = rate_limit_stream(stream, key_col="event_type", limit=5)
    return run_to_completion(
        admitted, f"r12_s22_{mft}_{uuid.uuid4().hex[:6]}", output_mode="append"
    ).select("event_id", "event_type", "hour_bucket", "slot")


def test_s22_rate_limit_trigger_invariance(spark, tmp_path):
    src, schema = _landed_event_slices(spark, tmp_path)
    one = _collect_sorted(_run_rate_limit(spark, src, schema, 1))
    allinone = _collect_sorted(_run_rate_limit(spark, src, schema, 4))
    assert one == allinone
    assert len(one) > 0


def _run_pack(spark, src, schema, mft):
    import uuid

    from las_vpe_platform_spark.streaming.engine import (
        file_stream,
        run_to_completion,
    )
    from las_vpe_platform_spark.streaming.stateful import token_pack_stream

    stream = file_stream(spark, f"{src}/*", schema, max_files_per_trigger=mft)
    packed = token_pack_stream(stream, budget=16)
    return run_to_completion(
        packed, f"r12_s23_{mft}_{uuid.uuid4().hex[:6]}", output_mode="append"
    ).select("doc_id", "source", "n_toks", "bin_id")


def test_s23_packing_trigger_invariance(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (i, f"s{i % 2}", "tok " * ((i * 13) % 9 + 1)) for i in range(80)
    ]
    src = str(tmp_path / "docs")
    # doc_id-range slices written sequentially (the landing contract)
    for i in range(4):
        spark.createDataFrame(rows[i * 20 : (i + 1) * 20], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/slice{i:02d}")
    one = _collect_sorted(_run_pack(spark, src, schema, 1))
    two = _collect_sorted(_run_pack(spark, src, schema, 2))
    allinone = _collect_sorted(_run_pack(spark, src, schema, 4))
    assert one == two == allinone
    assert len(one) == 80


# --- chunked ranking kernel (ADVICE r11 memory fix) ---------------------------


def test_topk_block_chunked_equals_full_matrix():
    """The gallery sub-tiling inside _topk_block must be invisible:
    forcing a tiny chunk size (many merge rounds) reproduces the
    single-shot full-matrix scoring exactly — similarity ties broken
    by key, zero-norm NULL policy, and exclude-mode row drops
    included. Quantized vectors make exact ties common."""
    import las_vpe_platform_spark.operators.joins as J

    rng = np.random.default_rng(42)

    def run(chunk, keys, labels, P, pnorm, pdf, k, exclude):
        old = J.TOPK_GALLERY_CHUNK_ROWS
        J.TOPK_GALLERY_CHUNK_ROWS = chunk
        try:
            return J._topk_block(
                keys, labels, P, pnorm, pdf.copy(), k, exclude
            ).reset_index(drop=True)
        finally:
            J.TOPK_GALLERY_CHUNK_ROWS = old

    for trial in range(40):
        n_p = int(rng.integers(1, 7))
        n_g = int(rng.integers(1, 90))
        d = int(rng.integers(2, 5))
        k = int(rng.integers(1, 9))
        exclude = bool(rng.integers(0, 2))
        P = rng.integers(0, 3, (n_p, d)).astype(float)
        Gv = rng.integers(0, 3, (n_g, d)).astype(float)
        if rng.random() < 0.3:
            P[0] = 0
        if rng.random() < 0.3:
            Gv[0] = 0
        pnorm = np.sqrt((P * P).sum(axis=1))
        keys = pd.Series(rng.permutation(n_p * 3)[:n_p])
        pdf = pd.DataFrame(
            {"gallery_key": rng.permutation(n_g * 2)[:n_g], "_gvec": list(Gv)}
        )
        labels = None
        if exclude:
            labels = rng.integers(0, 3, n_p).astype(object)
            glab = rng.integers(0, 3, n_g).astype(object)
            if rng.random() < 0.3:
                labels[0] = None
            if rng.random() < 0.3:
                glab[0] = None
            pdf["_glabel"] = glab
        tiny = run(7, keys, labels, P, pnorm, pdf, k, exclude)
        full = run(1 << 30, keys, labels, P, pnorm, pdf, k, exclude)
        pd.testing.assert_frame_equal(tiny, full, check_exact=True)


def test_topk_block_chunk_constant_is_bounded():
    """The memory contract: the chunk constant must keep every
    n_p x chunk float64 temporary under ~200 MB even at the widest
    probe block (the broadcast path's 10k-row Arrow batches)."""
    from las_vpe_platform_spark.operators.joins import (
        PROBE_BROADCAST_MAX,
        TOPK_GALLERY_CHUNK_ROWS,
    )

    assert PROBE_BROADCAST_MAX * TOPK_GALLERY_CHUNK_ROWS * 8 <= 200 * 1024**2


def test_default_local_dir_env_and_fallbacks(monkeypatch):
    """SPARK_GRAFT_LOCAL_DIR wins; SPARK_LOCAL_DIRS defers to Spark's
    own env handling; otherwise a roomy /dev/shm is used and a missing
    or tiny tmpfs falls back to Spark's default (None)."""
    import os

    from las_vpe_platform_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/tmp/override-scratch")
    assert S._default_local_dir() == "/tmp/override-scratch"
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/spark-env-dirs")
    assert S._default_local_dir() is None
    monkeypatch.delenv("SPARK_LOCAL_DIRS")

    real_statvfs = os.statvfs

    class _Tiny:
        f_bavail = 10
        f_frsize = 4096

    monkeypatch.setattr(os, "statvfs", lambda p: _Tiny())
    assert S._default_local_dir() is None  # tiny tmpfs: Spark default
    monkeypatch.setattr(os, "statvfs", real_statvfs)
    picked = S._default_local_dir()
    if picked is not None:  # roomy /dev/shm on this host
        assert picked.startswith("/dev/shm/") and os.path.isdir(picked)


def test_stream_scratch_base_env_and_fallbacks(monkeypatch):
    """SPARK_GRAFT_STREAM_SCRATCH wins; otherwise a roomy /dev/shm is
    picked; a tiny or missing tmpfs falls back to the tempfile default
    (None). Mirrors the _default_local_dir contract — streaming
    checkpoint/state/source scratch is the other per-micro-batch
    fsync path."""
    import os

    from las_vpe_platform_spark import queries_streaming as QS

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/tmp/override-stream")
    assert QS._scratch_base() == "/tmp/override-stream"
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH")

    real_statvfs = os.statvfs

    class _Tiny:
        f_bavail = 10
        f_frsize = 4096

    monkeypatch.setattr(os, "statvfs", lambda p: _Tiny())
    assert QS._scratch_base() is None  # tiny tmpfs: tempfile default
    monkeypatch.setattr(os, "statvfs", real_statvfs)
    picked = QS._scratch_base()
    if picked is not None:  # roomy /dev/shm on this host
        assert picked == "/dev/shm"


# --- r12 second wave: s03 / s10 / s12 / s15 single-data-trigger ---------------
# Same legality argument and test pattern as s22/s23 above: each
# operator sorts its batch per key, so closed sessions / LOCF fills /
# trigrams / anomaly flags are pure functions of the slice order.
# (s15's running float sums reassociate at batch boundaries by design
# — its output columns are rounded to 1e-6 with decision margins ~1e-3,
# the same contract that already absorbs engine drift; on the test
# data the outputs must be exactly equal.)


def _landed_user_event_slices(spark, tmp_path, n_slices=4):
    rows = []
    for i in range(160):
        rows.append(
            (
                i,
                i % 7,  # user_id
                ["click", "view", "purchase"][i % 3],
                (i * 37) % 4 * 3_600_000_000 + (i % 50) * 60_000_000,
                # occasional large spikes so the anomaly operator (s15)
                # has flags to emit; benign for the other operators
                1000.0 + i if i % 37 == 0 else float((i * 13) % 29) / 3.0,
            )
        )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "uslices")
    parts = spark.createDataFrame(rows, schema).collect()
    parts.sort(key=lambda r: (r["ts_micros"], r["event_id"]))
    step = len(parts) // n_slices
    for i in range(n_slices):
        spark.createDataFrame(parts[i * step : (i + 1) * step], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/slice{i:02d}")
    return src, schema


def _user_stream(spark, src, schema, mft):
    from las_vpe_platform_spark.streaming.engine import file_stream

    return file_stream(
        spark, f"{src}/*", schema, max_files_per_trigger=mft
    ).withColumn("ts", F.timestamp_micros("ts_micros"))


def _run_stateful(spark, src, schema, mft, build, name):
    import uuid

    from las_vpe_platform_spark.streaming.engine import run_to_completion

    out = build(_user_stream(spark, src, schema, mft))
    return run_to_completion(
        out, f"r12_{name}_{mft}_{uuid.uuid4().hex[:6]}", output_mode="append"
    )


@pytest.mark.parametrize(
    "name,builder,cols",
    [
        (
            "s03",
            lambda st: __import__(
                "las_vpe_platform_spark.streaming.stateful", fromlist=["x"]
            ).sessionize_stream(st, "user_id", "ts", gap_seconds=1800),
            ["user_id", "session_start", "session_end", "n_events"],
        ),
        (
            "s10",
            lambda st: __import__(
                "las_vpe_platform_spark.streaming.stateful", fromlist=["x"]
            ).locf_stream(st, fill_type="click"),
            ["event_id", "user_id", "event_type", "filled_click_value"],
        ),
        (
            "s12",
            lambda st: __import__(
                "las_vpe_platform_spark.streaming.stateful", fromlist=["x"]
            ).trigram_stream(st),
            ["user_id", "e1", "e2", "e3"],
        ),
        (
            "s15",
            lambda st: __import__(
                "las_vpe_platform_spark.streaming.stateful", fromlist=["x"]
            ).anomaly_stream(st),
            ["event_id", "event_type", "n_prev", "deviation", "sd_prev"],
        ),
    ],
)
def test_stateful_trigger_invariance_r12(spark, tmp_path, name, builder, cols):
    src, schema = _landed_user_event_slices(spark, tmp_path)
    one = _collect_sorted(
        _run_stateful(spark, src, schema, 1, builder, name).select(*cols)
    )
    allinone = _collect_sorted(
        _run_stateful(spark, src, schema, 4, builder, name).select(*cols)
    )
    assert one == allinone
    assert len(one) > 0


# --- r12 signature-path shingles (zip-stream, zero exchanges) -----------------
# minhash_signatures' default shingle source switched from the windowed
# distinct form to shingle_stream (guide §2.3/§2.4): legal ONLY because
# per-doc MIN is duplicate-insensitive. These pins hold both halves of
# that argument: bit-equal signatures, and the structural property the
# switch exists for (no Exchange/Sort/Window anywhere below the
# signature aggregate — the one shuffle is the aggregate's own).


def _shingle_docs(spark):
    rows = [
        (0, "a b c d e"),
        (1, "  a  b a b a b  "),  # duplicate shingles within a doc
        (2, "x"),                 # shorter than k -> no shingles
        (3, ""),                  # empty
        (4, "q w e r t y u i o p"),
        (5, "a b c a b c a b c"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingle_stream_matches_windowed_distinct(spark):
    from las_vpe_platform_spark.operators.dedup import (
        exploded_shingles,
        shingle_stream,
    )

    docs = _shingle_docs(spark)
    for k in (2, 3):
        win = _collect_sorted(exploded_shingles(docs, "doc_id", "text", k))
        zip_distinct = _collect_sorted(
            shingle_stream(docs, "doc_id", "text", k).dropDuplicates(
                ["doc_id_", "shingle"]
            )
        )
        assert win == zip_distinct


def test_minhash_signatures_bitequal_over_stream_and_distinct(spark):
    from las_vpe_platform_spark.operators.dedup import (
        exploded_shingles,
        minhash_signatures,
    )

    docs = _shingle_docs(spark)
    default = _collect_sorted(minhash_signatures(docs, "doc_id", "text", 3, 16))
    via_distinct = _collect_sorted(
        minhash_signatures(
            docs,
            "doc_id",
            "text",
            3,
            16,
            exploded=exploded_shingles(docs, "doc_id", "text", 3),
        )
    )
    assert default == via_distinct
    assert len(default) == 4  # every doc with >=1 shingle signs


def test_default_signature_path_has_single_exchange_no_window(spark):
    from las_vpe_platform_spark.operators.dedup import minhash_signatures

    docs = _shingle_docs(spark)
    plan = (
        minhash_signatures(docs, "doc_id", "text", 3, 16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan  # the aggregate's own shuffle
    assert "Window" not in plan, plan
    assert "Sort" not in plan.replace("SortAggregate", ""), plan
