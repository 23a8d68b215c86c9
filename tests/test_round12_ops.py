"""Round-12 tests: the chunked ranking kernel's exact equivalence
(ADVICE r11 memory fix), scratch-dir selection and the signature-path
shingles. The stateful operators' trigger invariance is in
test_stateful.py; the bench's own tests are in test_bench.py."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


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
