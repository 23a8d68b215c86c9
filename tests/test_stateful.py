"""Keyed-state stream operators (streaming/stateful.py): the split
invariance of every per-key step in plain pandas, stream==batch parity
of both sessionizers, state recovery across restarts, and one
trigger-grouping check through Spark (s22)."""

from __future__ import annotations

import uuid
from functools import partial

import numpy as np
import pandas as pd
import pytest
from conftest import EVENTS_SCHEMA
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from las_vpe_platform_spark.sources.tables import load_table
from las_vpe_platform_spark.streaming.engine import file_stream, run_to_completion
from las_vpe_platform_spark.streaming.stateful import (
    ANOMALY_MIN_N,
    ANOMALY_NSIGMA,
    _sorted_rows,
    anomaly_step,
    anomaly_stream,
    locf_step,
    locf_stream,
    pack_step,
    rate_limit_step,
    rate_limit_stream,
    session_step,
    sessionize_stream,
    sessionize_stream_event_time,
    trigram_step,
    trigram_stream,
)

# --- split invariance of the steps (no Spark) --------------------------------
# Each step folded over ANY contiguous split of a key's sorted rows must
# give the rows and final state of one batch: that is what lets the
# catalog run several time-ordered slices per trigger. Each batch also
# goes through the harness's _sorted_rows, delivered as shuffled chunks
# with ``ts`` as a timestamp, the way Arrow batches reach the UDF.

TS0 = 1_704_067_200_000_000  # 2024-01-01 UTC, epoch micros


def _key_rows(rng: np.random.Generator, n: int = 200) -> pd.DataFrame:
    """One key's rows in (ts, event_id) and doc_id order. ``ts`` steps
    by 0 s (ties), 1 min, 20 min or 2 h, so sessions close and hours
    pass the rate quota; values are quarter-units, so every float sum
    is exact and the comparison can be bit-for-bit (anomaly_stream's
    docstring covers the reassociation drift of general floats), with
    rare large outliers for the anomaly flag."""
    steps = rng.choice([0, 60, 1200, 7200], size=n, p=[0.2, 0.5, 0.2, 0.1])
    value = rng.integers(0, 40, size=n) / 4
    value[rng.random(n) < 0.05] = 500.0
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(TS0 + np.cumsum(steps) * 1_000_000, unit="us"),
            "event_id": np.arange(n, dtype="int64"),
            "event_type": rng.choice(["click", "view", "purchase"], size=n),
            "value": value,
            "doc_id": np.arange(n, dtype="int64"),
            "n_toks": rng.integers(1, 10, size=n),
        }
    )


def _fold(step, order, rows, cuts, rng):
    """``step`` folded over ``rows`` cut before each index in ``cuts``."""
    stored, outs = None, []
    for lo, hi in zip([0, *cuts], [*cuts, len(rows)]):
        batch = rows.iloc[lo:hi].sample(frac=1, random_state=rng)
        half = len(batch) // 2
        chunks = [c for c in (batch.iloc[:half], batch.iloc[half:]) if len(c)]
        stored, out = step(7, _sorted_rows(chunks, order), stored)
        if out is not None and len(out):
            outs.append(out)
    return stored, pd.concat(outs, ignore_index=True) if outs else None


@pytest.mark.parametrize(
    "step,order",
    [
        (session_step, ["ts"]),
        (locf_step, ["ts", "event_id"]),
        (trigram_step, ["ts", "event_id"]),
        (anomaly_step, ["ts", "event_id"]),
        (rate_limit_step, ["ts", "event_id"]),
        (partial(pack_step, budget=16), ["doc_id"]),
    ],
    ids=["session", "locf", "trigram", "anomaly", "rate_limit", "pack"],
)
def test_step_split_invariance(step, order):
    for seed in (0, 1):
        rng = np.random.default_rng(seed)
        rows = _key_rows(rng)
        n = len(rows)
        state, out = _fold(step, order, rows, [], rng)
        assert out is not None and len(out) > 0
        splits = [list(range(1, n))]  # one-row batches
        splits += [sorted(rng.choice(np.arange(1, n), k, replace=False)) for k in (1, 3, 17)]
        for cuts in splits:
            got_state, got = _fold(step, order, rows, cuts, rng)
            assert got_state == state, cuts
            pd.testing.assert_frame_equal(got, out)


# --- sessionizers: stream == batch --------------------------------------------


def _batch_sessions(ev):
    """Batch lag/gap sessionization of ``ev``: one row per (user, sid)."""
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("new_s", F.when(gap > 1800 * 1_000_000, 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _canon_sessions(df):
    return sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in df.collect()
    )


def test_stateful_sessionization(spark, events_dir):
    """Streaming closed sessions == batch sessionization's closed
    sessions (every session except each user's last one)."""
    stream = file_stream(spark, events_dir, EVENTS_SCHEMA, max_files_per_trigger=999)
    sessions = sessionize_stream(stream)
    got = run_to_completion(sessions, "sessions_t", output_mode="append")

    # batch reference minus each user's last session
    sess = _batch_sessions(spark.read.parquet(events_dir))
    last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("max_sid"))
    closed_batch = sess.join(last_sid, on="user_id").filter(
        F.col("sid") < F.col("max_sid")
    )
    assert _canon_sessions(got) == _canon_sessions(closed_batch)
    assert got.count() > 0


def test_stateful_sessionization_event_time_flush(spark, events_dir, tmp_path):
    """With event-time timeouts EVERY session flushes once the
    watermark passes it — streaming output equals FULL batch
    sessionization (not just sessions with a closing successor)."""
    # sentinel far in the future advances the watermark past all real
    # sessions on the final trigger
    src = str(tmp_path / "sess_src")
    base = spark.read.parquet(events_dir)
    max_ts = base.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-999, max_ts, -1, "click", 0.0, "{}")], EVENTS_SCHEMA
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 hours"))
    base.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(src)

    stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=999)
    sessions = sessionize_stream_event_time(stream, watermark="1 second")
    got = run_to_completion(
        sessions.filter(F.col("user_id") != -1), "sessions_et_t", output_mode="append"
    )

    all_batch = _batch_sessions(spark.read.parquet(events_dir))
    assert _canon_sessions(got) == _canon_sessions(all_batch)
    assert got.count() == all_batch.count() > 0


# --- state recovered across a restart (T3 for custom state) ------------------


def _run_across_restart(spark, sf_dir, tmp_path, build):
    """Run ``build(stream)`` over the events before the midpoint of
    their time range into a parquet sink, stop, land the rest and
    restart from the same checkpoint. Returns (events, midpoint, rows
    written by the first run, all rows written)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    ev.filter(F.col("ts") < mid).coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        (
            build(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    n_first = spark.read.parquet(out).count()
    # second slice lands; RESTART from the same checkpoint
    ev.filter(F.col("ts") >= mid).coalesce(1).write.mode("append").parquet(src)
    run_once()
    return ev, mid, n_first, spark.read.parquet(out)


def test_locf_state_recovered_across_restart(spark, sf_dir, tmp_path):
    """T3 for CUSTOM state (applyInPandasWithState): stop the LOCF
    stream after the first time slice, restart from the checkpoint
    over a newly-landed second slice, and every slice-2 row must carry
    the slice-1 fill value until its user's next click — i.e. the
    two-scalar state was restored, not rebuilt. Oracle: batch window
    LOCF over the full table."""
    ev, mid, n_first, out = _run_across_restart(spark, sf_dir, tmp_path, locf_stream)
    assert n_first == ev.filter(F.col("ts") < mid).count()
    got = {r["event_id"]: r["filled_click_value"] for r in out.collect()}
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {
        r["event_id"]: r["want"]
        for r in ev.select(
            "event_id",
            F.last(
                F.when(F.col("event_type") == "click", F.col("value")),
                ignorenulls=True,
            ).over(w).alias("want"),
        ).collect()
    }
    assert got.keys() == want.keys()
    mismatch = [k for k in got if (got[k] is None) != (want[k] is None)
                or (got[k] is not None and abs(got[k] - want[k]) > 1e-9)]
    assert not mismatch, f"{len(mismatch)} rows lost their carried state, e.g. {mismatch[:5]}"


def test_trigram_state_recovered_across_restart(spark, sf_dir, tmp_path):
    """T3 for the trigram miner's custom state: stop after the first
    time slice, restart from the checkpoint over a newly-landed second
    slice — the boundary trigrams (spanning the restart) must appear
    exactly once, i.e. the two-event-type carry was restored, not
    rebuilt and not replayed. Oracle: batch lead()-window trigrams
    over the full table."""
    ev, _, _, out = _run_across_restart(spark, sf_dir, tmp_path, trigram_stream)
    got = sorted((r["user_id"], r["e1"], r["e2"], r["e3"]) for r in out.collect())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = sorted(
        (r["user_id"], r["e1"], r["e2"], r["e3"])
        for r in ev.select(
            "user_id",
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .collect()
    )
    assert got == want, (
        f"trigram multiset diverged after restart: {len(got)} vs {len(want)}"
    )


def test_anomaly_state_recovered_across_restart(spark, sf_dir, tmp_path):
    """T3 for the anomaly detector's custom state: stop after the
    first time slice, restart from the checkpoint over a second slice
    — slice-2 flags must be computed against the FULL running (n, sum,
    sumsq), i.e. the three-scalar state was restored, not rebuilt.
    Oracle: batch running-window statistics over the full table."""
    ev, _, _, out = _run_across_restart(spark, sf_dir, tmp_path, anomaly_stream)
    got = sorted(r["event_id"] for r in out.collect())
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    stats = ev.select(
        "event_id",
        "value",
        F.count("value").over(w).alias("n_prev"),
        F.sum("value").over(w).alias("s_prev"),
        F.sum(F.col("value") * F.col("value")).over(w).alias("ss_prev"),
    )
    want = sorted(
        r["event_id"]
        for r in stats.filter(
            (F.col("n_prev") >= ANOMALY_MIN_N)
            & (
                F.abs(F.col("value") - F.col("s_prev") / F.col("n_prev"))
                > ANOMALY_NSIGMA
                * F.sqrt(
                    F.greatest(
                        (
                            F.col("ss_prev")
                            - F.col("s_prev") * F.col("s_prev") / F.col("n_prev")
                        )
                        / (F.col("n_prev") - 1),
                        F.lit(0.0),
                    )
                )
            )
        ).collect()
    )
    assert got == want, (
        f"anomaly set diverged after restart: {len(got)} vs {len(want)}"
    )


# --- trigger grouping through Spark (s22) ------------------------------------
# The same landed time-ordered slices at 1 file per trigger and all in
# one trigger must admit the same rows: the harness sorts each key's
# rows and carries its state across triggers.


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


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
    stream = file_stream(spark, f"{src}/*", schema, max_files_per_trigger=mft)
    stream = stream.withColumn("ts", F.timestamp_micros("ts_micros"))
    admitted = rate_limit_stream(stream)
    return run_to_completion(
        admitted, f"r12_s22_{mft}_{uuid.uuid4().hex[:6]}", output_mode="append"
    ).select("event_id", "event_type", "hour_bucket", "slot")


def test_s22_rate_limit_trigger_invariance(spark, tmp_path):
    src, schema = _landed_event_slices(spark, tmp_path)
    one = _collect_sorted(_run_rate_limit(spark, src, schema, 1))
    allinone = _collect_sorted(_run_rate_limit(spark, src, schema, 4))
    assert one == allinone
    assert len(one) > 0

