#!/usr/bin/env python3
"""Streaming-state scaling experiment (SCALE.md's measured streaming rows).

The batch heavies have measured 10x rows (tools/scale_experiment.py);
this measures the STREAMING state family's claim — "state bounded by
watermark horizon + interval, not by input size" — directly from the
engine's own progress metrics (stateOperators[*].numRowsTotal /
memoryUsedBytes), at two input sizes with FIXED event-time density
(so 10x rows == 10x wall-clock span; a bounded-state operator's peak
state should stay ~flat while wall time scales ~linearly).

Shapes measured (the VERDICT r7 #4 set):
  - s17-shape: stream-stream LEFT OUTER interval join (10 min window)
  - s20-shape: same join FULL OUTER
  - s22-shape: per-key rate limiting (applyInPandasWithState, 2 ints/key)
  - s23-shape: per-source token packing (1 BIGINT/source)

Usage: python tools/stream_scale_experiment.py [small_rows] [mult]
Prints one markdown table row per (shape, size) plus a JSON line.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from las_vpe_platform_spark.queries_streaming import RAW_EVENTS_SCHEMA
from las_vpe_platform_spark.session import get_spark
from las_vpe_platform_spark.streaming.engine import file_stream

INTERVAL_MIN = 10  # join window: small vs the generated span, so state evicts
TS0 = 1_704_067_200_000_000  # 2024-01-01 UTC, micros


ROWS_PER_SLICE = 25_000  # fixed trigger size: the T5 backpressure knob
# (maxFilesPerTrigger/maxOffsetsPerTrigger) holds rows-per-trigger
# constant as input grows — peak join state = horizon + ONE trigger,
# so slices must scale with input to measure the production shape


def land_events(spark, n_rows: int, root: str, slices: int = 4) -> str:
    """Deterministic synthetic events, fixed 25 ms spacing, landed as
    time-ordered slices (the queries_streaming._land_slices contract)."""
    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            (F.lit(TS0) + F.col("id") * 25_000).alias("ts_micros"),
            F.pmod(F.hash("id"), F.lit(50_000)).cast("long").alias("user_id"),
            F.when(F.pmod(F.hash(F.col("id") + 7), 5) < 2, "click")
            .when(F.pmod(F.hash(F.col("id") + 7), 5) < 4, "view")
            .otherwise("purchase")
            .alias("event_type"),
            (F.pmod(F.hash(F.col("id") + 13), F.lit(100_000)) / 100.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    step = n_rows // slices + 1
    for i in range(slices):
        df.filter(
            (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/slice{i:02d}")
    return root


def land_docs(spark, n_rows: int, root: str, slices: int = 4) -> str:
    df = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), F.pmod(F.hash("id"), 8)).alias("source"),
        F.array_join(
            F.array_repeat(F.lit("w"), (F.pmod(F.hash(F.col("id") + 3), 50) + 1).cast("int")),
            " ",
        ).alias("text"),
    )
    step = n_rows // slices + 1
    for i in range(slices):
        df.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/slice{i:02d}")
    return root


def run_stream(out_df, name: str) -> dict:
    """Drive to completion; return wall + peak state metrics."""
    t0 = time.perf_counter()
    q = (
        out_df.writeStream.outputMode("append")
        .format("noop")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        peak_rows = 0
        peak_bytes = 0
        for p in q.recentProgress:
            ops = p.get("stateOperators") or []
            rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
            byts = sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
            peak_rows = max(peak_rows, rows)
            peak_bytes = max(peak_bytes, byts)
    finally:
        q.stop()
    return {
        "wall_s": round(time.perf_counter() - t0, 2),
        "peak_state_rows": peak_rows,
        "peak_state_bytes": peak_bytes,
    }


def event_stream(spark, src: str):
    return file_stream(spark, f"{src}/*", RAW_EVENTS_SCHEMA).withColumn(
        "ts", F.timestamp_micros("ts_micros")
    )


def join_shape(spark, src: str, how: str):
    clicks = (
        event_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "0 seconds")
    )
    purchases = (
        event_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {INTERVAL_MIN} MINUTES")),
        how,
    ).select("user_id", "click_id", "purchase_id")


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("stream_scale", cpus=8)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    results: dict[str, dict[str, dict]] = {}
    root = tempfile.mkdtemp(prefix="stream_scale_")

    for label, n in (("1x", small), (f"{mult}x", small * mult)):
        n_slices = max(2, n // ROWS_PER_SLICE)
        ev_src = land_events(spark, n, f"{root}/events_{label}", slices=n_slices)
        doc_src = land_docs(
            spark, max(n // 10, 1000), f"{root}/docs_{label}",
            slices=max(2, n // 10 // ROWS_PER_SLICE),
        )

        shapes = {}
        shapes["s17_left_outer_join"] = run_stream(
            join_shape(spark, ev_src, "leftOuter"), f"x17_{uuid.uuid4().hex[:6]}"
        )
        shapes["s20_full_outer_join"] = run_stream(
            join_shape(spark, ev_src, "fullOuter"), f"x20_{uuid.uuid4().hex[:6]}"
        )

        from las_vpe_platform_spark.streaming.stateful import (
            rate_limit_stream,
            token_pack_stream,
        )

        shapes["s22_rate_limit"] = run_stream(
            rate_limit_stream(event_stream(spark, ev_src)),
            f"x22_{uuid.uuid4().hex[:6]}",
        )

        from pyspark.sql import types as T

        doc_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )
        doc_stream = file_stream(spark, f"{doc_src}/*", doc_schema)
        shapes["s23_token_pack"] = run_stream(
            token_pack_stream(doc_stream, budget=2048), f"x23_{uuid.uuid4().hex[:6]}"
        )

        results[label] = shapes

    print("| shape | size | wall s | peak state rows | peak state bytes |")
    print("|---|---|---|---|---|")
    for label in results:
        for shape, m in results[label].items():
            print(
                f"| {shape} | {label} | {m['wall_s']} | {m['peak_state_rows']} "
                f"| {m['peak_state_bytes']} |"
            )
    print(json.dumps({"small_rows": small, "mult": mult, "results": results}))


if __name__ == "__main__":
    main()
