"""Unit tests for the round-2 operators: incremental dedup and the
streaming interval join's bounded-state contract (the properties the
oracle-parity rows can't express)."""

from __future__ import annotations

import tempfile
import uuid
from datetime import datetime

from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.dedup import incremental_dedup


def _ts(s):
    return datetime.fromisoformat(s)


def test_incremental_dedup_uses_materialized_fingerprint(spark):
    """When the stored side already carries a fingerprint column (the
    100 TB shape), it is trusted as-is — no text recompute. A stored
    fingerprint matching incoming content drops it even though the
    stored text column would not."""
    from las_vpe_platform_spark.operators.dedup import content_fingerprint

    fp_alpha = spark.createDataFrame([("alpha beta",)], "text string").select(
        content_fingerprint("text").alias("fingerprint")
    ).head()[0]
    stored = spark.createDataFrame(
        [("UNRELATED TEXT", fp_alpha)], "text string, fingerprint string"
    )
    incoming = spark.createDataFrame(
        [(1, "alpha beta"), (2, "fresh")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]
        for r in incremental_dedup(incoming, stored, text_col="text", id_col="doc_id").collect()
    }
    assert out == {2}


def test_incremental_dedup_drops_stored_and_batch_dups(spark):
    stored = spark.createDataFrame(
        [(10, "alpha beta"), (11, "gamma")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (1, "  Alpha   Beta "),   # normalizes to stored content -> dropped
            (2, "delta"),             # fresh
            (3, "delta"),             # within-batch dup of 2 -> folded
            (4, "epsilon"),           # fresh
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_in_batch"]
        for r in incremental_dedup(incoming, stored, text_col="text", id_col="doc_id").collect()
    }
    assert out == {2: 2, 4: 1}


def test_interval_join_bounded_state_evicts_old_rows(spark):
    """The SCALE claim for s04: with a TIGHT watermark, join state is
    EVICTED once the watermark proves no in-time partner can still
    arrive — so a sufficiently late row finds nothing to join. (Spark
    evicts at end-of-batch, so the late row must arrive a batch AFTER
    the watermark advanced; a late row in the very next batch may
    still match lingering state — that's the documented best-effort
    window, not a bug. s04 itself uses a spanning watermark, where the
    result is exactly the batch range join.)"""
    from las_vpe_platform_spark.streaming.engine import (
        run_to_completion,
        watermarked_interval_join,
    )

    schema = "user string, ts timestamp, id long"
    src = tempfile.mkdtemp(prefix="ivj_")
    # batch 1: a left row at 10:00 and a row far ahead (11:00) that
    # advances the watermark past 10:xx for the NEXT batch
    spark.createDataFrame(
        [("u1", _ts("2024-01-01 10:00:00"), 1), ("u1", _ts("2024-01-01 11:00:00"), 2)],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    # batch 2: runs with watermark ~10:59 -> end-of-batch cleanup
    # evicts the left 10:00 row from state
    spark.createDataFrame(
        [("u1", _ts("2024-01-01 11:00:30"), 4)], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")
    # batch 3: a right-interval row at 09:59 whose [09:59, 10:01]
    # window contains the (now evicted) left 10:00 — must NOT match it
    spark.createDataFrame(
        [("u1", _ts("2024-01-01 09:59:00"), 5)], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b3")

    left = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
        .select("user", "ts", F.col("id").alias("left_id"))
    )
    right = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
        .select(
            "user",
            F.col("ts").alias("r_start"),
            (F.col("ts") + F.expr("INTERVAL 2 MINUTES")).alias("r_end"),
            F.col("id").alias("right_id"),
        )
    )
    joined = watermarked_interval_join(
        left, right, on=["user"], left_ts="ts",
        right_start="r_start", right_end="r_end", watermark="1 minute",
    ).select("left_id", "right_id")
    out = run_to_completion(joined, f"ivj_{uuid.uuid4().hex[:8]}", output_mode="append")
    pairs = {(r["left_id"], r["right_id"]) for r in out.collect()}
    # in-time matches present (each row self-joins: its own interval
    # contains its own ts), the evicted pairing absent
    assert (1, 1) in pairs
    assert (1, 5) not in pairs


def test_maintain_aggregate_matches_recompute(spark):
    """Folding the changelog into the stored aggregate must equal a
    full recompute of (base - deletes + inserts) — including a group
    that vanishes entirely (count reaches exact zero and drops out)
    and a group born purely from inserts."""
    from las_vpe_platform_spark.operators.maintenance import maintain_aggregate

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0), ("c", 7.0)],
        "k string, v double",
    )
    stored = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    changes = spark.createDataFrame(
        [
            ("a", "I", 10.0),          # grows a
            ("b", "D", 5.0),           # b vanishes (exact zero)
            ("d", "I", 3.0),           # d born from inserts
            ("c", "D", 7.0), ("c", "I", 4.0),  # c fully replaced
        ],
        "k string, op string, v double",
    )
    got = {
        r["k"]: (r["n"], r["total"])
        for r in maintain_aggregate(
            stored, changes, ["k"], count_col="n", sum_cols={"total": "v"}
        ).collect()
    }
    assert got == {
        "a": (3, 13.0),
        "c": (1, 4.0),
        "d": (1, 3.0),
    }


def test_left_outer_stream_join_null_emission_and_no_retro_match(spark):
    """The s17 semantics, driven batch-by-batch: once the joint
    watermark passes a left row's window expiry, the unmatched row
    emits with nulls AND its state is gone — a late in-window right
    row arriving afterwards must NOT retro-match it. A left row whose
    window is still open when input ends is withheld (no emission)."""
    from las_vpe_platform_spark.streaming.engine import run_to_completion

    schema = "user string, ts timestamp, id long, side string"
    src = tempfile.mkdtemp(prefix="loj_")
    # batch 1: left row at 10:00 (window [10:00, 10:30]) + rows at
    # 12:00 on BOTH sides so each side's watermark advances past 10:30
    spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01 10:00:00"), 1, "L"),
            ("u1", _ts("2024-01-01 12:00:00"), 2, "L"),
            ("u1", _ts("2024-01-01 12:00:00"), 3, "R"),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    # batch 2: innocuous filler (outside every open window) — state
    # cleanup runs at the end of the batch AFTER the watermark
    # advanced (the same one-batch grace the interval-join eviction
    # test documents), so THIS batch is where left #1 expires and its
    # null row emits
    spark.createDataFrame(
        [("u1", _ts("2024-01-01 12:40:00"), 5, "R")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")
    # batch 3: a right row at 10:10 — inside left #1's window, but its
    # state is gone; must NOT retro-match
    spark.createDataFrame(
        [("u1", _ts("2024-01-01 10:10:00"), 4, "R")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b3")

    def side(tag, cols):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(f"{src}/*")
            .filter(F.col("side") == tag)
            .selectExpr(*cols)
        )

    left = side("L", ["user", "id AS left_id", "ts AS l_ts"]).withWatermark(
        "l_ts", "0 seconds"
    )
    right = side(
        "R", ["user AS r_user", "id AS right_id", "ts AS r_ts"]
    ).withWatermark("r_ts", "0 seconds")
    joined = left.join(
        right,
        (F.col("user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select("left_id", "right_id")
    out = run_to_completion(
        joined, f"loj_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    pairs = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert (1, None) in pairs, pairs          # expired unmatched -> nulls
    assert (1, 4) not in pairs, pairs         # late partner can't retro-match
    # left #2's window [12:00, 12:30] is still open at end of input:
    # withheld, not emitted with nulls
    assert (2, None) not in pairs, pairs


def test_scd2_history_null_runs_and_tied_timestamps(spark):
    """Two review-r5 fixes pinned: (a) a run of NULL attributes is ONE
    island (null-safe change comparison), (b) adjacent runs sharing
    valid_from_us (tied timestamps straddling a change) order their
    closing edges by island, deterministically."""
    from las_vpe_platform_spark.operators.maintenance import scd2_history

    rows = [
        # user 1: A, NULL, NULL, B  -> 3 runs; NULLs are one island
        (1, 1, 100, "A"), (1, 2, 200, None), (1, 3, 300, None), (1, 4, 400, "B"),
        # user 2: tied timestamps across a change boundary
        (2, 1, 500, "X"), (2, 2, 500, "Y"), (2, 3, 600, "Y"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, us long, attr string"
    )
    out = {
        (r["user_id"], r["attr"]): (
            r["valid_from_us"], r["valid_to_us"], r["n_events"], r["is_current"]
        )
        for r in scd2_history(
            df, key_col="user_id", attr_col="attr",
            time_col="us", tiebreak_col="event_id",
        ).collect()
    }
    assert out[(1, "A")] == (100, 200, 1, 0)
    assert out[(1, None)] == (200, 400, 2, 0)   # ONE null run, closed by B
    assert out[(1, "B")] == (400, None, 1, 1)
    # tied starts: X's island precedes Y's, so X closes at 500 and the
    # Y run (2 events, started at the tied 500) stays current
    assert out[(2, "X")] == (500, 500, 1, 0)
    assert out[(2, "Y")] == (500, None, 2, 1)


def test_full_outer_stream_join_both_sides_null_emission(spark):
    """The s20 semantics batch-by-batch: BOTH sides' unmatched rows
    emit with nulls once the joint watermark proves them complete —
    the left at window expiry (s17's rule), the right at its own
    event time — and neither retro-matches after eviction. Tail rows
    whose completeness is unproven when input ends are withheld."""
    from las_vpe_platform_spark.streaming.engine import run_to_completion

    schema = "user string, ts timestamp, id long, side string"
    src = tempfile.mkdtemp(prefix="foj_")
    # batch 1: unmatched left at 10:00 (window [10:00, 10:30]) and an
    # unmatched right at 10:05 (window [09:35, 10:05]); 12:00 rows on
    # both sides push each watermark past both completeness points
    spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01 10:00:00"), 1, "L"),
            ("u2", _ts("2024-01-01 10:05:00"), 3, "R"),
            ("u9", _ts("2024-01-01 12:00:00"), 2, "L"),
            ("u9", _ts("2024-01-01 12:00:00"), 9, "R"),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    # batch 2: filler advancing nothing into open windows — the
    # one-batch eviction grace runs here, emitting both null rows
    spark.createDataFrame(
        [("u8", _ts("2024-01-01 12:40:00"), 5, "R")], schema
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")
    # batch 3: late partners inside both evicted windows — must NOT
    # retro-match either side
    spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01 10:10:00"), 4, "R"),
            ("u2", _ts("2024-01-01 10:01:00"), 6, "L"),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b3")

    def side(tag, cols):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(f"{src}/*")
            .filter(F.col("side") == tag)
            .selectExpr(*cols)
        )

    left = side("L", ["user", "id AS left_id", "ts AS l_ts"]).withWatermark(
        "l_ts", "0 seconds"
    )
    right = side(
        "R", ["user AS r_user", "id AS right_id", "ts AS r_ts"]
    ).withWatermark("r_ts", "0 seconds")
    joined = left.join(
        right,
        (F.col("user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    ).select("left_id", "right_id")
    out = run_to_completion(
        joined, f"foj_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    pairs = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert (1, None) in pairs, pairs        # expired unmatched left
    assert (None, 3) in pairs, pairs        # complete unmatched right
    assert (2, 9) in pairs, pairs           # matched pair emits
    assert (1, 4) not in pairs, pairs       # no left retro-match
    assert (6, 3) not in pairs, pairs       # no right retro-match
