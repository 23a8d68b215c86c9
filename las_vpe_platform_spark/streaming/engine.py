"""Structured Streaming backend (SURVEY §2.9, §7.2 step 5).

The reference runs five long-lived DStream applications wired through
Kafka topics, with hand-rolled late-data handling: each micro-batch
full-outer-joins tracklets⨝attributes, then re-joins the unmatched
remainders against 600 s sliding processing-time windows
(PedestrianReIDUsingAttrApp.java:136-243; bufDuration
SystemPropertyCenter.java:122).

Structured Streaming replaces all of that with ONE watermarked
stream-stream join: event-time watermarks bound the join state exactly
like bufDuration bounded the windows, but in event time (strictly
stronger — reordering-tolerant), with state in the checkpointed state
store instead of RDD window buffers.

Sources are pluggable: Kafka for deployment (kafka_stream — requires
the kafka connector jars), directory streams for tests (file_stream —
same DataFrame surface downstream, which is the point: the streaming
plan IS the batch plan with watermarks added).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUF_DURATION = "600 seconds"  # vpe.buf.duration parity (600 000 ms)


# Deploy contract: these option dicts ARE the connector configuration
# (tests/test_kafka_contract.py pins them; README "Kafka deployment"
# documents the jar manifest — the container has no broker/jars, so
# the contract is the testable surface).


def kafka_source_options(
    brokers: str,
    topics: list[str],
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Exact reader options for the Kafka TaskData source."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(topics),
        "startingOffsets": "latest",
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_sink_options(brokers: str, topic: str, checkpoint_dir: str) -> dict[str, str]:
    """Exact writer options for the Kafka TaskData sink."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def taskdata_projection(df: DataFrame) -> DataFrame:
    """Kafka record -> TaskData frame (S2 normalization).

    Topic == data type (DataType.java:26-46): ``topic`` survives as the
    payload_type routing column, so the demux filters (P2) work
    identically on Kafka and file sources.
    """
    return df.select(
        F.col("topic").alias("payload_type"),
        F.col("key").cast("string").alias("task_id"),
        F.col("value").alias("payload"),
        F.col("timestamp").alias("event_ts"),
    )


def kafka_payload(df: DataFrame, key_col: str = "task_id") -> DataFrame:
    """TaskData frame -> Kafka (key, value) record projection (K1).

    The reference serializes TaskData with ObjectOutputStream
    (Stream.java:47-70); here the payload is JSON (schema-first,
    cross-language).
    """
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: list[str],
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source for the unified TaskData stream (S1/S2).

    Offsets live in the checkpoint (T4); ``maxOffsetsPerTrigger`` is
    the backpressure knob (T5, replacing
    spark.streaming.kafka.maxRatePerPartition). Requires the
    spark-sql-kafka connector jars (README "Kafka deployment").
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topics, max_offsets_per_trigger).items():
        reader = reader.option(k, v)
    return taskdata_projection(reader.load())


def kafka_sink(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "task_id",
):
    """Kafka TaskData sink (K1, KafkaHelper.scala:55-144).

    Delivery retries ride on the idempotent producer + checkpointed
    offsets; topic == output data type exactly as the reference.
    Returns the started StreamingQuery. Requires the spark-sql-kafka
    connector jars on the classpath.
    """
    writer = kafka_payload(df, key_col).writeStream.format("kafka")
    for k, v in kafka_sink_options(brokers, topic, checkpoint_dir).items():
        writer = writer.option(k, v)
    return writer.start()


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Directory stream source (test/dev parity for kafka_stream).

    Also the production pattern for landing-zone ingestion: new parquet
    files appear, the stream picks them up exactly once (tracked in the
    checkpoint's file index).
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def stream_term_sig_filter(
    stream: DataFrame, kill_list: DataFrame, key: str = "task_id"
) -> DataFrame:
    """P4/T6 cancellation on a stream: stream-static LEFT ANTI join.

    The static side is re-resolved every micro-batch, so appending to
    the kill table takes effect on the next trigger — same semantics
    as the reference's per-batch pool check
    (SparkStreamingApp.java:253-256) without the driver-side state.
    """
    return stream.join(kill_list.select(key).distinct(), on=key, how="left_anti")


def watermarked_full_outer_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "event_ts",
    right_ts: str = "event_ts",
    buf_duration: str = DEFAULT_BUF_DURATION,
) -> DataFrame:
    """The J1-J7 replacement: one watermarked stream-stream full outer.

    Both inputs get a ``buf_duration`` watermark and the join condition
    includes an event-time range bound — Spark requires it to size the
    state store, and it is exactly the reference's "partner must arrive
    within bufDuration" contract. Matched rows emit immediately-ish;
    unmatched rows emit with nulls once the watermark passes (the
    reference's leftover-window flush, :176-192).
    """
    lw = left.withWatermark(left_ts, buf_duration)
    rw = right.withWatermark(right_ts, buf_duration)
    cond = None
    for c in on:
        eq = lw[c] == rw[c]
        cond = eq if cond is None else cond & eq
    range_cond = (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {buf_duration}")) & (
        rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {buf_duration}")
    )
    return lw.join(rw, cond & range_cond, "full_outer")


def watermarked_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_start: str,
    right_end: str,
    watermark: str = "60 minutes",
) -> DataFrame:
    """Stream-stream INNER join on equi keys + a point-in-interval
    bound (left row's event time inside [right_start, right_end]).

    The streaming face of ``operators.joins.range_join``: matches emit
    as soon as both partners have arrived (inner joins don't wait for
    the watermark); the watermark + the interval bound let Spark
    expire join state once no future match is possible, so state is
    O(rows per watermark horizon) per key — the 100 TB knob. Pass a
    watermark spanning the whole input to make the result exactly
    equal to the batch range join (nothing ever dropped as late) for
    oracle comparison.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_start, watermark)
    cond = None
    for c in on:
        eq = lw[c] == rw[c]
        cond = eq if cond is None else cond & eq
    interval = (lw[left_ts] >= rw[right_start]) & (lw[left_ts] <= rw[right_end])
    return lw.join(rw, cond & interval, "inner")


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    group_cols: list[str],
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (T1/T2 analog)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup on ``key_cols`` with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until
    the watermark passes its event time + ``delay``, so state is
    O(keys per delay horizon), not O(all keys ever) — the streaming
    face of q23's exact dedup (K3's skip-already-stored check as an
    operator instead of a storage lookup).

    First occurrence of each key is emitted immediately (append mode);
    duplicates arriving within the horizon are dropped. Choose
    ``delay`` >= the max duplicate lag: a duplicate arriving later
    than that re-emits (the bounded-state trade; with ``delay``
    spanning the whole input the result equals batch DISTINCT, which
    is how the s02 oracle checks this operator exactly).
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def foreach_batch_upsert(
    target_dir: str,
    key_cols: list[str],
    partition_by: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Idempotent parquet upsert sink for foreachBatch (K3/K5 parity).

    The reference's saving streams skip work when the tracklet dir or
    .har already exists (DataManagingApp.java:422-473). Without a
    table format with MERGE (Delta/Iceberg jars aren't present), the
    equivalent is dedup-within-batch + per-epoch idempotent overwrite:
    every epoch writes to an epoch-suffixed subdir, so retried epochs
    overwrite their own output instead of duplicating it.

    A key arriving in two DIFFERENT epochs lands in two subdirs; the
    canonical read path is :func:`read_upsert_table`, which resolves
    each key to its latest epoch's row — together they are the global
    already-stored semantics of the reference.
    """

    def write(batch: DataFrame, epoch_id: int) -> None:
        deduped = batch.dropDuplicates(key_cols)
        writer = deduped.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{target_dir}/epoch={epoch_id}")

    return write


def read_upsert_table(
    spark: SparkSession, target_dir: str, key_cols: list[str]
) -> DataFrame:
    """Canonical latest-wins view over a :func:`foreach_batch_upsert`
    target (K3/K5: the reference's global tracklet/HAR existence check,
    DataManagingApp.java:422-473).

    Partition discovery recovers ``epoch`` from the ``epoch=<id>``
    directory layout; a key written in several epochs resolves to the
    row from the highest epoch. Cost at scale: one hash shuffle on
    ``key_cols`` for the window — the same shuffle a MERGE-on-read
    table format pays — and Catalyst still pushes non-key filters and
    column pruning below it into the scan.
    """
    from pyspark.sql import Window as W

    df = spark.read.option("basePath", target_dir).parquet(target_dir)
    w = W.partitionBy(*key_cols).orderBy(F.col("epoch").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "epoch")
    )


def run_to_completion(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming frame over all currently-available input and
    return the result as a batch DataFrame (memory sink).

    The test/driver harness for streaming queries: processAllAvailable
    gives deterministic end-of-input semantics, so streaming results
    can be hash-compared against batch oracles.
    """
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(query_name)
