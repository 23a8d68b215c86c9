"""Table maintenance: compaction + completeness (SURVEY K4).

The reference packs each completed task's per-tracklet HDFS directory
trees into ``.har`` archives on a dedicated Kafka-consumer thread
(TrackletPackingThread, DataManagingApp.java:235-394) because millions
of small files kill HDFS. Parquet tables don't have per-row file
trees, so the equivalent is (a) the same completeness trigger as a
DataFrame predicate and (b) a small-file compaction rewrite — the
OPTIMIZE analog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.aggregates import completeness_check


def packable_tasks(tracklets: DataFrame) -> DataFrame:
    """Tasks whose tracklet count reached num_tracklets (the HAR-packing
    trigger, DataManagingApp.java:320-325) — pure A2, no file listing."""
    return completeness_check(tracklets, group_col="task_id", expected_col="num_tracklets")


def _exchange_dirs(a: str, b: str) -> bool:
    """Atomically swap two directories via renameat2(RENAME_EXCHANGE)
    (Linux >= 3.15). Returns False when the syscall isn't available so
    the caller can fall back to the two-rename path."""
    import ctypes
    import ctypes.util

    libc_name = ctypes.util.find_library("c")
    if libc_name is None:
        return False
    libc = ctypes.CDLL(libc_name, use_errno=True)
    if not hasattr(libc, "renameat2"):
        return False
    AT_FDCWD = -100
    RENAME_EXCHANGE = 1 << 1
    ret = libc.renameat2(
        AT_FDCWD, a.encode(), AT_FDCWD, b.encode(), RENAME_EXCHANGE
    )
    if ret != 0:
        err = ctypes.get_errno()
        # EINVAL/ENOSYS: filesystem or kernel lacks exchange support
        if err in (22, 38, 95):  # EINVAL, ENOSYS, EOPNOTSUPP
            return False
        raise OSError(err, os.strerror(err), a)
    return True


def recover_compaction(table_dir: str) -> str:
    """Repair a table after a crash mid-:func:`compact_parquet_table`.

    States and actions (idempotent; safe to call on a healthy table):
    - table present, stale ``._compacting``/``._old`` beside it -> the
      swap either never started or fully completed; drop the leftovers.
    - table missing but ``._old`` present -> crash inside the fallback
      two-rename window; the old data is intact, rename it back.
    Returns one of ``"ok"``, ``"cleaned"``, ``"restored"``.
    """
    import shutil

    base = table_dir.rstrip("/")
    tmp_dir, old_dir = base + "._compacting", base + "._old"
    if os.path.isdir(base):
        cleaned = False
        for leftover in (tmp_dir, old_dir):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)
                cleaned = True
        return "cleaned" if cleaned else "ok"
    if os.path.isdir(old_dir):
        os.rename(old_dir, base)
        if os.path.isdir(tmp_dir):
            shutil.rmtree(tmp_dir)
        return "restored"
    raise FileNotFoundError(f"no table or recovery state at {table_dir}")


def compact_parquet_table(
    spark: SparkSession,
    table_dir: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet table into ~target-sized files; returns the new
    file count.

    Sizing by current on-disk bytes (not row counts) so the result is
    stable across schema width. Writes to a sibling temp dir, then swaps
    it into place — atomically via renameat2(RENAME_EXCHANGE) where the
    kernel/filesystem supports it; elsewhere via two renames, which has
    a crash window where the table lives under ``._old`` only —
    :func:`recover_compaction` repairs every reachable state.

    Scope: posix filesystems (local disk, NFS, Lustre). On object
    stores or HDFS, directory rename is not atomic (or not constant
    time) — there, compaction belongs to a manifest-based table format
    (Delta/Iceberg OPTIMIZE), not directory swaps.
    """
    import shutil

    size_bytes = 0
    for root, _dirs, files in os.walk(table_dir):
        size_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    n_files = max(1, size_bytes // (target_file_mb * 1024 * 1024))

    df = spark.read.parquet(table_dir)
    base = table_dir.rstrip("/")
    tmp_dir = base + "._compacting"
    writer = df.repartition(int(n_files)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp_dir)

    if _exchange_dirs(base, tmp_dir):
        shutil.rmtree(tmp_dir)  # now holds the pre-compaction files
    else:
        old_dir = base + "._old"
        os.rename(base, old_dir)
        os.rename(tmp_dir, base)  # crash before this: recover_compaction restores
        shutil.rmtree(old_dir)
    return sum(
        1
        for root, _d, files in os.walk(table_dir)
        for f in files
        if f.endswith(".parquet")
    )


def compact_upsert_table(
    spark: SparkSession,
    target_dir: str,
    key_cols: list[str],
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> int:
    """Fold a ``foreach_batch_upsert`` target's ``epoch=N`` subdirs
    into ONE latest-wins snapshot; returns the number of epoch dirs
    folded (0 = nothing to do).

    A long-running stream accumulates one epoch directory per
    micro-batch — at reference scale that recreates the small-files
    problem its HAR packing thread existed for
    (DataManagingApp.java:235-394). The snapshot is exactly
    :func:`~las_vpe_platform_spark.streaming.engine.read_upsert_table`'s
    output, written back as ``epoch=<max existing epoch>`` so the
    table keeps the layout the read path expects, reads are identical
    before and after, and any LATER stream epoch still wins its keys.
    Swap + crash recovery reuse the :func:`compact_parquet_table`
    mechanics (``._compacting``/``._old`` + :func:`recover_compaction`).

    Run it from the maintenance cadence that watches
    :func:`table_stats` — e.g. whenever epoch-dir count exceeds ~100 —
    while the stream is PAUSED or between its micro-batches (the swap
    is atomic for readers on posix, but a concurrent writer could add
    an epoch while the snapshot is being computed and lose it).
    """
    import shutil

    from las_vpe_platform_spark.streaming.engine import read_upsert_table

    base = target_dir.rstrip("/")
    epochs = [
        int(d.split("=", 1)[1])
        for d in os.listdir(base)
        if d.startswith("epoch=") and os.path.isdir(os.path.join(base, d))
    ]
    if len(epochs) <= 1:
        return 0
    snapshot = read_upsert_table(spark, base, key_cols)

    # Size the snapshot's file count from the SURVIVING rows, not the
    # on-disk bytes of all epochs (review finding: a hot-key stream
    # where most epochs rewrite the same keys would otherwise produce
    # ~n_epochs of near-empty files — the exact problem this function
    # exists to fix). Surviving-fraction × on-disk bytes approximates
    # post-dedup bytes without a second full write.
    size_bytes = 0
    for root, _dirs, files in os.walk(base):
        size_bytes += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
        )
    total_rows = (
        spark.read.parquet(base).count() if size_bytes else 0
    )
    kept_rows = snapshot.count()
    surviving = kept_rows / total_rows if total_rows else 1.0
    n_files = max(1, int(size_bytes * surviving) // (target_file_mb * 1024 * 1024))

    tmp_dir = base + "._compacting"
    writer = snapshot.repartition(int(n_files)).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{tmp_dir}/epoch={max(epochs)}")

    if _exchange_dirs(base, tmp_dir):
        shutil.rmtree(tmp_dir)
    else:
        old_dir = base + "._old"
        os.rename(base, old_dir)
        os.rename(tmp_dir, base)
        shutil.rmtree(old_dir)
    return len(epochs)


def table_stats(spark: SparkSession, table_dir: str) -> DataFrame:
    """File-level stats for deciding when to compact: one row of
    (n_files, total_bytes, avg_bytes) over the parquet files under
    ``table_dir``; total/avg are NULL when there are none."""
    sizes = [
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(table_dir)
        for f in files
        if f.endswith(".parquet")
    ]
    from las_vpe_platform_spark.sources.tables import inline_rows

    row = (len(sizes), sum(sizes), sum(sizes) / len(sizes)) if sizes else (0, None, None)
    # zero-task LocalRelation, not a per-core Python RDD (r13, guide §4)
    return inline_rows(spark, [row], "n_files long, total_bytes long, avg_bytes double")


def zorder_layout(
    df: DataFrame,
    quantized_cols: list,
    bits: int = 8,
    num_files: int | None = None,
) -> DataFrame:
    """Cluster ``df`` for multi-column scan locality by range-
    partitioning + sorting on a Z-order (Morton) key — the
    ``OPTIMIZE ZORDER BY`` analog for plain parquet tables.

    ``quantized_cols`` are non-negative integer Column expressions
    already bucketed into ``[0, 2^bits)`` — e.g. ``(days - min_day) //
    step`` or ``price // step`` capped at ``2^bits - 1``. Values
    outside that range alias modulo ``2^bits`` and silently void the
    clustering (see :func:`~las_vpe_platform_spark.functions.layout.
    zorder_key`'s precondition note).
    The layout pass is ONE range exchange (sampled split points, skew-
    proof by construction) plus an in-partition sort; downstream
    readers get tight per-file min/max bounds on EVERY participating
    dimension, so single-column zone-map pruning stays selective at
    100 TB. Pair with :func:`compact_parquet_table`'s atomic-swap
    write to re-layout in place.
    """
    from las_vpe_platform_spark.functions.layout import zorder_key

    key = zorder_key(list(quantized_cols), bits=bits)
    tagged = df.withColumn("__zkey", key)
    if num_files:
        tagged = tagged.repartitionByRange(int(num_files), "__zkey")
    else:
        tagged = tagged.repartitionByRange("__zkey")
    return tagged.sortWithinPartitions("__zkey").drop("__zkey")


def maintain_aggregate(
    stored: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    count_col: str = "n",
    sum_cols: dict[str, str] | None = None,
    op_col: str = "op",
    on_negative: str = "error",
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a CDC
    changelog (+rows / -rows) into a stored per-group aggregate WITHOUT
    rescanning the base table — the delta-processing half of the
    warehouse-maintenance story next to :func:`compact_parquet_table`
    (storage) and q102's row-level MERGE (the reference re-derives
    state by replaying Kafka, DataManagingApp.java:422-473; this is
    the aggregate-level equivalent with arithmetic instead of replay).

    ``stored`` carries ``group_cols`` + ``count_col`` + the
    ``sum_cols`` outputs; ``changes`` carries ``group_cols`` +
    ``op_col`` ('I' inserts / 'D' deletes) + each sum's source column.
    Counts and sums are signed-folded per group, merged with the
    stored row via ONE full-outer join on the group key, and groups
    whose maintained count reaches zero drop out. Scale shape: the
    only inputs touched are the changelog and the aggregate table —
    at 100 TB of base facts the maintenance job is sized by the DELTA
    (and per-group rows after map-side partials), never the base.
    Deletes must carry the same values the original inserts did (the
    CDC contract); float sums regain exactness only under that
    contract, which is why count reaches exact zero.

    A maintained count going NEGATIVE is a CDC-contract violation (a
    delete with no matching insert or stored row) — the sums for that
    group are already corrupted. ``on_negative`` decides (ADVICE r5):
    ``"error"`` (default) raises at execution via ``raise_error`` so
    the violation is never silently discarded; ``"drop"`` keeps the
    historical behavior (negative groups vanish like zero groups) for
    callers that pre-validate their changelog.
    """
    if on_negative not in ("error", "drop"):
        raise ValueError(f"on_negative must be 'error' or 'drop', got {on_negative!r}")
    sum_cols = sum_cols or {}
    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(*group_cols).agg(
        F.sum(sign).alias("_dn"),
        *[
            F.sum(sign.cast("double") * F.col(src)).alias(f"_d_{out}")
            for out, src in sum_cols.items()
        ],
    )
    merged = stored.join(delta, on=group_cols, how="full_outer")
    n_new = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("_dn"), F.lit(0)
    )
    if on_negative == "error":
        # JVM-side guard, evaluated lazily with the plan: a negative
        # maintained count fails the job loudly instead of being
        # filtered away as if the group had legitimately vanished
        n_new = F.when(
            n_new < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "maintain_aggregate: CDC contract violation — "
                        f"maintained {count_col} went negative for group ("
                    ),
                    F.concat_ws(
                        ", ", *[F.col(c).cast("string") for c in group_cols]
                    ),
                    F.lit(")"),
                )
            ).cast("long"),
        ).otherwise(n_new)
    out = merged.select(
        *group_cols,
        n_new.alias(count_col),
        *[
            (
                F.coalesce(F.col(out), F.lit(0.0))
                + F.coalesce(F.col(f"_d_{out}"), F.lit(0.0))
            ).alias(out)
            for out in sum_cols
        ],
    )
    return out.filter(F.col(count_col) > 0)


def scd2_history(
    changelog: DataFrame,
    key_col: str,
    attr_col: str,
    time_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type-2 history from a changelog: one
    row per run of equal ``attr_col`` values per key, with
    ``[valid_from, valid_to)`` epoch-micros intervals, the run's event
    count, and an ``is_current`` flag (open interval).

    Classic gaps-and-islands — a change flag from lag(), a running-sum
    island id (both over the SAME (time, tiebreak) total order, so
    tied timestamps resolve identically everywhere), one grouped
    aggregate, and lead() for the closing edge.  The two key-ordered
    windows fuse into ONE exchange + sort; the lead() window runs on
    the runs-sized result.  ``time_col`` must already be epoch micros
    (BIGINT) — interval arithmetic stays exact and timezone-free.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy(time_col, tiebreak_col)
    # change flag: first row of the key always flags (lag of the
    # never-null time column is NULL there); attribute comparison is
    # NULL-SAFE so a run of NULL attrs is ONE island, not one island
    # per row (review r5: `lag != attr` is NULL against a NULL attr,
    # which silently fragmented NULL runs)
    flagged = changelog.withColumn(
        "_chg",
        F.when(F.lag(time_col).over(w).isNull(), F.lit(1))
        .when(
            ~F.col(attr_col).eqNullSafe(F.lag(attr_col).over(w)), F.lit(1)
        )
        .otherwise(F.lit(0)),
    ).withColumn(
        "_island",
        F.sum("_chg").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    runs = flagged.groupBy(key_col, "_island", attr_col).agg(
        F.min(time_col).alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # successor order must include the island id: two adjacent runs
    # share valid_from_us when tied timestamps straddle the change
    # boundary, and valid_from_us alone would order them arbitrarily
    # (review r5) — _island increases in event order by construction
    w2 = W.partitionBy(key_col).orderBy("valid_from_us", "_island")
    return runs.withColumn(
        "valid_to_us", F.lead("valid_from_us").over(w2)
    ).select(
        key_col,
        attr_col,
        "valid_from_us",
        "valid_to_us",
        "n_events",
        F.col("valid_to_us").isNull().cast("int").alias("is_current"),
    )


def scd2_merge(stored: DataFrame, new_runs: DataFrame, key_col: str) -> DataFrame:
    """Fold a BATCH-LOCAL :func:`scd2_history` result into a STORED
    SCD2 table — the incremental MERGE step of streaming dimension
    maintenance (s26): work ∝ batch runs + touched keys, never the
    history.

    Contract: every event in the batch is >= the stored table's max
    event time per key (the time-ordered landing contract — strict
    ts-range micro-batches guarantee it, tied timestamps never
    straddle batches). Then per key:
    - a stored OPEN run whose attr equals the batch's FIRST run's attr
      EXTENDS (valid_from kept, counts accumulate, the batch run's
      closing edge and is_current carry over);
    - one that differs CLOSES at the batch first run's valid_from and
      the batch runs append as-is;
    - keys absent from the batch pass through untouched; keys with no
      stored row append whole.

    Folding batches sequentially therefore reproduces
    ``scd2_history(all events)`` exactly — the property
    test_scd2_merge_equals_batch_history checks on arbitrary splits.
    """
    attr_cols = [c for c in new_runs.columns if c != key_col]

    def side(prefix: str):
        return [F.col(f"{prefix}.{c}").alias(c) for c in attr_cols]

    closed = stored.filter(F.col("is_current") == 0)
    open_prev = stored.filter(F.col("is_current") == 1)
    from pyspark.sql import Window as W

    HI = 1 << 62  # ordering sentinel for the open run's NULL valid_to
    wb = W.partitionBy(key_col).orderBy(
        "valid_from_us", F.coalesce("valid_to_us", F.lit(HI))
    )
    nb = new_runs.withColumn("_rn", F.row_number().over(wb))
    first = nb.filter(F.col("_rn") == 1).drop("_rn")
    rest = nb.filter(F.col("_rn") > 1).drop("_rn")
    j = open_prev.alias("o").join(first.alias("f"), on=key_col, how="full_outer")
    plain = [c for c in attr_cols if c not in
             ("valid_from_us", "valid_to_us", "n_events", "is_current")]
    if len(plain) != 1:  # ADVICE r8: the extend/close reconstruction
        # below rebuilds exactly ONE tracked attribute — a second one
        # would be silently mis-merged, so fail at the boundary instead
        raise ValueError(
            f"scd2_merge tracks exactly one attribute column, got {plain}"
        )
    attr = plain[0]
    untouched = j.filter(F.col("f.valid_from_us").isNull()).select(key_col, *side("o"))
    fresh = j.filter(F.col("o.valid_from_us").isNull()).select(key_col, *side("f"))
    both = j.filter(
        F.col("o.valid_from_us").isNotNull() & F.col("f.valid_from_us").isNotNull()
    )
    # time-ordered landing guard (ADVICE r8): a batch whose first run
    # starts BEFORE the stored open run's valid_from violates the
    # landing contract and would silently mis-place run boundaries.
    # Fail loudly INSIDE the plan — zero extra jobs; the filter
    # consumes the guard column so pruning cannot drop the check.
    both = both.withColumn(
        "_landing_ok",
        F.when(
            F.col("f.valid_from_us") >= F.col("o.valid_from_us"), F.lit(1)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("scd2_merge: time-ordered landing contract violated for key "),
                    F.col(key_col).cast("string"),
                )
            )
        ),
    ).filter(F.col("_landing_ok") == 1).drop("_landing_ok")
    same = F.col(f"o.{attr}").eqNullSafe(F.col(f"f.{attr}"))
    extended = both.filter(same).select(
        key_col,
        F.col(f"o.{attr}").alias(attr),
        F.col("o.valid_from_us").alias("valid_from_us"),
        F.col("f.valid_to_us").alias("valid_to_us"),
        (F.col("o.n_events") + F.col("f.n_events")).alias("n_events"),
        F.col("f.is_current").alias("is_current"),
    )
    closed_now = both.filter(~same).select(
        key_col,
        F.col(f"o.{attr}").alias(attr),
        F.col("o.valid_from_us").alias("valid_from_us"),
        F.col("f.valid_from_us").alias("valid_to_us"),
        F.col("o.n_events").alias("n_events"),
        F.lit(0).cast("int").alias("is_current"),
    )
    new_head = both.filter(~same).select(key_col, *side("f"))
    out = (
        closed.unionByName(untouched)
        .unionByName(fresh)
        .unionByName(extended)
        .unionByName(closed_now)
        .unionByName(new_head)
        .unionByName(rest.select(key_col, *attr_cols))
    )
    return out
