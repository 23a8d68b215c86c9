"""Corpus-shaping operators for training-data preparation: global
duplicate-span removal and sequence packing into context windows.

Beyond-reference (SURVEY §2 maps no analog): these are the two
standard passes between "deduped corpus" and "token stream fed to a
trainer" — C4-style repeated-span removal (Raffel et al. 2020 §2.2
drop any three-sentence span seen before; here the unit is a k-token
span since the synthetic corpus has no sentence punctuation) and
GPT-style pack-then-chunk (concatenate documents in a fixed shuffled
order, slice into ctx-length windows).

Both are exactly deterministic — ordering comes from a 60-bit md5,
not an RNG — so a DuckDB oracle can replay them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from las_vpe_platform_spark.functions.text import shingle_hash60
from las_vpe_platform_spark.operators.staging import persist_disk


def dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
) -> DataFrame:
    """Global duplicate-span removal: partition each document's token
    stream into consecutive ``span_tokens``-token spans (short tail
    kept), and keep only the FIRST occurrence of each distinct span
    corpus-wide (first = lowest (doc id, span position) — a total
    order, so the winner is unique and engine-independent).

    Returns per-document stats: total spans, spans kept, tokens kept,
    and a portable checksum over the kept span texts (sum of 60-bit
    md5 mod 1e6+3 — order-independent, overflow-free).

    Scale shape: one narrow pass builds spans (array slice over the
    already-split token array — no shuffle), one shuffle groups by
    span text for the first-occurrence window, one shuffle re-groups
    by doc for the stats. Span cardinality ~= corpus tokens /
    span_tokens, each row a short string — the same footprint as the
    shingle stages of q24/q26. Stopword-only spans can skew the span
    partition; AQE skew-split bounds the straggler (same mitigation
    as q26's shingle join).
    """
    s = span_tokens
    # tokens materialized as a column FIRST: the span-slicing HOF below
    # references it many times, and lambdas re-evaluate inline
    # subexpressions per element (pyspark gotcha — split once, slice many)
    toks = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    ).filter(F.size(F.array_remove("_toks", "")) > 0)
    spans = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(_toks) / CAST({s} AS DOUBLE)) AS INT) - 1),"
                f" i -> array_join(slice(_toks, i * {s} + 1, {s}), ' '))"
            )
        ).alias("span_idx", "span"),
    ).withColumn(
        "span_toks", F.size(F.split(F.col("span"), r"\s+"))
    )
    first = F.row_number().over(
        W.partitionBy("span").orderBy(F.col(id_col).asc(), F.col("span_idx").asc())
    )
    ranked = spans.withColumn("_rn", first)
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum((F.col("_rn") == 1).cast("bigint")).alias("n_kept"),
        F.sum(
            F.when(F.col("_rn") == 1, F.col("span_toks").cast("bigint")).otherwise(
                F.lit(0)
            )
        ).alias("tokens_kept"),
        F.sum(
            F.when(
                F.col("_rn") == 1, shingle_hash60("span") % F.lit(1000003)
            ).otherwise(F.lit(0))
        ).alias("span_sig"),
    )


def global_ranks(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rk",
    start: int = 0,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols) - 1 + start``
    as a DISTRIBUTED two-phase scan — :func:`pack_sequences`' prefix
    machinery generalized to arbitrary orderable key types (strings
    included), for the node/dictionary rank tables the pair-graph
    operators build (q127/q136/q137; VERDICT r7 'What's wrong' #1: an
    unpartitioned row_number window funnels a 10⁹-row near-dup node
    table through ONE WindowExec task at 100 TB).

    Contract: ``order_cols`` must be a TOTAL order (duplicate-free
    rows) — then local position + partition offset telescopes to the
    unique global rank regardless of where repartitionByRange's sampled
    boundaries land, which is what makes the result oracle-checkable.

    Phases: (1) range-repartition + sort within partitions on
    ``order_cols`` (the only data shuffle); (2) 0-based per-partition
    positions via one Arrow mapInPandas pass; (3) per-partition counts
    (one tiny row each) window-summed driver-sized and broadcast back
    as offsets.

    The positioned frame is PINNED via ``persist_disk`` before the
    counts/offsets branch and the output branch fan out from it
    (ADVICE r8): without pinning, the two branches agree only because
    ReuseExchange dedupes the identical range exchange — a planner
    edge case that planned them separately would sample DIFFERENT
    range boundaries per branch and silently skip/duplicate ranks.
    Pinning also halves the work: the sort + Arrow position pass runs
    once, not once per branch.
    """
    import numpy as np

    from pyspark.sql import types as T

    # no explicit partition count (r13, guide §2.5 — scale-adaptive
    # partitioning): a pinned defaultParallelism fanned the Arrow
    # position pass into one python-worker task PER CORE even for a
    # few-thousand-row rank table (~0.25 CPU-s of worker round-trip
    # each, measured), while the count-free form lets AQE coalesce the
    # range shuffle to the data's size and a cluster size it via
    # spark.sql.shuffle.partitions. Local position + partition offset
    # telescopes to the same global rank under ANY partition count
    # (the operator's documented contract), so results are unchanged.
    parted = df.repartitionByRange(*order_cols).sortWithinPartitions(
        *order_cols
    )
    out_schema = T.StructType(
        list(parted.schema.fields)
        + [T.StructField("_local", T.LongType()), T.StructField("_pid", T.IntegerType())]
    )

    def _local_pos(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in batches:
            pdf["_local"] = np.arange(n, n + len(pdf), dtype=np.int64)
            pdf["_pid"] = pid
            n += len(pdf)
            yield pdf

    local = persist_disk(parted.mapInPandas(_local_pos, out_schema))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offs = counts.select(
        "_pid",
        F.coalesce(
            F.sum("_cnt").over(
                W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, F.col("_local") + F.col("_off") + F.lit(start))
        .drop("_local", "_pid", "_off")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    order_seed: str = "pack",
    order_col: str | None = None,
) -> DataFrame:
    """Assign every document its exclusive prefix-sum of tokens in a
    deterministic global shuffle order (md5 of the id) — the
    concatenation offset used to slice a corpus into fixed-length
    training windows.

    Returns (id, _ord, n, prefix) with ``prefix`` = total tokens of
    all documents strictly before this one in (_ord, id) order.

    Scale shape — a DISTRIBUTED two-phase scan, not a global window
    (a single `Window.orderBy(ord)` funnels 100 TB through ONE task):

      1. range-repartition by (_ord, id) and sort within partitions —
         the only corpus shuffle;
      2. per-partition running sums via one Arrow-batched mapInPandas
         pass (imperative per-partition state is exactly what
         mapInPandas is for);
      3. per-partition totals (one tiny row each) are window-summed
         on the driver-sized side and broadcast back as offsets.

    The result is independent of partition boundaries (local prefix +
    partition offset telescopes to the global prefix), so range-
    sampling nondeterminism in repartitionByRange cannot change the
    output — which is what makes the operator oracle-checkable.
    """
    # default order = a deterministic hash shuffle; pass ``order_col``
    # (a BIGINT total-order key, ties broken by id) to prefix-sum in a
    # MEANINGFUL order instead — q130's quality-ranked budget cut
    ord_expr = (
        F.col(order_col).cast("bigint")
        if order_col is not None
        else shingle_hash60(
            F.concat_ws(":", F.lit(order_seed), F.col(id_col).cast("string"))
        )
    )
    d = df.select(
        F.col(id_col),
        ord_expr.alias("_ord"),
        F.col(n_tokens_col).cast("bigint").alias("n"),
    ).filter(F.col("n") > 0)
    # count-free range repartition (r13, guide §2.5): AQE coalesces
    # the prefix pass to the data's size instead of one python-worker
    # task per core; prefix telescoping is partition-count-independent
    # (see global_ranks) so the output is bit-identical
    parted = d.repartitionByRange("_ord", id_col).sortWithinPartitions(
        "_ord", id_col
    )

    out_schema = f"{id_col} long, _ord long, n long, _local long, _pid int"

    def _local_prefix(batches):
        # nested (pickled by value) so workers need no package import;
        # state accumulates across Arrow batches of ONE partition
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        running = 0
        for pdf in batches:
            csum = pdf["n"].cumsum()
            pdf["_local"] = csum - pdf["n"] + running
            pdf["_pid"] = pid
            running += int(pdf["n"].sum())
            yield pdf

    # pinned for the same two reasons as global_ranks: branch-boundary
    # consistency must not depend on ReuseExchange, and the sort +
    # Arrow prefix pass should run once across the totals/output fan-out
    local = persist_disk(parted.mapInPandas(_local_prefix, out_schema))
    totals = local.groupBy("_pid").agg(F.sum("n").alias("_tot"))
    offs = totals.select(
        "_pid",
        F.coalesce(
            F.sum("_tot").over(
                W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return local.join(F.broadcast(offs), "_pid").select(
        F.col(id_col),
        F.col("_ord"),
        F.col("n"),
        (F.col("_local") + F.col("_off")).alias("prefix"),
    )
