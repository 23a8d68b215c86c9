"""Deterministic Bloom-filter semi-join — broadcast a bit set instead
of shuffling a fact table.

The reference prunes its fact streams with exact key lookups (Neo4j
point queries, task-kill anti-joins); at 100 TB the Spark-first
version of that shape is a Bloom filter built from the (filtered)
dimension side and broadcast to the fact scan, so the expensive side
is pruned BEFORE its shuffle — the same role Spark's internal runtime
row-group filters play, here as an explicit, measurable operator.

Portability: the bit positions come from the engine-portable 60-bit
md5 hash (``functions.text.shingle_hash60``), blocks hold 63 bits so
every mask stays a positive signed BIGINT, and the block OR / probe
AND are plain integer ops in both Spark and DuckDB — the oracle
rebuilds the identical filter, so even the false positives match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from las_vpe_platform_spark.functions.text import shingle_hash60
from las_vpe_platform_spark.operators.staging import persist_disk

BITS_PER_BLOCK = 63  # shift range 0..62 keeps 1<<r positive in signed 64


def _bit(key: F.Column, j: int, m: int) -> F.Column:
    """Bit position of hash j for a key: portable md5-derived, in [0, m)."""
    return F.pmod(
        shingle_hash60(F.concat(F.lit(f"bloom{j}:"), key.cast("string"))), F.lit(m)
    )


def bloom_build(
    keys: DataFrame, key_col: str, m: int = 8192, k: int = 4
) -> DataFrame:
    """Build the filter: (block, mask) rows, one per non-empty 63-bit
    block — ceil(m/63) rows total, independent of input size.

    One map-side explode of k bits per key and ONE grouped bit_or;
    at scale the build side is the small/filtered dimension, so this
    is a cheap aggregate whose output broadcasts anywhere.
    """
    key = F.col(key_col)
    bits = keys.select(
        F.explode(F.array(*[_bit(key, j, m) for j in range(k)])).alias("bit")
    )
    return (
        bits.selectExpr(
            f"bit div {BITS_PER_BLOCK} AS block",
            f"shiftleft(1L, CAST(bit % {BITS_PER_BLOCK} AS INT)) AS _m",
        )
        .groupBy("block")
        .agg(F.expr("bit_or(_m)").alias("mask"))
    )


def bloom_probe(
    fact: DataFrame,
    key_col: str,
    blocks: DataFrame,
    m: int = 8192,
    k: int = 4,
    flag_col: str = "bloom_pass",
) -> DataFrame:
    """Add ``flag_col``: true iff all k of the key's bits are set.

    k broadcast left-joins on block id — the fact side is never
    shuffled and carries only k extra small columns through the probe;
    this is the whole point of the operator at 100 TB (compare: an
    exact semi-join shuffles the fact table on the join key).
    """
    key = F.col(key_col)
    # materialize the filter once: each broadcast join below would
    # otherwise re-execute the whole build subtree (dimension scan +
    # bit aggregate) — k times. The table is ceil(m/63) rows, so the
    # staging is pennies and the build runs exactly once.
    blocks = persist_disk(blocks)
    out = fact
    hits = []
    for j in range(k):
        b = blocks.select(
            F.col("block").alias(f"_blk{j}"), F.col("mask").alias(f"_mask{j}")
        )
        out = (
            out.withColumn(f"_bit{j}", _bit(key, j, m))
            .selectExpr(
                "*",
                f"_bit{j} div {BITS_PER_BLOCK} AS _blk{j}",
                f"shiftleft(1L, CAST(_bit{j} % {BITS_PER_BLOCK} AS INT)) AS _pm{j}",
            )
            .join(F.broadcast(b), on=f"_blk{j}", how="left")
        )
        hits.append(
            F.coalesce(
                (F.col(f"_mask{j}").bitwiseAND(F.col(f"_pm{j}")) == F.col(f"_pm{j}")),
                F.lit(False),
            )
        )
    flag = hits[0]
    for h in hits[1:]:
        flag = flag & h
    drop = [c for j in range(k) for c in (f"_bit{j}", f"_blk{j}", f"_pm{j}", f"_mask{j}")]
    return out.withColumn(flag_col, flag).drop(*drop)


def bloom_sql_bit(key_expr: str, j: int, m: int) -> str:
    """DuckDB mirror of :func:`_bit` for oracle generation."""
    return (
        f"(('0x' || substr(md5('bloom{j}:' || CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT % {m})"
    )
