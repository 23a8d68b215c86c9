"""Batch parquet sources (SURVEY §2.1 S3/S4/S6/S7 analogs).

The driver's ``events`` table is written with TIMESTAMP(NANOS), which
Spark's vectorized parquet reader rejects; with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long,
which we floor-divide to microseconds — exactly DuckDB's behavior when
it truncates nanos to its micro-precision TIMESTAMP, so oracle
comparisons stay bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# (applicationId, sf_dir, name) -> loaded DataFrame. PLAN reuse, not
# result caching (r12, guide §6 file-listing): every spark.read.parquet
# call builds a fresh file index and re-reads the footer schema —
# ~100 ms of driver work per call on this harness, paid 1-3x per
# catalog entry, ~tens of seconds per full bench. The cached object is
# a lazy scan: every action on it still reads the parquet from disk,
# so no computed result ever crosses queries. Keyed by applicationId
# (unique per SparkContext) so an external driver session never sees
# frames from a dead context; bounded so long test sessions over many
# temp dirs don't accrete entries.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    try:
        key = (spark.sparkContext.applicationId, sf_dir, name)
    except Exception:
        key = None
    if key is not None and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    df = _load_table_uncached(spark, sf_dir, name)
    if key is not None:
        if len(_TABLE_CACHE) >= 64:
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime-settable SQL conf — the driver's session may not have
        # it; required to scan TIMESTAMP(NANOS) parquet at all
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # nanos-long -> TIMESTAMP_NTZ via pure wall-clock arithmetic.
        # NTZ (not timestamp_micros -> LTZ) so downstream date_trunc /
        # string casts are session-timezone independent — DuckDB's
        # TIMESTAMP is naive, and the driver's session TZ is unknown.
        # days+secs split keeps the secs Decimal(18,6) conversion exact.
        ntz = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz") + F.make_interval(
            days=F.expr("(ts div 1000) div 86400000000").cast("int"),
            secs=F.expr("(ts div 1000) % 86400000000").cast("double") / F.lit(1e6),
        )
        df = df.withColumn("ts", ntz)
    return df


def inline_rows(spark: SparkSession, rows, ddl) -> DataFrame:
    """Small literal DataFrame as a zero-task LocalRelation scan.

    ``spark.createDataFrame(python_list, ddl)`` compiles to
    ``applySchemaToPythonRDD`` — a Python RDD parallelized over
    ``defaultParallelism`` partitions, so every evaluation of the frame
    schedules one Python-worker round-trip PER CORE (r13, guide §4:
    measured ~1.5 s wall + ~8 CPU-s of worker handshakes per execution
    for a 3-ROW table on local[32]; under hypervisor contention those
    serialized handshakes inflate multi-x, which is exactly the
    q54/q114/q178 driver-run pathology). This builder keeps the same
    rows/types/nullability as a pure JVM expression —
    ``inline(array(structs))`` over OneRowRelation, whole-stage
    codegen, ZERO tasks and ZERO Python — so literal dimension tables
    cost what they should: nothing.

    ``ddl`` is a DDL string or a StructType. Values must be plain
    Python scalars (str/int/float/bool/None). The array-level cast
    (not per-field) reproduces createDataFrame's all-nullable schema
    bit-for-bit. A row whose length differs from the schema's field
    count raises ``ValueError``. Intended for SMALL literal tables (the
    expression tree is driver-built per row); callers with >~1k rows
    should land parquet instead.
    """
    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    one = spark.sql("SELECT 1")
    if not rows:
        return one.select(
            F.inline(F.array().cast(T.ArrayType(schema)))
        )
    for i, r in enumerate(rows):
        if len(r) != len(schema.fields):
            raise ValueError(
                f"inline_rows: row {i} has {len(r)} values, "
                f"schema has {len(schema.fields)} fields"
            )
    structs = [
        F.struct(
            *[F.lit(v).alias(f.name) for v, f in zip(r, schema.fields)]
        )
        for r in rows
    ]
    return one.select(F.inline(F.array(*structs).cast(T.ArrayType(schema))))
