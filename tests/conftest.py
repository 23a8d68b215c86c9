from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from las_vpe_platform_spark.session import get_spark

    spark = get_spark("tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = f"{SF_DIR}/{name}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# the events table with ``ts`` as an absolute (LTZ) timestamp, the
# shape watermarks and the stateful stream operators take
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Re-land the events table (EVENTS_SCHEMA) as a multi-file parquet
    directory so a file stream over it sees several micro-batches."""
    from las_vpe_platform_spark.sources.tables import load_table

    out = str(tmp_path_factory.mktemp("events_stream"))
    (load_table(spark, sf_dir, "events")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .repartition(4).write.mode("overwrite").parquet(out))
    return out


def outside_cached_plans(plan: str) -> str:
    """Drop subtree lines under InMemoryRelation nodes: staged frames
    (operators/staging.py) legitimately contain their own exchanges /
    explodes, and toString re-prints the cached build plan at every
    InMemoryTableScan reference — assertions about the CONSUMING
    lineage must not count them. Shared by test_plans and test_bloom
    (review r5: two drifting copies of a nontrivial parser)."""
    out: list[str] = []
    skip_depth: int | None = None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if "InMemoryRelation" in line:
            skip_depth = depth
            continue
        out.append(line)
    return "\n".join(out)
