"""Control-plane + maintenance tests (S10/K4 parity)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from las_vpe_platform_spark.fixtures import FIXTURES_DIR
from las_vpe_platform_spark.operators.maintenance import (
    compact_parquet_table,
    packable_tasks,
    table_stats,
)
from las_vpe_platform_spark.streaming.control_plane import (
    CommandHandler,
    start_control_plane,
)

COMMANDS_SCHEMA = T.StructType(
    [
        T.StructField("command", T.StringType()),
        T.StructField("video_url", T.StringType()),
        T.StructField("tracking_conf_file", T.StringType()),
        T.StructField("tracklet_serial_num", T.LongType()),
        T.StructField("submit_ts", T.TimestampType()),
    ]
)


def _fx(spark, name):
    return spark.read.parquet(str(FIXTURES_DIR / f"{name}.parquet"))


def test_command_stream_fanout(spark, tmp_path):
    videos = _fx(spark, "videos")
    cmd_dir = str(tmp_path / "cmds")
    _fx(spark, "commands").coalesce(1).write.mode("overwrite").parquet(cmd_dir)

    handler = CommandHandler(videos=videos)
    stream = (
        spark.readStream.schema(COMMANDS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(cmd_dir)
    )
    q = start_control_plane(stream, handler)
    q.processAllAvailable()
    q.stop()

    assert handler.submitted
    # exact-url commands fan out to exactly one task; directory-prefix
    # commands to every video under the prefix (S4 expansion)
    by_cmd: dict[tuple[str, str], int] = {}
    for t in handler.submitted:
        by_cmd[(t.command, t.video_url)] = by_cmd.get((t.command, t.video_url), 0) + 1
        assert t.plan.topo_order()  # compiled, acyclic
    urls = {r["url"] for r in videos.select("url").collect()}
    for task in handler.submitted:
        assert task.video_url in urls
    # task ids are deterministic per video url
    import uuid as _uuid

    for task in handler.submitted[:10]:
        assert task.task_id == str(_uuid.uuid5(_uuid.NAMESPACE_URL, task.video_url))


def test_packable_tasks(spark):
    tr = _fx(spark, "tracklets")
    packable = packable_tasks(tr)
    # fixture tasks are complete by construction -> every task packable
    assert packable.count() == tr.select("task_id").distinct().count()
    # drop one tracklet of one task -> that task is no longer packable
    victim = tr.limit(1).collect()[0]
    rest = tr.filter(
        ~((F.col("task_id") == victim["task_id"]) & (F.col("serial_number") == victim["serial_number"]))
    )
    assert packable_tasks(rest).count() == packable.count() - 1


def test_compact_parquet_table(spark, tmp_path):
    target = str(tmp_path / "frag")
    _fx(spark, "tracklets").repartition(32).write.mode("overwrite").parquet(target)
    before = table_stats(spark, target).collect()[0]
    assert before["n_files"] == 32
    n_after = compact_parquet_table(spark, target, target_file_mb=128)
    after = table_stats(spark, target).collect()[0]
    assert n_after == after["n_files"] < 32
    assert spark.read.parquet(target).count() == _fx(spark, "tracklets").count()
    empty = tmp_path / "empty"
    empty.mkdir()
    assert tuple(table_stats(spark, str(empty)).collect()[0]) == (0, None, None)


def test_compaction_crash_recovery(spark, tmp_path):
    """Every crash state of the fallback two-rename swap is repairable:
    stale ._compacting, table renamed away to ._old, and the healthy
    no-op case."""
    import os
    import shutil

    from las_vpe_platform_spark.operators.maintenance import recover_compaction

    target = str(tmp_path / "t")
    _fx(spark, "videos").write.mode("overwrite").parquet(target)
    n = spark.read.parquet(target).count()

    # healthy table -> no-op
    assert recover_compaction(target) == "ok"

    # crash after writing ._compacting, before any rename
    shutil.copytree(target, target + "._compacting")
    assert recover_compaction(target) == "cleaned"
    assert not os.path.exists(target + "._compacting")

    # crash between rename(table, ._old) and rename(tmp, table)
    shutil.copytree(target, target + "._compacting")
    os.rename(target, target + "._old")
    assert recover_compaction(target) == "restored"
    assert spark.read.parquet(target).count() == n
    assert not os.path.exists(target + "._old")
