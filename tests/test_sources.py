"""Source tests: binaryFile video catalog scan, webcam stub."""

from __future__ import annotations

from pathlib import Path

from las_vpe_platform_spark.sources.video import video_files, webcam_stream
from las_vpe_platform_spark.streaming.engine import run_to_completion


def _make_video_tree(root: Path) -> list[str]:
    """CAM{c}/{date}/{video_id}.h264 tree with fake payloads."""
    made = []
    for cam in ("CAM01", "CAM02"):
        d = root / cam / "20160310"
        d.mkdir(parents=True)
        for i in range(3):
            vid = f"{cam}_2016031008{i:02d}00-2016031008{i:02d}30"
            p = d / f"{vid}.h264"
            p.write_bytes(b"\x00\x01" * 64)
            made.append(vid)
    # a non-matching file that the glob must skip
    (root / "CAM01" / "20160310" / "notes.txt").write_text("skip me")
    return made


def test_video_files_recursive_scan(spark, tmp_path):
    expected = _make_video_tree(tmp_path)
    df = video_files(spark, str(tmp_path))
    rows = df.collect()
    assert {r["video_id"] for r in rows} == set(expected)
    assert all(r["length"] == 128 for r in rows)
    # start_ts parsed from the name (F7)
    assert all(r["start_ts"] is not None for r in rows)
    assert "content" not in df.columns  # metadata-only scan


def test_video_files_with_content(spark, tmp_path):
    _make_video_tree(tmp_path)
    df = video_files(spark, str(tmp_path), with_content=True)
    row = df.limit(1).collect()[0]
    assert bytes(row["content"]) == b"\x00\x01" * 64


def test_webcam_stream_stub(spark):
    stream = webcam_stream(spark, camera_id="CAM07", frames_per_second=50)
    # rate source ticks in processing time; grab whatever arrived quickly
    import time

    q = stream.writeStream.format("memory").queryName("webcam_t").start()
    try:
        time.sleep(2.5)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("webcam_t").collect()
    assert rows, "webcam stub produced no frames"
    assert all(r["camera_id"] == "CAM07" for r in rows)
    idxs = sorted(r["frame_index"] for r in rows)
    assert idxs == list(range(idxs[0], idxs[-1] + 1))


def test_multi_format_ingest_round_trip(spark, sf_dir, tmp_path):
    """Format breadth: the same events land as CSV and JSON and read
    back value-identical to the parquet source under an explicit
    schema — the engine is not parquet-bound at ingest (Spark-native
    csv/json readers, predicate pushdown still applies to json)."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        # CSV has no timestamp type fidelity: carry micros as a long
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    schema = "event_id long, user_id long, event_type string, value double, ts_us long"
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    ev.write.mode("overwrite").option("header", True).csv(csv_dir)
    ev.write.mode("overwrite").json(json_dir)
    from_csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
    from_json = spark.read.schema(schema).json(json_dir)
    base = {tuple(r) for r in ev.collect()}
    assert {tuple(r) for r in from_csv.collect()} == base
    assert {tuple(r) for r in from_json.collect()} == base


def test_inline_rows_rejects_wrong_arity(spark):
    """A literal row with too few or too many values fails loudly,
    naming the row, instead of being truncated to the shorter side."""
    import pytest

    from las_vpe_platform_spark.sources.tables import inline_rows

    ddl = "k string, v long"
    with pytest.raises(ValueError, match="row 1 has 1 values"):
        inline_rows(spark, [("a", 1), ("b",)], ddl)
    with pytest.raises(ValueError, match="row 0 has 3 values"):
        inline_rows(spark, [("a", 1, "extra")], ddl)
