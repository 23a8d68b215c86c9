"""Scalar functions: time / key / name parsing (SURVEY §2.8 F7, F8).

F5 frame->time arithmetic and F6 time bucketing need no helper: the
entries inline one interval add (d08, q15) and ``date_trunc`` (q10,
d04).

Reference parity:
- F7 video-name parsing: PedestrianTrackingApp.java:172-173,
  MessageHandlingApp.java:258-260.
- F8 key synthesis: Tracklet.java:136-138.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tracklet_key(video_id: Column | str, serial_number: Column | str) -> Column:
    """``videoID + "_tarid" + serialNumber`` (Tracklet.java:136-138)."""
    return F.concat(
        F.col(video_id) if isinstance(video_id, str) else video_id,
        F.lit("_tarid"),
        (F.col(serial_number) if isinstance(serial_number, str) else serial_number).cast("string"),
    )


def video_id_from_url(url: Column | str) -> Column:
    """Strip directory and extension from a video URL.

    (PedestrianTrackingApp.java:172-173 — ``name.substring(0, lastIndexOf('.'))``.)
    """
    c = F.col(url) if isinstance(url, str) else url
    base = F.element_at(F.split(c, "/"), -1)
    return F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")


def video_start_ts(video_id: Column | str) -> Column:
    """Parse the ``CAMxx_yyyyMMddHHmmss-...`` start time out of a video id.

    (Neo4jConnector.java:128-140 splits the name on ``-`` and slices
    yyyy/MM/dd/HH/mm/ss substrings.)
    """
    c = F.col(video_id) if isinstance(video_id, str) else video_id
    stamp = F.regexp_extract(c, r"_(\d{14})", 1)
    return F.to_timestamp(stamp, "yyyyMMddHHmmss")


def ntz_epoch_micros(ts: Column | str) -> Column:
    """Epoch microseconds of a TIMESTAMP_NTZ, session-timezone independent.

    ``unix_micros(cast(ntz as timestamp))`` and even
    ``timestampdiff(MICROSECOND, ntz, ntz)`` route the naive wall clock
    through the session timezone (a wall clock inside a DST gap shifts
    by an hour), so neither is safe when the session TZ is unknown.
    Pure calendar arithmetic — days since epoch, seconds within the
    day, microsecond fraction — never consults a timezone and matches
    DuckDB's ``epoch_us(TIMESTAMP)`` bit-for-bit.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    days = F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint")
    secs_of_day = (F.hour(c) * 3600 + F.minute(c) * 60).cast("bigint")
    # date_part('SECOND') is DECIMAL(8,6): whole seconds + exact micro fraction
    micros = (F.date_part(F.lit("SECOND"), c) * 1000000).cast("bigint")
    return days * F.lit(86400000000) + secs_of_day * F.lit(1000000) + micros
