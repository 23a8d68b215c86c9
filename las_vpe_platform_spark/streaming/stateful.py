"""Custom stateful streaming operators (SURVEY T7).

The reference never needed beyond-window state (no updateStateByKey /
mapWithState anywhere); this module supplies the engine's extension
point for when a pipeline does: arbitrary per-key state via
``applyInPandasWithState`` (Arrow-batched, checkpointed state store).

The shipped example is streaming sessionization — the stateful
counterpart of the batch lag/cumsum sessionizer (catalog q18): a
session closes when a later event for the same key arrives more than
``gap_seconds`` after the session's last event. Sessions still open at
end-of-stream remain in state (exactly-once semantics across restarts
via the checkpoint).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"


def _advance_sessions(
    state: GroupState, batches: Iterator[pd.DataFrame], ts_col: str, gap_us: int
) -> list[tuple[int, int, int]]:
    """The session fold of both sessionizers: add one key's new events,
    in event-time order, to its stored open session (start_us, last_us,
    n_events); store the session left open and return every session a
    gap closed."""
    ts_us: list[int] = []
    for pdf in batches:
        ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col]))
    ts_us.sort()
    if state.exists:
        start, last, n = state.get
    else:
        start = last = ts_us[0]
        n = 0
    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if n > 0 and t - last > gap_us:
            closed.append((start, last, n))
            start = t
            n = 0
        n += 1
        last = max(last, t)
    state.update((start, last, n))
    return closed


def _session_rows(
    key: tuple[Any, ...], closed: list[tuple[int, int, int]]
) -> Iterator[pd.DataFrame]:
    """One output frame (SESSION_OUTPUT_SCHEMA) of ``key``'s closed
    sessions, or none."""
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _e, _n in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _s, e, _n in closed],
                "n_events": [n for _s, _e, n in closed],
            }
        )


def sessionize_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Closed sessions per key, emitted as soon as the closing event
    (first event past the gap) is processed.

    State per key = (session_start_us, last_event_us, n_events); one
    row in the state store per active key, bounded by key cardinality
    — the 100 TB concern is state size, and this keeps it O(keys),
    not O(events).
    """
    gap_us = gap_seconds * 1_000_000

    def close_sessions(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        yield from _session_rows(key, _advance_sessions(state, batches, ts_col, gap_us))

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            close_sessions,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream_event_time(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Sessionization with EVENT-TIME TIMEOUTS: a session also closes
    when the watermark passes (last_event + gap) with no successor —
    so every session eventually flushes and per-key state is reclaimed
    (the bounded-state form a 100 TB deployment needs; the NoTimeout
    variant above leaks one state row per idle key forever).
    """
    gap_us = gap_seconds * 1_000_000

    def close_sessions(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                if n > 0:
                    closed.append((start, last, n))
                state.remove()
        else:
            closed = _advance_sessions(state, batches, ts_col, gap_us)
            _start, last, _n = state.get
            # flush when the event-time watermark passes last + gap
            state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
        yield from _session_rows(key, closed)

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(key_col, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            close_sessions,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


LOCF_OUTPUT_SCHEMA = (
    "event_id long, user_id long, event_type string, filled_click_value double"
)
LOCF_STATE_SCHEMA = "has_value boolean, last_value double"


def locf_stream(stream: DataFrame, fill_type: str = "click") -> DataFrame:
    """Streaming last-observation-carried-forward (q76's gauge fill as
    a stateful operator): per user, every event row is emitted with the
    most recent ``fill_type`` value at-or-before it in event-time order.

    Input contract: the events shape (``user_id``, ``ts``,
    ``event_id``, ``event_type``, ``value``) — the columns are fixed
    because the output/state schemas are (a generic version would
    derive its schemas from parameters; this engine has exactly one
    events stream, so the narrower signature is the honest one).
    State per key = (has_value, last_value) — TWO scalars regardless of
    event volume, the smallest possible stateful-op footprint (the
    session operator carries three). Contract: micro-batches must
    arrive in non-decreasing event-time ranges per key (the time-sliced
    landing s03/s10 use); within a batch rows are sorted by
    (event-time, event_id), so ties resolve exactly like the batch
    window ORDER BY.
    """
    key_col, ts_col = "user_id", "ts"

    def fill(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        ts_us = pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
        pdf = pdf.assign(_ts=ts_us).sort_values(
            ["_ts", "event_id"], kind="mergesort"
        )
        has_value, last_value = state.get if state.exists else (False, 0.0)
        vals = pdf["value"].where(pdf["event_type"] == fill_type)
        filled = vals.ffill()
        if has_value:
            filled = filled.fillna(last_value)
        in_batch = vals.dropna()
        if len(in_batch):
            has_value, last_value = True, float(in_batch.iloc[-1])
        state.update((bool(has_value), float(last_value)))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": [key[0]] * len(pdf),
                "event_type": pdf["event_type"].to_numpy(),
                "filled_click_value": filled.to_numpy(),
            }
        )

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(key_col, ts_col, "event_id", "event_type", "value")
        .groupBy(key_col)
        .applyInPandasWithState(
            fill,
            LOCF_OUTPUT_SCHEMA,
            LOCF_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


TRIGRAM_OUTPUT_SCHEMA = "user_id long, e1 string, e2 string, e3 string"
TRIGRAM_STATE_SCHEMA = "e1 string, e2 string"


def trigram_stream(stream: DataFrame) -> DataFrame:
    """Streaming event-sequence mining (the stateful counterpart of
    batch q108): per user, emit every consecutive event-type TRIGRAM
    as it completes — the carried state is just the last TWO event
    types, the minimum a length-3 pattern needs, bounded per key
    regardless of stream length.

    Input contract: the events shape (``user_id``, ``ts``,
    ``event_id``, ``event_type``) with micro-batches arriving in
    non-decreasing event-time ranges per key (the time-sliced landing
    s03/s10 use); within a batch rows sort by (event-time, event_id),
    so the emitted trigram multiset equals the batch lead()-window
    formulation exactly.
    """
    key_col, ts_col = "user_id", "ts"

    def emit(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        ts_us = pd.to_datetime(pdf[ts_col]).astype("int64") // 1000
        pdf = pdf.assign(_ts=ts_us).sort_values(
            ["_ts", "event_id"], kind="mergesort"
        )
        carried = list(state.get) if state.exists else []
        carried = [c for c in carried if c is not None]
        seq = carried + pdf["event_type"].tolist()
        # every length-3 window over carried+batch contains at least
        # one NEW element (carried is at most 2 long), so emitting all
        # of them never duplicates a prior batch's trigrams
        rows = [
            (key[0], seq[i], seq[i + 1], seq[i + 2])
            for i in range(len(seq) - 2)
        ]
        tail = seq[-2:]
        if len(tail) == 2:
            state.update((tail[0], tail[1]))
        elif len(tail) == 1:
            state.update((None, tail[0]))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "e1", "e2", "e3"])

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(key_col, ts_col, "event_id", "event_type")
        .groupBy(key_col)
        .applyInPandasWithState(
            emit,
            TRIGRAM_OUTPUT_SCHEMA,
            TRIGRAM_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


ANOMALY_OUTPUT_SCHEMA = (
    "event_id long, event_type string, value double,"
    " n_prev long, deviation double, sd_prev double"
)
ANOMALY_STATE_SCHEMA = "n long, s double, ss double"
ANOMALY_MIN_N = 30
ANOMALY_NSIGMA = 3.0


def anomaly_stream(stream: DataFrame) -> DataFrame:
    """Streaming prequential anomaly detection: per event_type, flag
    each row whose value deviates more than NSIGMA sample standard
    deviations from the running statistics of the rows STRICTLY BEFORE
    it (event-time order) — the monitoring face of the reference's
    per-stream health reports (SURVEY K9; the reference reports fixed
    counters, this learns the baseline online).

    State per key is THREE scalars — (n, sum, sum-of-squares) — so the
    footprint is key-cardinality-bounded at any volume. The naive-sum
    formulation tracks a batch engine's running-window ``SUM(value)
    OVER (... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`` far tighter
    than Welford would, but it is NOT bit-reproducible once a key's
    rows span micro-batches (ADVICE r5): ``s_prev = s0 + cumsum(batch)``
    reassociates float addition at every batch boundary relative to a
    sequential fold, and SQL window SUM may itself sum pairwise. The
    residual drift is ~1e-12 relative and is absorbed by the flag's
    decision margin — the s15 oracle (queries_streaming.py) rounds
    deviation/sd to 1e-6 and compares against a 3-sigma boundary that
    real values sit ~1e-3 away from, so the flag bit agrees across
    engines; values engineered to sit WITHIN float drift of the
    boundary are out of contract. The flag compares deviation against
    NSIGMA*sd directly (no division), so sd == 0 degenerates exactly
    like the SQL predicate. Same arrival contract as locf_stream:
    micro-batches in non-decreasing event-time ranges per key, rows
    sorted (ts, event_id) within each batch.
    """

    def detect(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        pdf = pd.concat(list(batches), ignore_index=True)
        ts_us = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
        pdf = pdf.assign(_ts=ts_us).sort_values(
            ["_ts", "event_id"], kind="mergesort"
        )
        n0, s0, ss0 = state.get if state.exists else (0, 0.0, 0.0)
        v = pdf["value"].to_numpy(dtype="float64")
        cs, css = np.cumsum(v), np.cumsum(v * v)
        n_prev = n0 + np.arange(len(v), dtype="int64")
        s_prev = s0 + np.concatenate([[0.0], cs[:-1]])
        ss_prev = ss0 + np.concatenate([[0.0], css[:-1]])
        with np.errstate(divide="ignore", invalid="ignore"):
            mean = s_prev / n_prev
            var = (ss_prev - s_prev * s_prev / n_prev) / (n_prev - 1)
        sd = np.sqrt(np.maximum(var, 0.0))
        dev = np.abs(v - mean)
        mask = (n_prev >= ANOMALY_MIN_N) & (dev > ANOMALY_NSIGMA * sd)
        if len(v):
            state.update((int(n0 + len(v)), float(s0 + cs[-1]), float(ss0 + css[-1])))

        def r6(x):
            return np.floor(x * 1000000.0 + 0.5) / 1000000.0

        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy()[mask],
                "event_type": [key[0]] * int(mask.sum()),
                "value": v[mask],
                "n_prev": n_prev[mask],
                "deviation": r6(dev[mask]),
                "sd_prev": r6(sd[mask]),
            }
        )

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            detect,
            ANOMALY_OUTPUT_SCHEMA,
            ANOMALY_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


RATE_LIMIT_STATE_SCHEMA = "hour long, n long"
RATE_LIMIT_N = 5


def rate_limit_stream(
    stream: DataFrame, key_col: str = "user_id", limit: int = RATE_LIMIT_N
) -> DataFrame:
    """Streaming per-key ingestion quota: admit at most ``limit``
    events per (key, event-time hour), in (ts, event_id) order — the
    token-bucket gate an ingest pipeline puts in front of expensive
    downstream work (dedup, embedding, storage) so one hot key cannot
    monopolize a batch (the streaming cousin of q68's skew handling,
    and the admission-control face of the reference's per-stream
    backpressure, T5).

    State per user is TWO scalars — (current hour, admitted-in-hour) —
    because the arrival contract (same as locf/anomaly: micro-batches
    in non-decreasing event-time ranges per key, rows sorted
    (ts, event_id) within a batch) makes the hour monotone per key:
    once a later hour appears, earlier hours are closed. Admission is
    therefore a pure function of the event order, so the admitted set
    equals the batch oracle (row_number per (user, hour) <= limit)
    under ANY batching. All-integer state and outputs — bit-identical
    everywhere.
    """

    key_type = stream.schema[key_col].dataType.simpleString()
    out_schema = f"event_id long, {key_col} {key_type}, hour_bucket long, slot long"

    def gate(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        ts_us = pd.to_datetime(pdf["ts"]).astype("int64") // 1000
        pdf = pdf.assign(_us=ts_us).sort_values(
            ["_us", "event_id"], kind="mergesort"
        )
        hours = (pdf["_us"] // 3_600_000_000).to_numpy()
        h0, n0 = state.get if state.exists else (-1, 0)
        # occurrence index within each hour, carrying the stored count
        # for rows continuing the stored hour
        ser = pd.Series(hours)
        idx = ser.groupby(ser).cumcount().to_numpy()
        idx = idx + (hours == h0) * n0
        mask = idx < limit
        if len(hours):
            h_last = int(hours[-1])
            n_last = int((hours == h_last).sum()) + (n0 if h_last == h0 else 0)
            state.update((h_last, n_last))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy()[mask],
                key_col: [key[0]] * int(mask.sum()),
                "hour_bucket": hours[mask],
                "slot": (idx[mask] + 1).astype("int64"),
            }
        )

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(key_col, "ts", "event_id")
        .groupBy(key_col)
        .applyInPandasWithState(
            gate,
            out_schema,
            RATE_LIMIT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


PACK_STATE_SCHEMA = "total long"


def token_pack_stream(stream: DataFrame, budget: int) -> DataFrame:
    """Streaming per-source sequence packing (the live face of the
    batch prefix-sum packers, packing.py): each arriving document is
    assigned bin ``(running token total before it) div budget`` for
    its source, and the running total is the ONLY state — one BIGINT
    per source. Arrival contract: documents per source arrive in
    doc_id order (time-ordered landing); the assignment is then a pure
    function of that order, so any batching yields the batch window-
    cumsum result exactly (all-integer arithmetic)."""
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.functions.text import token_count
    from las_vpe_platform_spark.session import ensure_package_on_workers

    out_schema = "doc_id long, source string, n_toks long, bin_id long"

    def pack(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True).sort_values(
            "doc_id", kind="mergesort"
        )
        (total,) = state.get if state.exists else (0,)
        n = pdf["n_toks"].to_numpy()
        prior = total + n.cumsum() - n
        state.update((int(total + n.sum()),))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "source": [key[0]] * len(pdf),
                "n_toks": n,
                "bin_id": prior // budget,
            }
        )

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(
            "doc_id", "source", token_count("text").cast("long").alias("n_toks")
        )
        .groupBy("source")
        .applyInPandasWithState(
            pack,
            out_schema,
            PACK_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
