"""Custom keyed-state stream operators (SURVEY T7).

The reference keeps no state beyond windows (no updateStateByKey /
mapWithState anywhere); this module is the engine's extension point for
a pipeline that does. Each operator is a pure per-key STEP behind one
harness, :func:`_fold_by_key`, which for every trigger:

- groups the operator's columns by its key through one
  ``applyInPandasWithState`` call (append mode, no timeout; the state
  store is checkpointed, so state survives restarts exactly once);
- concatenates each key's Arrow batches into one frame stably sorted by
  the operator's order (:func:`_sorted_rows`; an event-time ``ts``
  column arrives as epoch micros);
- calls ``step(key, rows, stored)``, where ``stored`` is the key's state
  tuple from earlier triggers or None, and ``rows`` is never empty;
  the step returns ``(new_state, out_rows or None)``; the harness
  stores ``new_state`` and emits ``out_rows`` when it has rows.

Steps are plain pandas and need no SparkSession. Each one is SPLIT
INVARIANT: folding it over any contiguous split of a key's sorted rows
gives the same rows and final state as one batch (tests/test_stateful.py
checks this without Spark). Together with the arrival contract — per
key, micro-batches arrive in non-decreasing ranges of the sort order,
as the time-sliced landings deliver them — that is what lets the
catalog entries batch several slices into one trigger.

``sessionize_stream_event_time`` is the one operator with a timeout; it
keeps its own ``applyInPandasWithState`` call but shares
:func:`_sorted_rows` and the session fold :func:`_advance_sessions`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

StepResult = tuple[tuple, "pd.DataFrame | None"]


def _sorted_rows(batches: Iterable[pd.DataFrame], order: list[str]) -> pd.DataFrame:
    """One key's batches as one frame, ``ts`` (if present) as epoch
    micros, stably sorted by ``order``."""
    rows = pd.concat(list(batches), ignore_index=True)
    if "ts" in rows:
        rows["ts"] = pd.to_datetime(rows["ts"]).astype("int64") // 1000
    return rows.sort_values(order, kind="mergesort", ignore_index=True)


def _fold_by_key(
    stream: DataFrame,
    key_col: str,
    cols: list[str | Column],
    order: list[str],
    step: Callable[[Any, pd.DataFrame, tuple | None], StepResult],
    out_schema: str,
    state_schema: str,
) -> DataFrame:
    """``step`` folded per ``key_col`` over ``stream.select(*cols)``,
    each key's rows sorted by ``order`` (see the module docstring)."""
    from las_vpe_platform_spark.session import ensure_package_on_workers

    def apply(
        key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stored = state.get if state.exists else None
        new_state, out = step(key[0], _sorted_rows(batches, order), stored)
        state.update(new_state)
        if out is not None and len(out):
            yield out

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select(*cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            apply, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"
SESSION_GAP_US = 1800 * 1_000_000


def _advance_sessions(
    ts_us: list[int], stored: tuple | None
) -> tuple[tuple[int, int, int], list[tuple[int, int, int]]]:
    """The session fold of both sessionizers: add one key's new event
    times (sorted epoch micros) to its stored open session (start_us,
    last_us, n_events); return the session left open and every session
    a gap closed."""
    start, last, n = stored if stored is not None else (ts_us[0], ts_us[0], 0)
    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if n > 0 and t - last > SESSION_GAP_US:
            closed.append((start, last, n))
            start = t
            n = 0
        n += 1
        last = max(last, t)
    return (start, last, n), closed


def _session_rows(key: Any, closed: list[tuple[int, int, int]]) -> pd.DataFrame:
    """``key``'s closed sessions as SESSION_OUTPUT_SCHEMA rows."""
    return pd.DataFrame(
        {
            "user_id": [key] * len(closed),
            "session_start": [pd.Timestamp(s, unit="us") for s, _e, _n in closed],
            "session_end": [pd.Timestamp(e, unit="us") for _s, e, _n in closed],
            "n_events": [n for _s, _e, n in closed],
        }
    )


def session_step(key: Any, rows: pd.DataFrame, stored: tuple | None) -> StepResult:
    """sessionize_stream's step: the sessions the new events close."""
    session, closed = _advance_sessions(rows["ts"].tolist(), stored)
    return session, _session_rows(key, closed) if closed else None


def sessionize_stream(stream: DataFrame) -> DataFrame:
    """Closed 30-minute-gap sessions per ``user_id`` over ``ts``,
    emitted as soon as the closing event (first event past the gap) is
    processed.

    State per key = (session_start_us, last_event_us, n_events); one
    row in the state store per active key, bounded by key cardinality
    — the 100 TB concern is state size, and this keeps it O(keys),
    not O(events). Each user's last session never closes.
    """
    return _fold_by_key(
        stream, "user_id", ["user_id", "ts"], ["ts"], session_step,
        SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA,
    )


def sessionize_stream_event_time(
    stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Sessionization with EVENT-TIME TIMEOUTS: a session also closes
    when the watermark passes (last_event + gap) with no successor —
    so every session eventually flushes and per-key state is reclaimed
    (the bounded-state form a 100 TB deployment needs; the NoTimeout
    variant above leaks one state row per idle key forever).
    """

    def close_sessions(
        key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            closed = [state.get] if state.exists else []
            state.remove()
        else:
            stored = state.get if state.exists else None
            session, closed = _advance_sessions(
                _sorted_rows(batches, ["ts"])["ts"].tolist(), stored
            )
            state.update(session)
            # flush when the event-time watermark passes last + gap (ms)
            state.setTimeoutTimestamp((session[1] + SESSION_GAP_US) // 1000)
        if closed:
            yield _session_rows(key[0], closed)

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(stream.sparkSession)
    return (
        stream.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
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


def locf_step(key: Any, rows: pd.DataFrame, stored: tuple | None) -> StepResult:
    """locf_stream's step: every row with the latest click value at or
    before it."""
    has_value, last_value = stored or (False, 0.0)
    vals = rows["value"].where(rows["event_type"] == "click")
    filled = vals.ffill()
    if has_value:
        filled = filled.fillna(last_value)
    in_batch = vals.dropna()
    if len(in_batch):
        has_value, last_value = True, float(in_batch.iloc[-1])
    return (bool(has_value), float(last_value)), pd.DataFrame(
        {
            "event_id": rows["event_id"].to_numpy(),
            "user_id": [key] * len(rows),
            "event_type": rows["event_type"].to_numpy(),
            "filled_click_value": filled.to_numpy(),
        }
    )


def locf_stream(stream: DataFrame) -> DataFrame:
    """Streaming last-observation-carried-forward (q76's gauge fill as
    a stateful operator): per user, every event row is emitted with the
    most recent ``click`` value at-or-before it in (ts, event_id)
    order, so ties resolve exactly like the batch window ORDER BY.

    Input contract: the events shape (``user_id``, ``ts``,
    ``event_id``, ``event_type``, ``value``) — the columns are fixed
    because the output/state schemas are. State per key = (has_value,
    last_value) — TWO scalars regardless of event volume, the smallest
    possible stateful-op footprint (the session operator carries
    three).
    """
    return _fold_by_key(
        stream, "user_id", ["user_id", "ts", "event_id", "event_type", "value"],
        ["ts", "event_id"], locf_step, LOCF_OUTPUT_SCHEMA, LOCF_STATE_SCHEMA,
    )


TRIGRAM_OUTPUT_SCHEMA = "user_id long, e1 string, e2 string, e3 string"
TRIGRAM_STATE_SCHEMA = "e1 string, e2 string"


def trigram_step(key: Any, rows: pd.DataFrame, stored: tuple | None) -> StepResult:
    """trigram_stream's step: every trigram the new event types
    complete, carrying the last two."""
    carried = [c for c in stored or () if c is not None]
    seq = carried + rows["event_type"].tolist()
    # every length-3 window over carried+batch contains at least one NEW
    # element (carried is at most 2 long), so emitting all of them never
    # duplicates a prior batch's trigrams
    out = [(key, *seq[i : i + 3]) for i in range(len(seq) - 2)]
    return tuple([None, None, *seq][-2:]), pd.DataFrame(
        out, columns=["user_id", "e1", "e2", "e3"]
    )


def trigram_stream(stream: DataFrame) -> DataFrame:
    """Streaming event-sequence mining (the stateful counterpart of
    batch q108): per user, emit every consecutive event-type TRIGRAM
    in (ts, event_id) order as it completes — the carried state is just
    the last TWO event types, the minimum a length-3 pattern needs,
    bounded per key regardless of stream length. The emitted trigram
    multiset equals the batch lead()-window formulation exactly.
    """
    return _fold_by_key(
        stream, "user_id", ["user_id", "ts", "event_id", "event_type"],
        ["ts", "event_id"], trigram_step, TRIGRAM_OUTPUT_SCHEMA, TRIGRAM_STATE_SCHEMA,
    )


ANOMALY_OUTPUT_SCHEMA = (
    "event_id long, event_type string, value double,"
    " n_prev long, deviation double, sd_prev double"
)
ANOMALY_STATE_SCHEMA = "n long, s double, ss double"
ANOMALY_MIN_N = 30
ANOMALY_NSIGMA = 3.0


def anomaly_step(key: Any, rows: pd.DataFrame, stored: tuple | None) -> StepResult:
    """anomaly_stream's step: the rows deviating more than NSIGMA
    running standard deviations from the rows before them."""
    n0, s0, ss0 = stored or (0, 0.0, 0.0)
    v = rows["value"].to_numpy(dtype="float64")
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

    def r6(x):
        return np.floor(x * 1000000.0 + 0.5) / 1000000.0

    new_state = (int(n0 + len(v)), float(s0 + cs[-1]), float(ss0 + css[-1]))
    return new_state, pd.DataFrame(
        {
            "event_id": rows["event_id"].to_numpy()[mask],
            "event_type": [key] * int(mask.sum()),
            "value": v[mask],
            "n_prev": n_prev[mask],
            "deviation": r6(dev[mask]),
            "sd_prev": r6(sd[mask]),
        }
    )


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
    like the SQL predicate.
    """
    return _fold_by_key(
        stream, "event_type", ["event_type", "ts", "event_id", "value"],
        ["ts", "event_id"], anomaly_step, ANOMALY_OUTPUT_SCHEMA, ANOMALY_STATE_SCHEMA,
    )


RATE_LIMIT_OUTPUT_SCHEMA = "event_id long, event_type string, hour_bucket long, slot long"
RATE_LIMIT_STATE_SCHEMA = "hour long, n long"
RATE_LIMIT_N = 5


def rate_limit_step(key: Any, rows: pd.DataFrame, stored: tuple | None) -> StepResult:
    """rate_limit_stream's step: the rows admitted under the per-hour
    quota, each with its 1-based slot in its hour."""
    h0, n0 = stored or (-1, 0)
    hours = (rows["ts"] // 3_600_000_000).to_numpy()
    # occurrence index within each hour, carrying the stored count for
    # rows continuing the stored hour
    ser = pd.Series(hours)
    idx = ser.groupby(ser).cumcount().to_numpy() + (hours == h0) * n0
    mask = idx < RATE_LIMIT_N
    h_last = int(hours[-1])
    n_last = int((hours == h_last).sum()) + (n0 if h_last == h0 else 0)
    return (h_last, n_last), pd.DataFrame(
        {
            "event_id": rows["event_id"].to_numpy()[mask],
            "event_type": [key] * int(mask.sum()),
            "hour_bucket": hours[mask],
            "slot": (idx[mask] + 1).astype("int64"),
        }
    )


def rate_limit_stream(stream: DataFrame) -> DataFrame:
    """Streaming per-key ingestion quota: admit at most RATE_LIMIT_N
    events per (event_type, event-time hour), in (ts, event_id) order
    — the token-bucket gate an ingest pipeline puts in front of
    expensive downstream work (dedup, embedding, storage) so one hot
    key cannot monopolize a batch (the streaming cousin of q68's skew
    handling, and the admission-control face of the reference's
    per-stream backpressure, T5).

    State per key is TWO scalars — (current hour, admitted-in-hour) —
    because the arrival contract makes the hour monotone per key: once
    a later hour appears, earlier hours are closed. Admission is
    therefore a pure function of the event order, so the admitted set
    equals the batch oracle (row_number per (key, hour) <= limit)
    under ANY batching. All-integer state and outputs — bit-identical
    everywhere.
    """
    return _fold_by_key(
        stream, "event_type", ["event_type", "ts", "event_id"],
        ["ts", "event_id"], rate_limit_step,
        RATE_LIMIT_OUTPUT_SCHEMA, RATE_LIMIT_STATE_SCHEMA,
    )


PACK_OUTPUT_SCHEMA = "doc_id long, source string, n_toks long, bin_id long"
PACK_STATE_SCHEMA = "total long"


def pack_step(
    key: Any, rows: pd.DataFrame, stored: tuple | None, budget: int
) -> StepResult:
    """token_pack_stream's step: each document's bin, ``(running token
    total before it) div budget``."""
    (total,) = stored or (0,)
    n = rows["n_toks"].to_numpy()
    prior = total + n.cumsum() - n
    return (int(total + n.sum()),), pd.DataFrame(
        {
            "doc_id": rows["doc_id"].to_numpy(),
            "source": [key] * len(rows),
            "n_toks": n,
            "bin_id": prior // budget,
        }
    )


def token_pack_stream(stream: DataFrame, budget: int) -> DataFrame:
    """Streaming per-source sequence packing (the live face of the
    batch prefix-sum packers, packing.py): each arriving document is
    assigned bin ``(running token total before it) div budget`` for
    its source, and the running total is the ONLY state — one BIGINT
    per source. Arrival contract: documents per source arrive in
    doc_id order (time-ordered landing); the assignment is then a pure
    function of that order, so any batching yields the batch window-
    cumsum result exactly (all-integer arithmetic)."""
    from las_vpe_platform_spark.functions.text import token_count

    return _fold_by_key(
        stream, "source",
        ["doc_id", "source", token_count("text").cast("long").alias("n_toks")],
        ["doc_id"], partial(pack_step, budget=budget),
        PACK_OUTPUT_SCHEMA, PACK_STATE_SCHEMA,
    )
