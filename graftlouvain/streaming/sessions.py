"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (SURVEY.md §2g "grouped-map vectorized UDF" +
Structured Streaming state API).

Per user, events are folded into sessions that close after ``gap_seconds`` of
inactivity; closed sessions are emitted in append mode. State per key is the
open session's (start, last_ts, n_events, sum_value). This is the canonical
custom-stateful shape (the batch twin is ``__spark_entry__.q_events_sessionize``,
which the test compares against for session COUNTS).

Scale: state is O(active users); Arrow batches per group, no per-row Python.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from graftlouvain.streaming.events import EVENTS_SCHEMA

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
STATE_SCHEMA = "start long, last long, n long, v double"
# buffered variant: the open session PLUS the not-yet-finalized event buffer
# (events newer than the watermark). start = -1 means "no open session yet".
BUFFERED_STATE_SCHEMA = (
    "start long, last long, n long, v double, "
    "buf_ts array<long>, buf_eid array<long>, buf_val array<double>"
)


def _sessionize(
    key: Tuple[Any], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    gap = 1800
    (user_id,) = key
    # (ts, event_id) ordering matches the batch twin's window tiebreak.
    # ACROSS micro-batches the operator assumes in-order arrival: an event
    # landing in a later micro-batch with ts earlier than the open session's
    # `last` is folded into it (gap computed vs `last`, never negative-split).
    # For out-of-order sources, pre-sort the input or add a watermark buffer
    # upstream — see sessionize_stream docstring.
    rows = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    ts = rows["ts"].astype("int64") // 1_000_000_000
    vals = rows["value"].fillna(0.0)

    if state.exists:
        start, last, n, v = state.get
    else:
        start = last = int(ts.iloc[0])
        n, v = 0, 0.0

    out = []
    for t, val in zip(ts, vals):
        t = int(t)
        if t - last > gap:
            out.append((user_id, start, last, n, v))
            start, n, v = t, 0, 0.0
        last = max(last, t)
        n += 1
        v += float(val)
    state.update((start, last, n, v))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "session_start": [pd.Timestamp(o[1], unit="s") for o in out],
                "session_end": [pd.Timestamp(o[2], unit="s") for o in out],
                "n_events": [o[3] for o in out],
                "sum_value": [o[4] for o in out],
            }
        )


def _sessionize_buffered(
    key: Tuple[Any], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """OUT-OF-ORDER-safe variant of :func:`_sessionize`: events are held in
    the state's buffer and folded into sessions only once the EVENT-TIME
    WATERMARK has passed them, in global (ts, event_id) order. Any
    file/micro-batch arrival order whose disorder stays within the watermark
    delay therefore produces the batch twin's exact sessions — the
    pre-sort/buffer upstream the in-order variant's docstring points to,
    realized inside the operator itself (the watermark is the finalization
    frontier: an event can only be folded when no earlier-timestamped event
    can still arrive)."""
    gap = 1800
    (user_id,) = key
    rows = pd.concat(list(batches))
    if state.exists:
        start, last, n, v, b_ts, b_eid, b_val = state.get
        b_ts, b_eid, b_val = list(b_ts), list(b_eid), list(b_val)
    else:
        start, last, n, v = -1, -1, 0, 0.0
        b_ts, b_eid, b_val = [], [], []
    b_ts += (rows["ts"].astype("int64") // 1_000_000_000).tolist()
    b_eid += rows["event_id"].astype("int64").tolist()
    b_val += rows["value"].fillna(0.0).astype("float64").tolist()
    buf = sorted(zip(b_ts, b_eid, b_val))
    # Watermark = max event time seen up to the PREVIOUS micro-batch minus the
    # delay; only events at or below it are final (nothing earlier can still
    # arrive — Spark filters genuinely-late rows before this operator).
    wm = state.getCurrentWatermarkMs() // 1000
    ready = [e for e in buf if e[0] <= wm]
    pending = [e for e in buf if e[0] > wm]
    out = []
    for t, _eid, x in ready:  # ascending (ts, event_id) — the batch tiebreak
        if start >= 0 and t - last > gap:
            out.append((user_id, start, last, n, v))
            start, n, v = t, 0, 0.0
        if start < 0:
            start = t
        last = t if last < t else last
        n += 1
        v += float(x)
    state.update(
        (start, last, n, v,
         [e[0] for e in pending], [e[1] for e in pending],
         [e[2] for e in pending])
    )
    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "session_start": [pd.Timestamp(o[1], unit="s") for o in out],
                "session_end": [pd.Timestamp(o[2], unit="s") for o in out],
                "n_events": [o[3] for o in out],
                "sum_value": [o[4] for o in out],
            }
        )


def sessionize_stream(
    spark: SparkSession,
    events_dir: str,
    glob: str | None = None,
) -> DataFrame:
    """readStream → per-user stateful sessionization. Closed sessions are
    appended; the open tail session stays in state (no timeout: with a
    finite input, pending processing-time timeouts would keep the
    micro-batch engine spinning), and tests account for it.

    In-order-input assumption: within a micro-batch events are sorted by
    (ts, event_id) — the batch twin's exact tiebreak — but events that arrive
    in a LATER micro-batch with a timestamp before the open session's last
    event are folded into that session rather than re-splitting it. For
    out-of-order sources use :func:`sessionize_stream_buffered`, which
    realizes exactly that watermark buffer."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 2)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(events_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream_buffered(
    spark: SparkSession,
    events_dir: str,
    delay: str = "2 hours",
    glob: str | None = None,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Out-of-order-tolerant sessionization: a watermark of ``delay`` on the
    event time plus an in-state event buffer (:func:`_sessionize_buffered`)
    — events are finalized into sessions only once the watermark passes
    them, in (ts, event_id) order, so ANY arrival order with disorder
    bounded by ``delay`` yields sessions identical to the batch twin
    (pinned by the shuffled-file parity test). Cost vs the in-order variant:
    per-user state grows to O(events inside the watermark window) instead of
    O(1), and emission lags by the delay — the standard latency/correctness
    trade of watermarked streaming. Tails (the open session + still-buffered
    events) stay in state, as in the in-order variant."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    stream = reader.parquet(events_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", delay)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_buffered,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=BUFFERED_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
