"""Streaming windowed aggregation + custom stateful sessionization.

Two genuinely-streaming operators over the events stream (graft scope:
"Structured Streaming for streams; watermarks + windowed aggs for late
data; applyInPandasWithState for custom stateful operators"):

  - ``stream_event_windows``: tumbling-window counts with a watermark;
    append mode emits a window only once its end passes the watermark, so
    late events inside the lateness bound still count and older ones are
    dropped deterministically. The batch shape of the same query is
    __spark_entry__.q_event_rate_windows.

  - ``stream_sessionize``: gap-based user sessionization as a CUSTOM
    stateful operator via applyInPandasWithState (Arrow-batched python,
    one GroupState per user_id, event-time timeout). A session closes when
    the event-time watermark passes its end by the gap; closed sessions
    are appended to the sink exactly once. The batch shape is
    __spark_entry__.q_user_sessions (lag/gap window algebra).

Both run with Trigger.AvailableNow + a checkpoint, the incremental-batch
deployment shape used throughout (stream_pipeline.py).

Scale notes: state is one 3-long tuple per active user (not per event);
the shuffle key is user_id (the natural partitioning); timeouts bound
state size — an idle user's state is emitted and removed as soon as the
watermark passes, so state never grows with history.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .stream_pipeline import _drain

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("ts", TimestampType(), True),
        StructField("value", DoubleType(), True),
    ]
)

SESSION_OUT_SCHEMA = (
    "user_id long, session_start_s long, session_end_s long, n_events long"
)
SESSION_STATE_SCHEMA = "start_ms long, end_ms long, n long"


def stream_event_windows(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "6 hours",
    watermark: str = "2 hours",
):
    """Drain available event files into a windowed-count parquet sink."""
    return _drain(
        spark, EVENTS_SCHEMA, input_dir, output_dir, checkpoint_dir,
        lambda ev: ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
        ),
    )


def _make_sessionizer(gap_s: int):
    gap_ms = gap_s * 1000

    def fn(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        closed: list[tuple] = []
        if state.hasTimedOut:
            s, e, n = state.get
            closed.append((user_id, s // 1000, e // 1000, n))
            state.remove()
        else:
            ts_ms: list[int] = []
            for pdf in pdfs:
                # pandas Timestamp -> epoch ms (naive, session tz)
                ts_ms.extend(
                    int(v.value // 1_000_000) for v in pdf["ts"] if v is not None
                )
            if state.exists:
                s, e, n = state.get
            else:
                s = e = None
                n = 0
            for t in sorted(ts_ms):
                if s is None:
                    s, e, n = t, t, 1
                elif t - e > gap_ms:
                    closed.append((user_id, s // 1000, e // 1000, n))
                    s, e, n = t, t, 1
                else:
                    e = t
                    n += 1
            if s is not None:
                state.update((s, e, n))
                # close once the watermark passes session_end + gap; the
                # timeout must sit strictly beyond the current watermark
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(e + gap_ms + 1, wm + 1))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_s", "session_end_s", "n_events"],
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_s: int = 1800,
    watermark: str = "2 hours",
):
    """Drain available event files, appending CLOSED sessions to the sink."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return _drain(
        spark, EVENTS_SCHEMA, input_dir, output_dir, checkpoint_dir,
        lambda ev: ev.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(gap_s),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        ),
    )
