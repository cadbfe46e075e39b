"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

The batch twin is plans/events.sessionize (two windows over a user
shuffle).  Streaming can't window over the future, so state carries each
user's OPEN session across micro-batches: events arrive grouped by
user_id, the open session absorbs them, and every >30-min gap CLOSES a
session, which is emitted downstream.  The final open session per user
stays in state (a real deployment emits it via timeout; on a drained
AvailableNow run it simply never closes — the test accounts for that).

State is four scalars per user — bounded, partitioned, no driver
involvement: the canonical shape for a custom stateful operator the
built-in windows can't express.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from mapreduce_minhash_lsh_spark.plans.events import SESSION_GAP_US
from mapreduce_minhash_lsh_spark.operators.similarity import _materialize
from mapreduce_minhash_lsh_spark.streaming.jobs import _drain, _events_stream

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("start_us", LongType()),
    StructField("end_us", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("end_us", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
])


def _close_sessions(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Gap-sweep the incoming events MERGED WITH the open session.

    The open session carried in state is, by construction, a gap-free
    run [start_us, end_us]; treating it as one run and sweeping it
    together with the (sorted) incoming events in start order
    reproduces batch gap semantics for every late-data shape the state
    summary can express (ADVICE r13):

    * an event inside the open session folds in without rewinding its
      bounds (a bare ``end_us = us`` would move the end backward and
      corrupt gap detection for every subsequent event — ADVICE r12);
    * an event within SESSION_GAP_US before start_us bridges and
      extends the session backward, exactly as batch would;
    * an event MORE than SESSION_GAP_US before start_us is a separate
      earlier session — it closes immediately (alone, or chained with
      other pre-start late events) instead of being silently merged
      into a session batch semantics would split.

    Only events late enough to belong to an already-CLOSED session are
    irrecoverable by design — the same trade-off as watermarked
    windows.
    """
    user_id = key[0]
    events = pd.concat(list(pdfs), ignore_index=True)
    events = events.sort_values(["us", "event_id"])
    closed: list[tuple[int, int, int, int, float]] = []
    cur: tuple[int, int, int, float] | None = None

    def absorb(run: tuple[int, int, int, float]) -> None:
        nonlocal cur
        if cur is None:
            cur = run
        elif run[0] - cur[1] > SESSION_GAP_US:
            closed.append((user_id, *cur))
            cur = run
        else:
            cur = (
                min(cur[0], run[0]),
                max(cur[1], run[1]),
                cur[2] + run[2],
                cur[3] + run[3],
            )

    state_run = tuple(state.get) if state.exists else None
    for us, value in zip(events["us"], events["value"]):
        us = int(us)
        if state_run is not None and state_run[0] <= us:
            absorb(state_run)
            state_run = None
        absorb((us, us, 1, float(value)))
    if state_run is not None:
        absorb(state_run)
    if cur is not None:
        state.update(cur)
    if closed:
        yield pd.DataFrame(
            closed, columns=["user_id", "start_us", "end_us", "n_events", "sum_value"]
        )


# Memory-sink names must be unique per start within a session (a
# repeated registered-query call would otherwise collide or read a
# stale table); the counter keeps them unique without any randomness.
_SINK_SEQ = [0]


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events stream with AvailableNow, emitting every CLOSED
    session (each user's final session stays open in state)."""
    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", "value", "event_time"
    ).withColumnRenamed("ts_us", "us")
    sessions = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _close_sessions,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _SINK_SEQ[0] += 1
    name = f"streaming_sessions_{_SINK_SEQ[0]}"
    drained = _drain(sessions, name, "append")
    # Copy the result out of the memory sink, then DROP the sink table:
    # each call registers a fresh streaming_sessions_N temp view holding
    # the full closed-session result set in driver memory, so repeated
    # invocations (bench loops, parity sweeps) would otherwise accumulate
    # result sets for the life of the session.
    result = _materialize(drained, None)
    spark.catalog.dropTempView(name)
    return result
