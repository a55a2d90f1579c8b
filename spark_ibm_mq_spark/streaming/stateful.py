"""Arbitrary stateful streaming: the sequence-gap monitor
(reference R5 generalized — lastTs/lastSeqNo carry-over at
IBMMQReceiver.java:216-217,266-267 becomes explicit per-key state).

Per user_id, remember the last seen event_id across micro-batches and emit
one row per detected gap ≥ threshold. The reference could only print
aggregate received-vs-committed counts (IBMMQReceiver.java:481-522); this
emits the actual missing ranges.

Both stateful-API shapes Spark offers are implemented over the same logic:
`seq_gap_monitor` uses applyInPandasWithState (the stable GroupState API)
and `seq_gap_monitor_tws` uses Spark 4's transformWithStateInPandas
(StatefulProcessor + typed ValueState — the SURVEY §2.2 row). Same state
(one bigint per user), same shuffle (user_id only), same output.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

GAP_OUTPUT_SCHEMA = "user_id bigint, prev_id bigint, event_id bigint, gap bigint"
_STATE_SCHEMA = "last_id bigint"


def _gap_fn_factory(threshold: int):
    def detect_gaps(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        last_id = state.get[0] if state.exists else None
        out: list[tuple] = []
        # A group's rows may arrive split across several Arrow chunks
        # (spark.sql.execution.arrow.maxRecordsPerBatch); sorting per-chunk
        # would process ids in chunk-local order and diverge from the batch
        # lag() semantics, so gather ALL ids for the group before one scan.
        ids = sorted(int(x) for pdf in pdfs for x in pdf["event_id"])
        for eid in ids:
            if last_id is not None and eid - last_id >= threshold:
                out.append((user_id, last_id, eid, eid - last_id))
            last_id = eid
        state.update((last_id,))
        yield pd.DataFrame(out, columns=["user_id", "prev_id", "event_id", "gap"])

    return detect_gaps


def seq_gap_monitor(events: DataFrame, threshold: int = 500) -> DataFrame:
    """events (streaming or batch-tested via availableNow) → gap rows.
    State is one bigint per user: bounded, shuffle only on user_id."""
    return events.groupBy("user_id").applyInPandasWithState(
        _gap_fn_factory(threshold),
        outputStructType=GAP_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _GapProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: identical semantics to
    `_gap_fn_factory`, with the carry-over in a typed ValueState slot."""

    def __init__(self, threshold: int) -> None:
        self._threshold = threshold

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._last = handle.getValueState("last_id", _STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prev = self._last.get()
        last_id = int(prev[0]) if prev is not None else None
        out: list[tuple] = []
        # Same chunk-spanning hazard as `_gap_fn_factory`: sort across ALL
        # Arrow chunks for the group, not within each one.
        ids = sorted(int(x) for pdf in rows for x in pdf["event_id"])
        for eid in ids:
            if last_id is not None and eid - last_id >= self._threshold:
                out.append((user_id, last_id, eid, eid - last_id))
            last_id = eid
        self._last.update((last_id,))
        yield pd.DataFrame(out, columns=["user_id", "prev_id", "event_id", "gap"])

    def close(self) -> None:
        pass


def tws_runtime_available() -> bool:
    """transformWithStateInPandas' state-server protocol needs `protobuf`
    at RUN time (plan construction does not). The sandbox image ships
    without it, so execution tests gate on this probe: real API use,
    environment-missing runtime."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def seq_gap_monitor_tws(events: DataFrame, threshold: int = 500) -> DataFrame:
    """The Spark-4 `transformWithStateInPandas` form of `seq_gap_monitor`:
    same per-user bigint state and append output, expressed through the
    StatefulProcessor lifecycle (init → handleInputRows → close) with
    processing-time mode off (timeMode="none") since eviction is by key
    activity, not clocks."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_GapProcessor(threshold),
        outputStructType=GAP_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
