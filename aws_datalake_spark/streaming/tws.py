"""Cumulative→delta on the transformWithState API (SURVEY.md ST4 /
A3, modern form).

``transformWithStateInPandas`` (Spark 4's arbitrary-stateful-
processing API, SPARK-46815) supersedes ``applyInPandasWithState``
with composable typed state (ValueState/ListState/MapState), state
TTL, timers, and initial-state bootstrap. This module carries the
reference's state-store semantics — per ``(_id, reference_id)`` key,
delta = current cumulative − stored cumulative, then store current
(/root/reference/transformation.py:78-241) — on that API, with two
production capabilities the old one couldn't express:

* **State TTL** — the reference's DynamoDB rows live forever; a 100
  TB stream over unbounded keys needs state that expires. ``ttl_ms``
  bounds every key's state lifetime (RocksDB-backed in production
  with changelog checkpointing).
* **Initial state** — bootstrap from the batch state table
  (operators/state_delta.py's upsert output) so a stream picks up
  where a backfill left off, via ``initialState=``.

Semantics twin: streaming/stateful.py (applyInPandasWithState) and
the batch join form; equality across the three is pinned in
tests/test_streaming.py.

Environment gate: transformWithState's python↔JVM state protocol
rides protobuf, and this harness image ships no ``google.protobuf``
(pip installs are off) — so the runtime tests skip here and run
wherever protobuf exists. The module itself imports and builds the
query plan without it; only stream START needs the dependency.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)


class _DeltaProcessor(StatefulProcessor):
    """Per-key: emit each row's metrics as deltas vs the stored
    cumulative; successive rows of one key chain within a batch
    (state advances row by row, like the reference's loop)."""

    def __init__(self, keys: list[str], metrics: list[str], ttl_ms=None):
        self._keys = keys
        self._metrics = metrics
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        schema = ", ".join(f"{m} long" for m in self._metrics)
        self._state = handle.getValueState("prev", schema, self._ttl_ms)

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            prev = dict(zip(self._metrics, self._state.get()))
        else:
            prev = {m: 0 for m in self._metrics}
        for pdf in rows:
            pdf = pdf.sort_index()
            out = pd.DataFrame(
                {k: [key[i]] * len(pdf) for i, k in enumerate(self._keys)}
            )
            for m in self._metrics:
                cur = pdf[m].fillna(0).astype("int64")
                base = pd.Series(
                    [prev[m]] + list(cur[:-1]), index=cur.index
                )
                out[m] = (cur - base).astype("int64")
                prev[m] = int(cur.iloc[-1])
            yield out
        self._state.update(tuple(prev[m] for m in self._metrics))

    def close(self) -> None:
        pass


def delta_tws_stream(
    stream_df: DataFrame,
    keys: list[str],
    metrics: list[str],
    ttl_ms: int | None = None,
    initial_state: DataFrame | None = None,
) -> DataFrame:
    """transformWithStateInPandas over ``keys``: each input row's
    metrics become deltas vs the stored cumulative. ``ttl_ms``
    expires idle keys' state; ``initial_state`` (a batch frame of
    ``keys + metrics`` cumulative rows, e.g. the persisted batch
    state table) seeds the store before the first micro-batch."""
    out_schema = ", ".join(
        [f"{k} long" for k in keys] + [f"{m} long" for m in metrics]
    )
    init_gd = None
    if initial_state is not None:
        init_gd = initial_state.groupBy(*keys)
    return stream_df.groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=_SeededDeltaProcessor(keys, metrics, ttl_ms)
        if initial_state is not None
        else _DeltaProcessor(keys, metrics, ttl_ms),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
        initialState=init_gd,
    )


class _SeededDeltaProcessor(_DeltaProcessor):
    """Adds the initial-state hook: the bootstrap rows carry the
    last-known CUMULATIVE per key, stored verbatim so the first
    streamed row deltas against the backfill."""

    def handleInitialState(self, key, initialState, timerValues) -> None:
        row = initialState.iloc[0]
        self._state.update(tuple(int(row[m]) for m in self._metrics))
