"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only 'state' is its global mutex-guarded maps
(main.cc:16-18,28); in streaming those become per-key GroupState. This
module implements a running per-user aggregate (event count + value sum +
last-seen µs) that survives across micro-batches — the canonical shape for
custom sessionization, CDC, or feature backfill operators that
``groupBy().agg()`` can't express.

Scale: state is per-key and RocksDB-backed on clusters; the timeout config
(here processing-time) is what bounds state for keys that go quiet.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def _update(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_ts_us": [last_us],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming running totals per user. ``events`` needs ``user_id``,
    ``value``, and ``ts_us`` (µs long) columns."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- transformWithState (Spark 4 arbitrary-state v2) ------------------------


class RunningTotalsProcessor(StatefulProcessor):
    """transformWithStateInPandas version of the running per-user
    aggregate — the v2 state API: typed named state (ValueState here;
    ListState/MapState/timers available), explicit init/close
    lifecycle, RocksDB-backed on clusters. Strictly more expressive
    than applyInPandasWithState (multiple independent state variables,
    event-time timers) — the v2 surface for the reference's A20
    pluggable-reducer contract."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, total, last_us = (
            self._state.get() if self._state.exists() else (0, 0.0, 0)
        )
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts_us"].max()))
        self._state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_ts_us": [last_us],
            }
        )

    def close(self) -> None:
        pass


def running_user_totals_v2(events: DataFrame) -> DataFrame:
    """Same contract as running_user_totals, on the v2 state engine."""
    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
