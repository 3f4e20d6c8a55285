"""The reference's one stateful computation, in batch and streaming form.

Reference (main.rs:107-130 / tick.rs:66-89): per-symbol running
``(cumbuy, cumsell)`` volume totals updated on every tick —
``cumbuy += volume if type=="B"``, ``cumsell += volume if type=="S"``,
``cumdelta = cumbuy - cumsell`` — zeroed when the day rolls over
(epoch//86400 increases, main.rs:109-120), and EMITTED ON EVERY ROW
(per-event running value, not a final aggregate).

The reference's reset is arrival-order-dependent (one global last-date
shared across symbols; SURVEY.md §1.4 quirk 2).  Both forms below
implement the deterministic intent: state scoped per (symbol, UTC day).

* :func:`cumulative_batch` — window frame partitioned by
  (symbol, day): one shuffle, in-partition sort, codegen'd running sum.
  This is also the ORACLE for the streaming form in tests.
* :func:`cumulative_streaming` — ``applyInPandasWithState`` keyed by
  (symbol, day): state is two floats per key; day-in-the-key makes the
  reset implicit (a new day is a new key, old keys expire via TTL
  timeout).  Emits one output row per input row (update mode), exactly
  like the reference's per-tick insert.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: B/S match arms of the reference (main.rs:124-128).
BUY, SELL = "B", "S"


def _conditional_cols():
    buy = F.when(F.col("trade_type") == BUY, F.col("volume")).otherwise(F.lit(0))
    sell = F.when(F.col("trade_type") == SELL, F.col("volume")).otherwise(F.lit(0))
    return buy, sell


def cumulative_batch(ticks: DataFrame,
                     order_cols: tuple[str, ...] = ("time",)) -> DataFrame:
    """Batch/deterministic form: running per-(symbol, day) sums emitted
    per row.  ``order_cols`` should end with a unique tiebreaker when
    exact-duplicate timestamps are possible."""
    buy, sell = _conditional_cols()
    w = (
        Window.partitionBy("symbol", F.to_date("time"))
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ticks.withColumn("cumbuy", F.sum(buy).over(w).cast("int"))
        .withColumn("cumsell", F.sum(sell).over(w).cast("int"))
        .withColumn("cumdelta", (F.col("cumbuy") - F.col("cumsell")).cast("int"))
    )


#: Streaming state: the reference's HashMap value tuple (i32, i32)
#: (main.rs:207).
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cumbuy", T.LongType()),
        T.StructField("cumsell", T.LongType()),
    ]
)


def _with_day(ticks: DataFrame) -> DataFrame:
    return ticks.withColumn("day", F.to_date("time"))


def _running_sums(pdfs: Iterator[pd.DataFrame], cumbuy: int,
                  cumsell: int) -> pd.DataFrame:
    """Replay the reference's per-tick fold (main.rs:122-130) over one
    (symbol, day) group's rows of a micro-batch, continuing from the
    stored ``(cumbuy, cumsell)``.  The group's Arrow chunks are joined
    BEFORE the event-time sort: a group larger than
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` arrives as several
    chunks in arrival order, so sorting each chunk on its own would
    fold a late chunk's earlier ticks after an early chunk's later
    ones."""
    pdf = pd.concat(list(pdfs), ignore_index=True)
    sort_cols = [c for c in ("time", "seq") if c in pdf.columns]
    pdf = pdf.sort_values(sort_cols, kind="mergesort")
    buys = (pdf["trade_type"] == BUY) * pdf["volume"]
    sells = (pdf["trade_type"] == SELL) * pdf["volume"]
    pdf["cumbuy"] = (buys.cumsum() + cumbuy).astype("int64")
    pdf["cumsell"] = (sells.cumsum() + cumsell).astype("int64")
    pdf["cumdelta"] = pdf["cumbuy"] - pdf["cumsell"]
    return pdf


def _cum_update_factory(ttl_ms: int | None):
    """Build the per-(symbol, day) state-update function over
    :func:`_running_sums`.  ``ttl_ms`` arms a processing-time timeout
    that expires idle day keys (continuous deployments); ``None``
    leaves timeouts unset (bounded drains)."""

    def _cum_update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # an idle day key reached its TTL: Spark calls with no rows
            state.remove()
            return
        cumbuy, cumsell = state.get if state.exists else (0, 0)
        pdf = _running_sums(pdfs, cumbuy, cumsell)
        state.update((int(pdf["cumbuy"].iloc[-1]),
                      int(pdf["cumsell"].iloc[-1])))
        if ttl_ms is not None:
            # Key = (symbol, day): a new day is a fresh key ⇒ implicit
            # daily reset; expired days drop after ttl of no activity.
            state.setTimeoutDuration(ttl_ms)
        yield pdf

    return _cum_update


def cumulative_streaming_tws(ticks: DataFrame) -> DataFrame:
    """Spark-4 ``transformWithStateInPandas`` form of
    :func:`cumulative_streaming` — same semantics, newer state API
    (explicit ValueState handle + TTL instead of GroupState timeouts).

    NOTE: the TWS driver worker needs a functional ``google.protobuf``
    Python package; environments without it (like this CI container)
    fail at stream start with STREAMING_PYTHON_RUNNER_INITIALIZATION_
    FAILURE — use :func:`cumulative_streaming` there.  The parity test
    skips itself when protobuf is unavailable."""
    from level2_to_cassandra_spark.session import ensure_package_on_workers
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ensure_package_on_workers(ticks.sparkSession)
    with_day = _with_day(ticks)
    out_schema = T.StructType(
        with_day.schema.fields
        + [
            T.StructField("cumbuy", T.LongType()),
            T.StructField("cumsell", T.LongType()),
            T.StructField("cumdelta", T.LongType()),
        ]
    )

    class CumSum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "cums", _STATE_SCHEMA, ttlDurationMs=36 * 3600 * 1000
            )

        def handleInputRows(self, key, rows, timerValues):
            cumbuy, cumsell = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            pdf = _running_sums(rows, cumbuy, cumsell)
            self._state.update((int(pdf["cumbuy"].iloc[-1]),
                                int(pdf["cumsell"].iloc[-1])))
            yield pdf

        def close(self) -> None:
            pass

    return with_day.groupBy("symbol", "day").transformWithStateInPandas(
        statefulProcessor=CumSum(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def cumulative_streaming(ticks: DataFrame,
                         state_ttl_hours: int | None = 36) -> DataFrame:
    """Streaming form over a stream of parsed ticks (schema of
    ingest.parse_tick).  Emits one row per input row with
    cumbuy/cumsell/cumdelta appended — update semantics, matching the
    reference's insert-per-tick (main.rs:155-165).

    ``state_ttl_hours`` arms a processing-time timeout that expires
    idle (symbol, day) keys — REQUIRED for continuous deployments or
    state grows by one key per symbol per day forever.  Pass ``None``
    for bounded ``availableNow`` drains: their state dies with the
    query, and pending processing-time timeouts would keep the drain
    alive in no-data state-cleanup micro-batches until the timeout
    fires (hours later) instead of terminating."""
    from level2_to_cassandra_spark.session import ensure_package_on_workers

    ensure_package_on_workers(ticks.sparkSession)
    with_day = _with_day(ticks)
    out_schema = T.StructType(
        with_day.schema.fields
        + [
            T.StructField("cumbuy", T.LongType()),
            T.StructField("cumsell", T.LongType()),
            T.StructField("cumdelta", T.LongType()),
        ]
    )
    ttl_ms = None if state_ttl_hours is None else state_ttl_hours * 3600 * 1000
    return with_day.groupBy("symbol", "day").applyInPandasWithState(
        _cum_update_factory(ttl_ms),
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
