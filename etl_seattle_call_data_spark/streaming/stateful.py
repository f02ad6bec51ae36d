"""Stateful streaming operators (T6 — absent in the reference, which is
stateless `foreachBatch` only; consumer_cassandra.py:198-226).

Three capability tiers, each the idiomatic Spark construct for its job:

* ``dedup_stream`` — exactly-once-per-key within the watermark horizon
  via built-in ``dropDuplicates`` (state store managed by Spark; the
  watermark bounds state size, which is what makes this viable on an
  unbounded 100 TB/day stream).
* ``sessionized_counts`` — event-time session windows via the native
  ``session_window`` aggregation (merging windows, watermark eviction).
* ``running_user_stats`` — custom per-key state with
  ``applyInPandasWithState``: arbitrary Python state logic over Arrow
  batches, with processing-time timeout for idle-key eviction. The
  escape hatch for semantics the built-in operators can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(df: DataFrame, key: str, ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Drop re-delivered records by key. Uses
    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates([key])``
    with the event-time column absent from the subset NEVER evicts state
    (the watermark only bounds state when the subset contains the
    event-time column), so state would grow with every distinct key ever
    seen. The within-watermark variant evicts a key's state once the
    watermark passes its last-seen event time, so state is O(keys per
    horizon), not O(stream) — the property that makes this viable on an
    unbounded stream. (Trade: a duplicate arriving later than the
    watermark horizon after its original is re-emitted — the documented
    bound.)"""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def sessionized_counts(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key session aggregation: sessions close after ``gap`` of
    inactivity, finalized once the watermark passes. The streaming
    counterpart of the batch lag/cumsum sessionization
    (plans/behavior.py::q_sessionization)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            key,
            "n_events",
            "session_start",
            "session_end",
            F.col("session.start").alias("window_start"),
            F.col("session.end").alias("window_end"),
        )
    )


RUNNING_STATS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

RUNNING_STATS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _make_update_fn(idle_timeout_ms: int | None):
    def update(key, pdf_iter, state: GroupState):
        """Per-key update: fold each Arrow batch into (count, sum) state
        and emit the updated running totals once per micro-batch."""
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return update


def running_user_stats(
    df: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Running per-user (count, sum) maintained in custom group state —
    the ``applyInPandasWithState`` pattern for operators the built-in
    windowed aggregations can't express (e.g. decayed counters, model
    state). Arrow-batched: state logic runs once per key per micro-batch,
    not per row.

    ``idle_timeout_ms`` evicts keys idle that long (bounds state on an
    unbounded key space). Leave None for tests/bounded runs: a
    processing-time timeout makes the query schedule micro-batches
    continuously, so ``processAllAvailable()`` never settles."""
    return (
        df.select(F.col(key), F.col(value_col).alias("value"))
        .groupBy(key)
        .applyInPandasWithState(
            _make_update_fn(idle_timeout_ms),
            outputStructType=RUNNING_STATS_OUTPUT,
            stateStructType=RUNNING_STATS_STATE,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# --------------------------------------------------------------------------
# Spark 4 arbitrary-state API: transformWithStateInPandas


def running_totals_tws(df: DataFrame, key: str = "user_id", value_col: str = "value") -> DataFrame:
    """Running per-key totals via ``transformWithStateInPandas`` — the
    Spark 4 successor to applyInPandasWithState: typed state handles
    (ValueState/ListState/MapState), timers, and a processor lifecycle
    instead of one update function. State lives in the RocksDB state
    store provider (required by this API), which scales state past
    executor memory — the 100 TB posture for unbounded key spaces.
    Same Arrow batching: the processor sees pandas chunks per key per
    micro-batch, never per-row Python.

    Environment note: the TWS driver worker requires ``google.protobuf``
    (it speaks proto to the state server); containers without it crash
    the worker at import — tests/test_streaming_stateful.py skips there
    and applyInPandasWithState covers the same semantics."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql import types as T

    class RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("total", T.DoubleType()),
                ]
            )
            self._state = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            prior = self._state.get() if self._state.exists() else (0, 0.0)
            n, total = int(prior[0]), float(prior[1])
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        df.select(F.col(key), F.col(value_col).alias("value"))
        .groupBy(key)
        .transformWithStateInPandas(
            statefulProcessor=RunningTotal(),
            outputStructType=RUNNING_STATS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )
