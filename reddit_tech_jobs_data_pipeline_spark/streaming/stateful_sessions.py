"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

This is the escape hatch for session semantics the built-in
``session_window`` can't express (per-session custom payloads, early
emission rules, cross-batch carry-over with explicit state). State per
user = (session_seq, last_ts, n_events, total_value, first_ts); a
micro-batch extends or closes sessions; closed sessions are emitted,
the open one is carried in the GroupState. A processing-time timeout
flushes idle users' open sessions.

Scale notes: state is keyed by user — bounded by active-user cardinality,
not event volume; each micro-batch touches only keys present in the batch
plus timed-out keys; Arrow batches keep the Python hop amortized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("span_sec", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_seq", T.LongType()),
        T.StructField("first_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def make_session_fn(gap_seconds: int = 1800, timeout_ms: int | None = None):
    """Build the (key, pdf_iter, state) -> pdf_iter function for
    ``applyInPandasWithState``; factored out so batch tests can drive it.

    ``timeout_ms`` enables processing-time flushing of idle users' open
    sessions — for continuously-running deployments. Leave None for
    bounded replays (availableNow): a processing-time timeout keeps
    scheduling wake-up micro-batches and the run never drains."""

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                seq, first_ts, last_ts, n, tot = state.get
                state.remove()
                yield pd.DataFrame(
                    [
                        {
                            "user_id": user_id,
                            "session_seq": seq,
                            "n_events": n,
                            "span_sec": int(last_ts - first_ts),
                            "total_value": round(tot, 2),
                            "closed": True,
                        }
                    ]
                )
            return

        events = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
        if state.exists:
            seq, first_ts, last_ts, n, tot = state.get
        else:
            seq, first_ts, last_ts, n, tot = 0, None, None, 0, 0.0

        out = []
        for _, row in events.iterrows():
            t = row["ts"].timestamp()
            if last_ts is not None and t - last_ts > gap_seconds:
                out.append(
                    {
                        "user_id": user_id,
                        "session_seq": seq,
                        "n_events": n,
                        "span_sec": int(last_ts - first_ts),
                        "total_value": round(tot, 2),
                        "closed": True,
                    }
                )
                seq, first_ts, n, tot = seq + 1, t, 0, 0.0
            if first_ts is None:
                first_ts = t
            last_ts = t
            n += 1
            tot += float(row["value"])

        state.update((seq, first_ts, last_ts, n, tot))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(out)

    return update


def streaming_sessionize(
    events: DataFrame, gap_seconds: int = 1800, timeout_ms: int | None = None
) -> DataFrame:
    """events stream -> closed-session stream. With ``timeout_ms`` set,
    idle users' open sessions flush on processing-time timeout (long-lived
    deployments); without it, open sessions stay in state (bounded
    replays)."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_session_fn(gap_seconds, timeout_ms),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4's arbitrary-state API, successor to
# applyInPandasWithState): typed state handles, timers, TTL — the same
# sessionizer niche with a managed-state object model instead of one
# GroupState blob.
# ---------------------------------------------------------------------------


def run_tws_user_stats_batchlike(
    spark, sf_dir: str, name: str = "tws_user_stats"
):
    """Per-user running stats via ``transformWithStateInPandas``: a
    StatefulProcessor with ONE typed ValueState (n_events, max_value),
    updated per micro-batch, emitting the running value in Update mode.
    Over the finite availableNow replay the final emission per user
    equals the batch aggregate — oracle-checkable. Outputs are
    order-independent (count + max), so the check is exact, not
    tolerance-based. Requires the RocksDB state store provider (set
    per-run, restored after)."""
    import pandas as pd  # noqa: F811

    # transformWithState's Python runner speaks protobuf to the JVM; a
    # sandbox without a working google.protobuf cannot run it (this is
    # the documented environment gate — the code below is the correct
    # production usage, verified wherever protobuf exists)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf, which this "
            "environment lacks; use streaming_sessionize (applyInPandasWithState) "
            "for the protobuf-free stateful path"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from reddit_tech_jobs_data_pipeline_spark.streaming import runner
    from reddit_tech_jobs_data_pipeline_spark.streaming.events import (
        read_events_stream,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats", "n LONG, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            mx = None
            for pdf in rows:
                n += len(pdf)
                m = pdf["value"].max()
                mx = m if mx is None else max(mx, m)
            if self._st.exists():
                old_n, old_mx = self._st.get()
                n += old_n
                mx = old_mx if mx is None else max(mx, old_mx)
            self._st.update((n, float(mx)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [float(mx)]}
            )

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, sf_dir).select("user_id", "value")
        out = ev.groupBy("user_id").transformWithStateInPandas(
            UserStats(),
            outputStructType="user_id LONG, n_events LONG, max_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
        res = runner.drain_to_memory(out, name, "update")
        # update mode emits one row per key per batch; the LAST emission
        # per key is the running total over the whole replay
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        return (
            res.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", F.round("max_value", 2).alias("max_value"))
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
