"""Custom stateful streaming operator (SURVEY.md §2.8 extension; the
driver north star names ``applyInPandasWithState`` for operators the
built-in windows can't express).

``running_user_totals`` keeps one (n_events, sum_value) accumulator per
user in the state store and emits the updated totals every micro-batch —
the streaming analogue of a running groupBy that the reference's
append-only snapshot model implies (scrap_tokopedia.py:81-91: each run
appends rows; consumers want per-key running aggregates without
rescanning history).

Scale posture: state is partitioned by the group key across executors,
the per-batch work is Arrow-batched pandas, and state size is bounded by
|distinct keys| x a fixed-width struct — no per-event state growth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])

# The value accumulator is an INTEGER count of value-micros
# (floor(value*1e6) per row): exact, commutative, and identical to the
# batch plan's integer sum — streaming and batch agree with NO float
# tolerance, regardless of micro-batch boundaries or arrival order.
STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("s_micros", T.LongType()),
])


def running_user_totals(events: DataFrame, key_col: str = "user_id",
                        value_col: str = "value") -> DataFrame:
    """Streaming frame -> per-key running (count, sum) via
    applyInPandasWithState; batch frame -> the equivalent one-shot
    groupBy (unified-model fallback, what the tests compare against)."""
    if not events.isStreaming:
        # Per-row floor(value*1e6) integer sum: floor of a double is a
        # pure IEEE op (bit-identical in any engine) and integer
        # addition is exact and commutative, so the batch result is
        # bit-stable across runs/partitionings and equals the streaming
        # path's accumulator exactly.
        # coalesce: a group whose values are ALL null sums to NULL in
        # SQL but to 0 in the streaming integer accumulator — pin both
        # paths to 0 so they agree exactly.
        return (events.groupBy(key_col)
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.coalesce(
                         F.sum(F.floor(F.col(value_col) * 1000000)
                                .cast("decimal(38,0)"))
                          .cast("double") / F.lit(1000000.0),
                         F.lit(0.0)).alias("sum_value"))
                .select(F.col(key_col).alias("user_id"), "n_events", "sum_value"))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        n, s_micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # np.floor on float64 == SQL floor on DOUBLE: same IEEE op,
            # so the streaming accumulator matches the batch plan's
            # integer sum bit for bit. NULL values arrive as NaN — the
            # batch F.sum skips them (contributes 0), so mask them out
            # here too instead of letting int(NaN) raise.
            v = pdf[value_col].to_numpy(dtype="float64")
            v = v[~np.isnan(v)]
            # astype int64 BEFORE summing: np.floor yields float64, and
            # a float64 sum silently rounds once a batch's micro-total
            # exceeds 2^53 — breaking the exact streaming==batch
            # invariant the state schema exists for (r4 advice).
            s_micros += int(np.floor(v * 1000000.0).astype("int64").sum())
        state.update((n, s_micros))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [s_micros / 1000000.0]})

    return (events.select(key_col, value_col)
            .groupBy(key_col)
            .applyInPandasWithState(update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def sessionize_closed(events: DataFrame, gap_sec: int = 1800,
                      key_col: str = "user_id", ts_col: str = "ts",
                      value_col: str = "value",
                      order_col: str = "event_id") -> DataFrame:
    """Gap-close streaming sessionizer via ``applyInPandasWithState``,
    the streaming twin of the batch ``sessionize_events`` plan. The
    GroupState API needs no protobuf (Spark's newer
    ``transformWithStateInPandas`` does), so it runs here. One
    fixed-width open-session row per key in the state store; an event
    more than ``gap_sec`` past the key's last event CLOSES the open
    session and emits it. Sessions still open when input ends stay in
    state, so with an availableNow harness the emitted set is exactly
    the batch plan's non-final sessions per key — which is what the
    batch fallback below returns (unified model, oracle-checkable).

    Scale posture: state is hash-partitioned by key across executors and
    bounded at one row per distinct key; per-batch work is Arrow-batched
    pandas. The batch fallback reuses ONE shuffle on the key for both
    window passes, the session aggregation, and the final last-session
    filter (the last window runs over the already-aggregated per-session
    rows — orders of magnitude smaller than the event stream).

    Value totals accumulate per-row ``floor(value*1e6)`` int64 micros on
    both paths (NaN -> 0, matching batch coalesce-to-0), so streaming
    equals batch exactly — no float tolerance. Reference analog: the
    polling/incremental scrape idiom (SCRAPER:116-129) — close out a
    unit of work when the stream goes quiet for the gap interval.
    """
    if not events.isStreaming:
        from pyspark.sql import Window
        epoch = F.col(ts_col).cast("long")
        lag_epoch = F.lag(epoch).over(
            Window.partitionBy(key_col).orderBy(ts_col, order_col))
        flagged = events.select(
            key_col, ts_col, order_col, value_col,
            F.when(lag_epoch.isNull() | ((epoch - lag_epoch) > gap_sec), 1)
             .otherwise(0).alias("new_session"))
        run = (Window.partitionBy(key_col).orderBy(ts_col, order_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        numbered = flagged.withColumn("sid", F.sum("new_session").over(run))
        sess = (numbered.groupBy(key_col, "sid")
                .agg(F.min(epoch).alias("session_start_sec"),
                     F.count(F.lit(1)).alias("n_events"),
                     (F.max(epoch) - F.min(epoch)).alias("duration_sec"),
                     F.coalesce(
                         F.sum(F.floor(F.col(value_col) * 1000000)
                                .cast("decimal(38,0)"))
                          .cast("double") / F.lit(1000000.0),
                         F.lit(0.0)).alias("session_value")))
        last = Window.partitionBy(key_col)
        return (sess.withColumn("last_sid", F.max("sid").over(last))
                .filter(F.col("sid") < F.col("last_sid"))
                .select(F.col(key_col).alias("user_id"),
                        "session_start_sec", "n_events", "duration_sec",
                        "session_value"))

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = T.StructType([
        T.StructField("start_sec", T.LongType()),
        T.StructField("last_sec", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("v_micros", T.LongType()),
    ])

    def update(key: tuple, pdfs, state: GroupState):
        frames = [pdf for pdf in pdfs if not pdf.empty]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values([ts_col])
        secs = (pd.to_datetime(pdf[ts_col], utc=True)
                .astype("int64") // 1_000_000_000).to_numpy()
        raw = pdf[value_col].to_numpy(dtype="float64")
        vals = np.where(np.isnan(raw), 0.0,
                        np.floor(raw * 1000000.0)).astype("int64")
        start, last, n, v = (state.get if state.exists
                             else (None, None, 0, 0))
        closed = []
        for sec, v_mu in zip(secs.tolist(), vals.tolist()):
            if start is None:
                start, last, n, v = sec, sec, 1, v_mu
            elif sec - last > gap_sec:
                closed.append((key[0], start, n, last - start,
                               v / 1000000.0))
                start, last, n, v = sec, sec, 1, v_mu
            else:
                last, n, v = sec, n + 1, v + v_mu
        state.update((start, last, n, v))
        if closed:
            yield pd.DataFrame(
                closed, columns=[c.name for c in SESSION_OUTPUT_SCHEMA])

    return (events.select(key_col, ts_col, value_col)
            .groupBy(key_col)
            .applyInPandasWithState(update, SESSION_OUTPUT_SCHEMA,
                                    state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start_sec", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("duration_sec", T.LongType()),
    T.StructField("session_value", T.DoubleType()),
])

