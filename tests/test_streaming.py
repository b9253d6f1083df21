"""Structured Streaming tests (SURVEY.md §2.8): the window builders run
in REAL streaming mode — file source, availableNow trigger, memory sink
— and must agree with their batch-mode results (unified model).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unilever_scraping_etl_spark.schemas import load_table
from unilever_scraping_etl_spark.streaming import windows as W

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_source(spark, tmp_path_factory):
    """Re-materialize events as a parquet dir Spark can stream from
    (readStream needs a directory + explicit schema)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    batch = load_table(spark, SF_SMOKE, "events")
    batch.write.mode("overwrite").parquet(path)
    return path, batch


def _run_stream(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _run_stream_append(spark, stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _assert_same(batch_df, stream_df):
    b = sorted(map(tuple, batch_df.collect()))
    s = sorted(map(tuple, stream_df.collect()))
    assert b == s


def test_tumbling_stream_equals_batch(spark, events_stream_source):
    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(spark, W.tumbling_counts(src), "t_tumbling")
    _assert_same(W.tumbling_counts(batch), out)


def test_session_window_stream_equals_batch(spark, events_stream_source):
    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(spark, W.session_counts(src), "t_session")
    _assert_same(W.session_counts(batch), out)


def test_watermarked_stream_runs(spark, events_stream_source):
    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    wm = W.watermarked_tumbling(src)
    q = (wm.writeStream.format("memory").queryName("t_wm")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a single
    # availableNow batch the final window may be withheld — size bound:
    n_stream = spark.table("t_wm").count()
    n_batch = W.watermarked_tumbling(batch).count()
    assert 0 <= n_stream <= n_batch


def test_stream_to_parquet_sink_with_checkpoint(spark, events_stream_source, tmp_path):
    """File sink + checkpoint: the durable end of the streaming pipeline
    (exactly-once via checkpointed offsets + file-manifest commits).
    Restarting the query from the same checkpoint must not duplicate."""
    path, batch = events_stream_source
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        src = spark.readStream.schema(batch.schema).parquet(path)
        q = (src.filter(F.col("event_type") == "purchase")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    run_once()  # no new input -> checkpoint prevents reprocessing
    got = spark.read.parquet(out).count()
    want = batch.filter(F.col("event_type") == "purchase").count()
    assert got == want


def test_apply_in_pandas_with_state_running_totals(spark, events_stream_source):
    """Custom stateful operator: the streaming path's final per-user
    state must equal the batch groupBy (one availableNow batch sees all
    rows, so 'update' output has exactly one row per user)."""
    from unilever_scraping_etl_spark.streaming.stateful import running_user_totals

    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    q = (running_user_totals(src).writeStream.format("memory")
         .queryName("t_state").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
           for r in spark.table("t_state").collect()}
    want = {r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
            for r in running_user_totals(batch).collect()}
    assert got == want


def test_stream_static_enrich_equals_batch(spark, events_stream_source):
    """Stream-static broadcast enrichment join must reproduce the batch
    join exactly — the static dim is stateless and re-read per
    micro-batch."""
    path, batch = events_stream_source
    dim = (load_table(spark, SF_SMOKE, "customer")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    src = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream(spark, W.static_enrich_counts(src, dim), "t_enrich")
    _assert_same(W.static_enrich_counts(batch, dim), out)


def test_stream_stream_interval_join(spark, events_stream_source):
    """Stream-stream interval join must reproduce the batch interval
    join when one availableNow batch carries all rows (watermarks bound
    state, and nothing is late in a single batch)."""
    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream_append(spark, W.clicks_to_purchases(src), "t_ssjoin")
    _assert_same(W.clicks_to_purchases(batch), out)


def test_stateful_dedup_stream(spark, events_stream_source):
    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    dd = W.stateful_dedup(src, ["user_id", "event_type"])
    q = (dd.writeStream.format("memory").queryName("t_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("t_dedup").count()
    exact = batch.dropDuplicates(["user_id", "event_type"]).count()
    # within-watermark dedup can only keep >= the exact-distinct count
    assert got >= exact
    assert got <= batch.count()


def test_stream_foreach_batch_upsert_snapshot(spark, events_stream_source,
                                              tmp_path):
    """foreachBatch + day-partition upsert: each micro-batch rewrites
    exactly the createdate partitions it touches (dynamic partition
    overwrite), so a replayed batch — the at-least-once case foreachBatch
    must tolerate — converges to the same table instead of duplicating.
    This is the streaming face of ingest.upsert_snapshot."""
    from unilever_scraping_etl_spark.sources.ingest import upsert_snapshot

    path, batch = events_stream_source
    out = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def sink(bdf, _epoch):
        day = bdf.select("event_id", "user_id", "value",
                         F.to_date("ts").alias("createdate"))
        upsert_snapshot(day, out)
        upsert_snapshot(day, out)  # simulated replay of the same batch

    src = spark.readStream.schema(batch.schema).parquet(path)
    q = (src.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_apply_in_pandas_with_state_sessionize_closed(
        spark, events_stream_source):
    """The in-container sessionizer (applyInPandasWithState, no protobuf
    needed) run in REAL streaming mode: with one availableNow batch its
    emitted (closed) sessions must equal the batch fallback EXACTLY —
    same gap rule, same integer-micros accumulation, no float
    tolerance."""
    from unilever_scraping_etl_spark.streaming.stateful import (
        sessionize_closed)

    path, batch = events_stream_source
    src = spark.readStream.schema(batch.schema).parquet(path)
    out = _run_stream_append(
        spark, sessionize_closed(src, gap_sec=1800), "t_aipws_sess")
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, sessionize_closed(batch, gap_sec=1800)
                      .collect()))
    assert got == want
    assert len(got) > 0  # sf0.001 events must actually close sessions


def test_running_totals_stream_tolerates_null_values(spark, tmp_path):
    """NULL values arrive in the Arrow batch as NaN: the integer-micros
    accumulator must skip them (matching batch F.sum's null-skipping)
    instead of raising int(NaN); an all-null group pins to 0.0 on both
    paths."""
    from unilever_scraping_etl_spark.streaming.stateful import (
        running_user_totals)

    batch = spark.createDataFrame(
        [(1, 1.5), (1, None), (2, None), (2, None), (3, 0.25)],
        "user_id long, value double")
    path = str(tmp_path / "null_events")
    batch.write.parquet(path)
    src = spark.readStream.schema(batch.schema).parquet(path)
    q = (running_user_totals(src).writeStream.format("memory")
         .queryName("t_null_state").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in spark.table("t_null_state").collect()}
    want = {r["user_id"]: (r["n_events"], r["sum_value"])
            for r in running_user_totals(batch).collect()}
    assert got == want == {1: (2, 1.5), 2: (2, 0.0), 3: (1, 0.25)}
