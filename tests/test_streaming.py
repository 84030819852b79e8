"""Structured Streaming tests: the live watermarked pipelines must produce
exactly the batch-equivalent results (stream/batch parity), run under
Trigger.AvailableNow with a memory sink."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.sources.loaders import load_table
from healthcare_data_warehouse_spark.streaming.pipelines import (
    read_event_stream,
    run_stream_to_memory,
    streaming_dedup,
    streaming_tumbling_hourly,
    tumbling_hourly,
)

from conftest import SF_SMOKE


def _canon(rows):
    return sorted(
        (r["window_start"], r["event_type"], r["cnt"], r["total_value"]) for r in rows
    )


def test_stream_source_is_streaming(spark):
    assert read_event_stream(spark, SF_SMOKE).isStreaming


def test_tumbling_stream_matches_batch(spark):
    stream_result = run_stream_to_memory(
        streaming_tumbling_hourly(spark, SF_SMOKE), "t_tumbling"
    )
    batch_result = tumbling_hourly(load_table(spark, SF_SMOKE, "events"))
    assert _canon(stream_result.collect()) == _canon(batch_result.collect())


def test_streaming_dedup_matches_distinct(spark):
    stream_result = run_stream_to_memory(
        streaming_dedup(spark, SF_SMOKE), "t_dedup", output_mode="append"
    )
    n_stream = stream_result.count()
    n_batch = load_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert n_stream == n_batch


def test_watermark_in_plan(spark):
    df = streaming_tumbling_hourly(spark, SF_SMOKE, watermark="2 hours")
    assert "EventTimeWatermark" in df._jdf.queryExecution().logical().toString()


def test_stream_static_enrich_matches_batch(spark):
    from healthcare_data_warehouse_spark.streaming.pipelines import (
        enrich_with_segment,
        streaming_enrich_segment,
    )

    stream_result = run_stream_to_memory(
        streaming_enrich_segment(spark, SF_SMOKE), "t_enrich"
    )
    batch_result = enrich_with_segment(
        load_table(spark, SF_SMOKE, "events"),
        load_table(spark, SF_SMOKE, "customer"),
    )
    canon = lambda rows: sorted(  # noqa: E731
        (r["window_start"], r["segment"], r["cnt"], r["total_value"]) for r in rows
    )
    assert canon(stream_result.collect()) == canon(batch_result.collect())


def test_stream_stream_funnel_matches_batch(spark):
    from healthcare_data_warehouse_spark.streaming.pipelines import (
        funnel_pairs,
        streaming_funnel_pairs,
    )

    stream_df = streaming_funnel_pairs(spark, SF_SMOKE)
    assert stream_df.isStreaming
    stream_result = run_stream_to_memory(stream_df, "t_funnel", output_mode="append")
    batch_result = funnel_pairs(load_table(spark, SF_SMOKE, "events"))
    canon = lambda rows: sorted(  # noqa: E731
        (r["user_id"], r["click_id"], r["purchase_id"]) for r in rows
    )
    assert canon(stream_result.collect()) == canon(batch_result.collect())


def test_streaming_trending_topk_matches_batch(spark, tmp_path):
    """The foreachBatch-ranked leaderboard equals the batch twin: with
    AvailableNow the final micro-batch snapshot IS the full aggregate,
    so the overwritten sink must match rank-over-batch exactly."""
    from healthcare_data_warehouse_spark.streaming.pipelines import (
        streaming_trending_topk,
        trending_topk,
    )

    out = str(tmp_path / "trending")
    stream_result = streaming_trending_topk(spark, SF_SMOKE, out)
    batch = trending_topk(tumbling_hourly(load_table(spark, SF_SMOKE, "events")))
    canon = lambda rows: sorted(  # noqa: E731
        (r["window_start"], r["event_type"], r["cnt"], r["rnk"]) for r in rows)
    got = stream_result.withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz"))
    want = batch.withColumn(
        "window_start", F.col("window_start").cast("timestamp_ntz"))
    assert canon(got.collect()) == canon(want.collect())
    assert all(r.rnk <= 3 for r in stream_result.collect())


def test_funnel_outer_stream_matches_batch_twin(spark):
    from healthcare_data_warehouse_spark.sources.loaders import load_table
    from healthcare_data_warehouse_spark.streaming.pipelines import (
        funnel_outcomes,
        run_stream_to_memory,
        streaming_funnel_outcomes,
    )

    stream = run_stream_to_memory(
        streaming_funnel_outcomes(spark, SF_SMOKE), "t_funnel_outer",
        output_mode="append",
    )
    batch = funnel_outcomes(load_table(spark, SF_SMOKE, "events"))
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    # both outcome classes are present, or the twin is vacuous
    assert any(r[3] for r in s) and any(not r[3] for r in s)


def test_interval_join_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume for the STREAM-STREAM interval join: a click whose
    purchase arrives only AFTER the restart must still pair — the join
    state (buffered clicks awaiting matches) lives in the checkpoint and
    must be recovered by the second query incarnation; and pairs emitted
    by the first incarnation must not re-emit. This is the stateful
    analog of test_checkpoint_restart_is_exactly_once (which pins the
    stateless source-offset contract)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_events(name, rows):
        pq.write_table(
            pa.table({
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array([t0 + dt.timedelta(minutes=r[1]) for r in rows],
                               type=pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
            }),
            str(src / name))

    def run_once():
        ev = (spark.readStream
              .schema("event_id long, ts timestamp_ntz, user_id long,"
                      " event_type string")
              .parquet(str(src))
              .withColumn("ts", F.col("ts").cast("timestamp")))
        clicks = (ev.filter(F.col("event_type") == "click")
                  .select("user_id", F.col("event_id").alias("click_id"),
                          F.col("ts").alias("click_ts"))
                  .withWatermark("click_ts", "2 hours"))
        purchases = (ev.filter(F.col("event_type") == "purchase")
                     .select(F.col("user_id").alias("p_user_id"),
                             F.col("event_id").alias("purchase_id"),
                             F.col("ts").alias("purchase_ts"))
                     .withWatermark("purchase_ts", "2 hours"))
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        ).select("user_id", "click_id", "purchase_id")
        q = (joined.writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    # Incarnation 1: user 1 converts immediately; user 2's click stays
    # buffered in join state (no purchase yet).
    write_events("a.parquet", [
        (100, 0, 1, "click"), (200, 10, 1, "purchase"), (101, 5, 2, "click"),
    ])
    run_once()
    # Incarnation 2 (fresh query object, same checkpoint): user 2's
    # purchase arrives within the horizon — must join the RECOVERED click.
    write_events("b.parquet", [(201, 20, 2, "purchase")])
    run_once()

    got = sorted(
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(str(out)).collect())
    assert got == [(1, 100, 200), (2, 101, 201)]  # no losses, no re-emits


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics: a file-source stream with a checkpoint
    processes each input file exactly once across TWO separate query
    incarnations — the restarted query must pick up only the file added
    after the first run, never re-emit the first file's rows. This is
    the recovery contract every production streaming sink relies on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, ids):
        pq.write_table(pa.table({"event_id": pa.array(ids, type=pa.int64())}),
                       str(src / name))

    def run_once():
        stream = (spark.readStream
                  .schema("event_id long")
                  .parquet(str(src)))
        q = (stream.writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)

    write_batch("a.parquet", [1, 2, 3])
    run_once()                       # first incarnation: file a only
    write_batch("b.parquet", [4, 5])
    run_once()                       # restart from checkpoint: file b only

    got = sorted(r["event_id"]
                 for r in spark.read.parquet(str(out)).collect())
    assert got == [1, 2, 3, 4, 5]   # no duplicates, no losses
