"""Streaming sliding-window stats: availableNow drain vs batch equivalent."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import normalize_event_ts
from legendary_data_pipeline_spark.streaming.drain import drain_once
from legendary_data_pipeline_spark.streaming.snapshots import (
    read_events_stream,
    sliding_stats_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def test_sliding_stats_stream_matches_batch(spark, tmp_path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "e.parquet")

    stream = read_events_stream(spark, str(events_dir))
    stats = sliding_stats_stream(stream, window_days=7, slide_days=1)
    assert stats.isStreaming

    out = str(tmp_path / "stats")
    drain_once(stats, str(tmp_path / "ckpt"), path=out)
    got_df = spark.read.parquet(out)

    # batch equivalent over the same frame definition; only compare
    # windows the watermark finalized (append mode emits closed windows)
    ev = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet")).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    batch = (
        ev.groupBy(
            F.window("event_time", "7 days", "1 day").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.expr(
                "percentile_approx(value, array(0.25, 0.5, 0.75), 10000)"
            ).alias("q"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("window_start"),
            "event_type",
            "events",
            F.col("q")[1].alias("p50"),
            "max_value",
        )
    )
    expected = {
        (r.window_start, r.event_type): (r.events, r.p50, r.max_value)
        for r in batch.collect()
    }
    got = {
        (r.window_start, r.event_type): (r.events, r.p50, r.max_value)
        for r in got_df.collect()
    }
    assert len(got) > 0
    for key, vals in got.items():
        assert expected[key] == vals  # every emitted window matches batch
