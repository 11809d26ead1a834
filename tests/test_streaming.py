"""Structured Streaming analogues: availableNow drain ≈ batch rollup."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import normalize_event_ts
from legendary_data_pipeline_spark.streaming.drain import drain_once
from legendary_data_pipeline_spark.streaming.snapshots import (
    daily_event_rollup_stream,
    run_daily_rollup_once,
)

SF_DIR = "/root/testdata/sf0.001"


def _batch_expected(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    cents = F.round(F.col("value").cast("decimal(18,2)") * 100, 0).cast("long")
    day = F.date_format(
        F.expr("date_add(DATE '1970-01-01', CAST(ts DIV 86400000000000 AS INT))"),
        "yyyy-MM-dd",
    )
    return {
        (r.day, r.event_type): (r.events, r.total_value_cents)
        for r in ev.groupBy(day.alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("events"), F.sum(cents).alias("total_value_cents"))
        .collect()
    }


def test_streaming_daily_rollup_matches_batch(spark, tmp_path):
    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copyfile(
        f"{SF_DIR}/events.parquet", events_dir / "events-000.parquet"
    )
    target = str(tmp_path / "daily")
    checkpoint = str(tmp_path / "ckpt")

    run_daily_rollup_once(spark, str(events_dir), target, checkpoint)
    got = {
        (r.day, r.event_type): (r.events, r.total_value_cents)
        for r in spark.read.parquet(target).collect()
    }
    expected = _batch_expected(spark)
    assert got == expected

    # drain again with no new files — stream is a no-op, table unchanged
    run_daily_rollup_once(spark, str(events_dir), target, checkpoint)
    again = {
        (r.day, r.event_type): (r.events, r.total_value_cents)
        for r in spark.read.parquet(target).collect()
    }
    assert again == expected

    # late/replayed data: re-deliver the same file under a new name with a
    # FRESH checkpoint (a rerun) — upsert converges, no duplicate rows
    shutil.copyfile(
        f"{SF_DIR}/events.parquet", events_dir / "events-001.parquet"
    )
    run_daily_rollup_once(
        spark, str(events_dir), target, str(tmp_path / "ckpt2")
    )
    replayed = spark.read.parquet(target)
    assert replayed.groupBy("day", "event_type").count().filter(
        F.col("count") > 1
    ).count() == 0
    # doubled input → doubled counts, still keyed correctly
    doubled = {
        (r.day, r.event_type): (r.events, r.total_value_cents)
        for r in replayed.collect()
    }
    assert doubled == {
        k: (e * 2, c * 2) for k, (e, c) in expected.items()
    }


def test_stream_plan_is_streaming(spark, tmp_path):
    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "e.parquet")
    from legendary_data_pipeline_spark.streaming.snapshots import (
        read_events_stream,
    )

    stream = read_events_stream(spark, str(events_dir))
    rolled = daily_event_rollup_stream(stream)
    assert rolled.isStreaming


def test_streaming_dedup_drops_redelivered(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered file adds no rows."""
    import shutil as _sh

    from legendary_data_pipeline_spark.streaming.snapshots import (
        dedup_events_stream,
        read_events_stream,
    )

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    _sh.copyfile(f"{SF_DIR}/events.parquet", events_dir / "a.parquet")
    # same events delivered twice under a different file name
    _sh.copyfile(f"{SF_DIR}/events.parquet", events_dir / "b.parquet")

    deduped = dedup_events_stream(read_events_stream(spark, str(events_dir)))
    assert deduped.isStreaming
    out = str(tmp_path / "out")
    drain_once(deduped, str(tmp_path / "ckpt"), path=out)
    n_unique = (
        normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        .select("event_id")
        .distinct()
        .count()
    )
    got = spark.read.parquet(out)
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_dedup_events_within_watermark_drops_redeliveries(spark, tmp_path):
    """The same file delivered twice (two micro-batches) must yield each
    event_id exactly once; a fresh third batch still flows through."""
    import shutil

    from legendary_data_pipeline_spark.streaming.snapshots import (
        dedup_events_stream,
        read_events_stream,
    )

    events_dir = tmp_path / "ev_dup"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "a.parquet")
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "b.parquet")

    stream = read_events_stream(spark, str(events_dir), max_files_per_trigger=1)
    deduped = dedup_events_stream(stream, watermark="36500 days")
    out = str(tmp_path / "deduped_out")
    ckpt = str(tmp_path / "ckpt_dedup")

    drain_once(deduped, ckpt, path=out)
    n_src = normalize_event_ts(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).count()
    got = spark.read.parquet(out)
    assert got.count() == n_src  # redelivery fully suppressed
    assert got.select("event_id").distinct().count() == n_src
    # A genuinely new event in a later batch passes through.
    spark.createDataFrame(
        [(10**9, _far_future_ntz(), 1, "x", 0.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    ).write.mode("append").parquet(str(events_dir))
    drain_once(deduped, ckpt, path=out)
    assert spark.read.parquet(out).count() == n_src + 1


def _far_future_ntz():
    import datetime as dt

    return dt.datetime(2031, 1, 1)
