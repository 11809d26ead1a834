"""Stateful sessionization: applyInPandasWithState stream vs batch parity."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from legendary_data_pipeline_spark.catalog import normalize_event_ts
from legendary_data_pipeline_spark.streaming.drain import drain_once
from legendary_data_pipeline_spark.streaming.sessions import (
    sessionize_batch,
    sessionize_stream,
)
from legendary_data_pipeline_spark.streaming.snapshots import (
    read_events_stream,
    with_event_time,
)

SF_DIR = "/root/testdata/sf0.001"

GAP = 6 * 3600  # wide gap so the synthetic events form multi-event sessions


def test_sessionize_batch_semantics(spark):
    rows = [
        # user 1: two sessions (gap of 10000s > 3600 between them)
        (1, 1000.0, 1.0),
        (1, 2000.0, 2.0),
        (1, 12000.0, 3.0),
        # user 2: single event, null value → total 0
        (2, 5000.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, t double, value double"
    ).select(
        "user_id", F.col("t").cast("timestamp").alias("event_time"), "value"
    )
    out = {
        (r.user_id, r.session_start.timestamp()): (
            r.session_end.timestamp(),
            r.n_events,
            r.total_value,
        )
        for r in sessionize_batch(ev, gap_seconds=3600).collect()
    }
    assert out == {
        (1, 1000.0): (2000.0, 2, 3.0),
        (1, 12000.0): (12000.0, 1, 3.0),
        (2, 5000.0): (5000.0, 1, 0.0),
    }


SENTINEL_USER = -1


def _ntz(nanos: int):
    """Naive UTC datetime for a sentinel written as TIMESTAMP_NTZ (the
    on-disk type of the regenerated events table)."""
    import datetime as dt

    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=nanos // 1000)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "e.parquet")

    stream = with_event_time(read_events_stream(spark, str(events_dir)))
    sessions = sessionize_stream(stream, gap_seconds=GAP, watermark="0 seconds")
    assert sessions.isStreaming

    out_dir = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")

    # buffers state; watermark reaches max event time
    drain_once(sessions, ckpt, path=out_dir)

    # Sentinel event far past every session's timeout advances the
    # watermark so all real sessions close on the next drain.
    raw = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    max_ts = raw.agg(F.max("ts")).first()[0]
    sentinel_ts = max_ts + (3 * GAP) * 1_000_000_000
    spark.createDataFrame(
        [(10**9, _ntz(sentinel_ts), SENTINEL_USER, "sentinel", 0.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("append").parquet(str(events_dir))
    drain_once(sessions, ckpt, path=out_dir)

    got = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            round(r.total_value, 6),
        )
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id != SENTINEL_USER
    }
    batch_ev = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet")).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    expected = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            round(r.total_value, 6),
        )
        for r in sessionize_batch(batch_ev, gap_seconds=GAP).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_run_sessionize_once_resumes_from_checkpoint(spark, tmp_path):
    """The cron-replacement entry point: drains, appends, and a re-run
    with the same checkpoint emits nothing new."""
    from legendary_data_pipeline_spark.streaming.sessions import (
        run_sessionize_once,
    )

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "a.parquet")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    run_sessionize_once(spark, str(events_dir), out, ckpt, gap_seconds=GAP,
                        watermark="0 seconds")
    # sentinel advances the watermark so real sessions close
    raw = normalize_event_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    max_ts = raw.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [(10**9, _ntz(max_ts + (3 * GAP) * 10**9), SENTINEL_USER, "s", 0.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("append").parquet(str(events_dir))
    run_sessionize_once(spark, str(events_dir), out, ckpt, gap_seconds=GAP,
                        watermark="0 seconds")
    n = spark.read.parquet(out).count()
    assert n > 0
    # no new files → re-run is a no-op
    run_sessionize_once(spark, str(events_dir), out, ckpt, gap_seconds=GAP,
                        watermark="0 seconds")
    assert spark.read.parquet(out).count() == n
