"""Stream-stream click→purchase attribution: batch parity.

The streaming interval join buffers and evicts state but must not
change semantics: draining the event stream through the stream-stream
join yields the identical pair set as the same predicate over the
static table.
"""

from __future__ import annotations

import shutil

from legendary_data_pipeline_spark.catalog import normalize_event_ts
from legendary_data_pipeline_spark.streaming.drain import drain_once
from legendary_data_pipeline_spark.streaming.attribution import (
    attribute_purchases,
    split_clicks_purchases,
)
from legendary_data_pipeline_spark.streaming.snapshots import (
    read_events_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _pairs(rows):
    return {(r["purchase_event_id"], r["click_event_id"]) for r in rows}


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    shutil.copyfile(f"{SF_DIR}/events.parquet", events_dir / "e.parquet")

    stream = read_events_stream(spark, str(events_dir))
    s_clicks, s_purchases = split_clicks_purchases(stream)
    attributed = attribute_purchases(s_clicks, s_purchases)
    assert attributed.isStreaming

    out = str(tmp_path / "attr_out")
    drain_once(attributed, str(tmp_path / "ckpt"), path=out)
    got = spark.read.parquet(out)

    batch_ev = normalize_event_ts(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    )
    b_clicks, b_purchases = split_clicks_purchases(batch_ev)
    expected = attribute_purchases(b_clicks, b_purchases)

    assert _pairs(got.collect()) == _pairs(expected.collect())
    assert got.count() > 0
    # Every lag respects the horizon.
    assert got.filter("lag_us < 0 OR lag_us > 3600000000").count() == 0
