"""The one availableNow drain every stream goes through
(streaming/drain.py): argument contract, sink failures, and a source
check that the package holds no other copy of it."""

from __future__ import annotations

import glob
import os
import pathlib

import pytest
from pyspark.errors import StreamingQueryException

from legendary_data_pipeline_spark.streaming.drain import drain_once, file_stream

_PKG = pathlib.Path(__file__).resolve().parent.parent / "legendary_data_pipeline_spark"


def _stream(spark, tmp_path):
    inp = str(tmp_path / "in")
    spark.createDataFrame([(1,), (2,)], "v long").coalesce(1).write.parquet(inp)
    return file_stream(spark, inp, "v long")


@pytest.mark.parametrize("targets", [{}, {"sink": print, "path": "out"}])
def test_drain_once_needs_exactly_one_target(spark, tmp_path, targets):
    with pytest.raises(ValueError, match="exactly one"):
        drain_once(_stream(spark, tmp_path), str(tmp_path / "ckpt"), **targets)


def test_sink_failure_fails_the_drain_uncommitted(spark, tmp_path):
    def sink(batch_df, batch_id):
        raise RuntimeError("boom")

    ckpt = tmp_path / "ckpt"
    with pytest.raises(StreamingQueryException, match="boom"):
        drain_once(_stream(spark, tmp_path), str(ckpt), sink=sink)
    assert glob.glob(str(ckpt / "commits" / "*")) == []


@pytest.mark.parametrize(
    "needle", ["trigger(availableNow=True)", "readStream.schema("]
)
def test_stream_drain_lives_only_in_drain_module(needle):
    hits = sorted(
        str(p.relative_to(_PKG))
        for p in _PKG.rglob("*.py")
        if needle in p.read_text()
    )
    assert hits == [os.path.join("streaming", "drain.py")]
