"""Streaming rollup maintenance: versioned merges, recompute parity,
replay idempotency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legendary_data_pipeline_spark.operators.rollup import aggregate_batch
from legendary_data_pipeline_spark.sources.versioned import (
    read_version,
    versions,
)
from legendary_data_pipeline_spark.streaming.rollup import (
    rollup_maintenance_sink,
    run_cms_maintenance_once,
    run_rollup_maintenance_once,
)

_SCHEMA = "g string, v long"
_KEYS = ["g"]


def _specs():
    return [
        ("n", "count", None),
        ("s", "sum", F.col("v")),
        ("mx", "max", F.col("v")),
    ]


_KINDS = {"n": "count", "s": "sum", "mx": "max"}


def _by_key(df):
    return {r.g: (r.n, r.s, r.mx) for r in df.collect()}


def test_stream_maintenance_equals_full_recompute(spark, tmp_path):
    inp = str(tmp_path / "in")
    b1 = [("a", 10), ("a", 20), ("b", 5)]
    b2 = [("a", 100), ("c", 7)]
    spark.createDataFrame(b1, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(b2, _SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    table = str(tmp_path / "rollup")
    run_rollup_maintenance_once(
        spark, inp, _SCHEMA, table, _KEYS, _specs(), _KINDS,
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    vs = versions(table)
    assert len(vs) == 2  # one committed snapshot per micro-batch
    assert all(m["op"].startswith("merge_batch_") for m in vs)

    latest = read_version(spark, table)
    full = aggregate_batch(
        spark.createDataFrame(b1 + b2, _SCHEMA), _KEYS, _specs()
    )
    assert _by_key(latest) == _by_key(full)
    # time travel: the first snapshot is exactly batch-1's rollup —
    # order of file pickup isn't fixed, so it matches ONE of the
    # single-batch rollups
    v1 = read_version(spark, table, vs[0]["version"])
    singles = [
        _by_key(aggregate_batch(spark.createDataFrame(b, _SCHEMA),
                                _KEYS, _specs()))
        for b in (b1, b2)
    ]
    assert _by_key(v1) in singles


def test_sink_replayed_batch_id_skipped(spark, tmp_path):
    table = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(table, _KEYS, _specs(), _KINDS)
    batch = spark.createDataFrame([("a", 1)], _SCHEMA)
    sink(batch, 3)
    sink(batch, 3)  # at-least-once replay of the SAME batch id
    assert len(versions(table)) == 1
    assert _by_key(read_version(spark, table)) == {"a": (1, 1, 1)}
    sink(batch, 4)  # a genuinely new batch still merges
    assert _by_key(read_version(spark, table)) == {"a": (2, 2, 1)}


def test_sink_skips_empty_batches(spark, tmp_path):
    table = str(tmp_path / "rollup")
    sink = rollup_maintenance_sink(table, _KEYS, _specs(), _KINDS)
    sink(spark.createDataFrame([], _SCHEMA), 0)
    assert versions(table) == []


# ---------------------------------------------------------------------------
# streaming Count-Min sketch maintenance
# ---------------------------------------------------------------------------

def _cells(df):
    return {(r.row_idx, r.col_idx): r.cnt for r in df.collect()}


def test_cms_stream_equals_full_build(spark, tmp_path):
    from legendary_data_pipeline_spark.operators.cms import cms_build

    inp = str(tmp_path / "cin")
    b1 = [(k % 7,) for k in range(300)]
    b2 = [(k % 11,) for k in range(200)]
    schema = "k long"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    table = str(tmp_path / "cms")
    run_cms_maintenance_once(
        spark, inp, schema, table, "k", str(tmp_path / "cckpt"),
        depth=3, width=32, max_files_per_trigger=1,
    )
    vs = versions(table)
    assert len(vs) == 2
    assert all(m["op"].startswith("cms_batch_") for m in vs)

    latest = read_version(spark, table)
    full = cms_build(spark.createDataFrame(b1 + b2, schema), "k", 3, 32)
    assert _cells(latest) == _cells(full)


def test_cms_stream_estimates_never_undercount(spark, tmp_path):
    from legendary_data_pipeline_spark.operators.cms import cms_query

    inp = str(tmp_path / "cin2")
    rows = [(k % 5,) for k in range(500)]
    spark.createDataFrame(rows, "k long").coalesce(1).write.parquet(inp)
    table = str(tmp_path / "cms2")
    run_cms_maintenance_once(
        spark, inp, "k long", table, "k", str(tmp_path / "cckpt2"),
        depth=3, width=32,
    )
    sketch = read_version(spark, table)
    probes = spark.createDataFrame([(i,) for i in range(5)], "k long")
    for r in cms_query(sketch, probes, "k", 3, 32).collect():
        assert r["cms_est"] >= 100


# ---------------------------------------------------------------------------
# one stream lineage per table: batch ids restart with a new checkpoint
# ---------------------------------------------------------------------------

def _run_lineage(spark, tmp_path, kind, ckpt, rows):
    inp = str(tmp_path / f"in_{ckpt}")
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(inp)
    table, ck = str(tmp_path / kind), str(tmp_path / ckpt)
    if kind == "rollup":
        run_rollup_maintenance_once(
            spark, inp, _SCHEMA, table, _KEYS, _specs(), _KINDS, ck
        )
    else:
        run_cms_maintenance_once(
            spark, inp, _SCHEMA, table, "g", ck, depth=2, width=8
        )
    return table


@pytest.mark.parametrize("kind", ["rollup", "cms"])
def test_new_checkpoint_on_written_table_is_refused(spark, tmp_path, kind):
    table = _run_lineage(spark, tmp_path, kind, "ck1", [("a", 1), ("b", 2)])
    with pytest.raises(ValueError, match="ck2") as err:
        _run_lineage(spark, tmp_path, kind, "ck2", [("a", 10), ("c", 5)])
    assert table in str(err.value)
    assert len(versions(table)) == 1


def test_restart_after_publish_before_commit_replays_once(spark, tmp_path):
    """A crash between publishing batch 0 and committing it leaves the
    checkpoint with an offset but no commit. The restart replays batch
    0, which the replay guard skips, then merges the new file."""
    table = _run_lineage(spark, tmp_path, "rollup", "ck", [("a", 1), ("b", 2)])
    for f in (tmp_path / "ck" / "commits").iterdir():
        f.unlink()
    _run_lineage(spark, tmp_path, "rollup", "ck", [("a", 10)])
    assert [m["op"] for m in versions(table)] == ["merge_batch_0", "merge_batch_1"]
    assert _by_key(read_version(spark, table)) == {
        "a": (2, 11, 10), "b": (1, 2, 2),
    }
