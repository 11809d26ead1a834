"""Continuous materialized-view maintenance: streaming incremental
rollups over the engine's versioned tables.

The batch form (operators/rollup.merge_rollup) proves the algebra; this
sink runs it per micro-batch: aggregate the arriving batch, merge into
the rollup's latest snapshot, commit as the NEXT version via the
versioned table's stage-then-publish protocol (sources/versioned.py) —
readers never observe a partial merge, and every batch leaves an
auditable snapshot (time travel to "the rollup as of batch N").

Idempotency: each commit's manifest op records its batch_id
(`merge_batch_<id>`); a replayed batch_id (foreachBatch at-least-once
retry) is detected by scanning the manifests — metadata-scale — and
skipped, so a crash between publish and checkpoint cannot double-count.
The guard is scoped to ONE stream lineage: batch ids restart with a
fresh checkpoint, so the entry points refuse (ValueError) a fresh
checkpoint on a table that already holds this sink's commits.

Cost per batch: O(batch) aggregation + a join against the rollup
(small by construction) + one rollup-sized write. At 100 TB of raw
history that is the difference between maintenance and a rescan; if
the ROLLUP itself grows huge, partition the table by a rollup key
prefix and merge only affected partitions (documented trade — this
implementation rewrites the whole rollup snapshot per batch).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from legendary_data_pipeline_spark.operators.rollup import (
    aggregate_batch,
    merge_rollup,
)
from legendary_data_pipeline_spark.sources.versioned import (
    read_version,
    versions,
    write_version,
)
from legendary_data_pipeline_spark.streaming.drain import drain_once, file_stream

_ROLLUP_OP = "merge_batch_"
_CMS_OP = "cms_batch_"


def _versioned_merge_sink(
    table: str,
    op_prefix: str,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
):
    """`foreachBatch` writer: `build` each non-empty batch, `merge` it
    into the latest snapshot, commit it tagged `<op_prefix><batch_id>`;
    the replay guard (module doc) skips an id already tagged."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        op_tag = f"{op_prefix}{int(batch_id)}"
        committed = versions(table)  # [] for a not-yet-created table
        if any(m.get("op") == op_tag for m in committed):
            return  # replayed batch — already merged and published
        merged = build(batch_df)
        if committed:
            merged = merge(read_version(batch_df.sparkSession, table), merged)
        write_version(merged, table, op=op_tag)

    return write_batch


def _require_one_lineage(table: str, checkpoint_path: str, op_prefix: str) -> None:
    """Refuse a new checkpoint on a table this sink already wrote: its
    batch ids restart at 0, so the replay guard would drop its batches.
    A checkpoint with a planned batch (a file under `offsets/`) is a
    restart that passed this check; its replays are real, including a
    batch published before its commit was written."""
    if glob.glob(os.path.join(checkpoint_path, "offsets", "*")):
        return
    if any(m.get("op", "").startswith(op_prefix) for m in versions(table)):
        raise ValueError(
            f"new checkpoint {checkpoint_path!r} on table {table!r}, which "
            f"holds {op_prefix}<id> commits: batch ids restart at 0 and would "
            "be skipped as replays; resume the old checkpoint or use a new table"
        )


def rollup_maintenance_sink(
    table: str,
    keys: Sequence[str],
    specs: Sequence[tuple],
    kinds: Mapping[str, str],
):
    """`foreachBatch` writer maintaining a versioned rollup table."""
    return _versioned_merge_sink(
        table,
        _ROLLUP_OP,
        lambda batch: aggregate_batch(batch, list(keys), list(specs)),
        lambda old, new: merge_rollup(old, new, list(keys), dict(kinds)),
    )


def run_rollup_maintenance_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    table: str,
    keys: Sequence[str],
    specs: Sequence[tuple],
    kinds: Mapping[str, str],
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the maintenance
    sink; ValueError for a new checkpoint on a written table."""
    _require_one_lineage(table, checkpoint_path, _ROLLUP_OP)
    drain_once(
        file_stream(spark, input_path, input_schema, max_files_per_trigger),
        checkpoint_path,
        sink=rollup_maintenance_sink(table, keys, specs, kinds),
    )


def cms_maintenance_sink(
    table: str, key_col: str, depth: int = 4, width: int = 1024
):
    """`foreachBatch` writer maintaining a versioned Count-Min sketch.

    The CMS cell frame (operators/cms.py) is a pure sum-rollup over
    (row_idx, col_idx), so maintenance is the same stage-then-publish
    merge the rollup sink uses — sketch the arriving batch, add cells
    into the latest snapshot, commit as the next version with the same
    batch-id replay guard. State stays ≤ depth × width rows forever
    while absorbing unbounded stream history: point-frequency queries
    (cms_query) over "everything seen so far" never rescan the stream.
    """
    from legendary_data_pipeline_spark.operators.cms import (
        cms_build,
        cms_merge,
    )

    return _versioned_merge_sink(
        table, _CMS_OP, lambda batch: cms_build(batch, key_col, depth, width), cms_merge
    )


def run_cms_maintenance_once(
    spark: SparkSession,
    input_path: str,
    input_schema: str,
    table: str,
    key_col: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files once through the CMS sink;
    ValueError for a new checkpoint on a written table."""
    _require_one_lineage(table, checkpoint_path, _CMS_OP)
    drain_once(
        file_stream(spark, input_path, input_schema, max_files_per_trigger),
        checkpoint_path,
        sink=cms_maintenance_sink(table, key_col, depth, width),
    )
