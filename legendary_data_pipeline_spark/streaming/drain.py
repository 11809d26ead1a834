"""How every stream in the engine is read from files and drained once.

`drain_once` runs one availableNow trigger: it takes the files present
at start, in micro-batches of `maxFilesPerTrigger` files, commits each
batch to the checkpoint and stops. A later call with the same checkpoint
resumes after the last committed batch — the reference's cron re-run.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def file_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file stream over `path`. `max_files_per_trigger` splits
    the backlog into micro-batches of that many files (files are taken
    in modification-time order); unset, one batch takes them all."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def drain_once(
    stream: DataFrame,
    checkpoint_path: str,
    *,
    sink: Callable[[DataFrame, int], None] | None = None,
    path: str | None = None,
    output_mode: str = "append",
) -> None:
    """Run `stream` to the end of its available input and return.

    Rows go to exactly one of `sink` (a `foreachBatch` writer) or `path`
    (a parquet file sink). An error in the sink or the query fails the
    call and leaves the failed batch uncommitted in the checkpoint.
    """
    if (sink is None) == (path is None):
        raise ValueError(
            "drain_once: pass exactly one of sink= (a foreachBatch "
            "writer) or path= (a parquet file sink)"
        )
    writer = stream.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_path
    )
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", path)
    writer.trigger(availableNow=True).start().awaitTermination()
