"""Streaming sinks — reprocessing-safe writes (SURVEY §2.10: the
reference's "overwrite exactly one day" discipline becomes an idempotent
``foreachBatch`` sink in streaming).

``partitioned_foreach_batch_sink`` writes each micro-batch into a
date-partitioned dataset. Idempotence vs completeness: keying the dynamic
overwrite on the DAY alone would let batch replay rewrite clean days —
but it would also make each batch REPLACE a whole day with only its own
rows, silently dropping earlier batches' rows whenever one day spans
micro-batches (maxFilesPerTrigger, resumed checkpoints). The partition
key is therefore ``(day, __batch_id)``: a replayed batch overwrites
exactly its own sub-partitions (idempotent), different batches of the
same day coexist, and concurrent days never touch each other. Readers
see ``__batch_id`` as an extra partition column; aggregate over it or
drop it (same contract as compaction's ``__compaction_group``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from telemetry_parquet_spark.sources.tables import read_parquet

BATCH_COL = "__batch_id"


def partitioned_foreach_batch_sink(
    stream: DataFrame,
    path: str,
    date_col: str = "submission_date_s3",
    ts_col: str = "ts",
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming write: each micro-batch derives its day key(s)
    from ``ts_col`` and dynamic-overwrites only its own
    ``(day, batch_id)`` partitions — replay-idempotent without the
    cross-batch same-day data loss a day-keyed overwrite would cause."""
    from telemetry_parquet_spark.sources.writers import write_partitioned

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        out = batch.withColumn(
            date_col, F.date_format(ts_col, "yyyyMMdd")
        ).withColumn(BATCH_COL, F.lit(int(batch_id)))
        write_partitioned(
            out, path, [date_col, BATCH_COL], files_per_partition=1
        )

    writer = stream.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_partitioned_sink(spark, path: str) -> DataFrame:
    """The sink's logical content: the dataset without the
    ``__batch_id`` bookkeeping column."""
    return read_parquet(spark, path).drop(BATCH_COL)
