"""Structured-Streaming file pipeline — replaces the reference's
S3KeySensor poll loops and archive/delete exactly-once protocol
(reference: dag.py:45-53,61-69; transform.py:133-139; load_db.py:49-58).

The file-source checkpoint log *is* the processed-file tracker: a file is
consumed exactly once across restarts with no hand-rolled moves. The
optional ``cleanSource='archive'`` reproduces the reference's archival
side-effect natively. ``Trigger.AvailableNow`` gives the daily-batch
semantics (process everything present, then stop) while keeping streaming's
bookkeeping — the direct upgrade of the reference's cron+sensor design.

The stream keeps no state.  It carries only the raw rows, each with its
``file_name`` and the start offset of its scan split; every micro-batch is
then deduplicated and cleaned by the batch form of
:func:`..operators.cleaning.clean_properties`.  A file never spans two
micro-batches and the dedup key holds ``file_name``, so a per-batch dedup
is the reference's per-file ``drop_duplicates`` (transform.py:62), and no
state store grows with the days.

Tie rule: of the rows sharing ``(link, file_name)`` the first in file
order wins, as in the reference.  File order is ``(file_block_start,
monotonically_increasing_id())``: the split offset orders the splits of a
file that the scan cut into several partitions, and the id, taken on the
micro-batch where the scan runs before any shuffle, orders the rows
inside one split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import basename
from ..operators.cleaning import clean_properties
from ..schemas import PROPERTIES_RAW


def _raw_stream(spark: SparkSession, inbox_path: str,
                archive_path: str | None) -> DataFrame:
    """The TSV inbox as a stream of raw rows plus ``file_name`` and the
    split offset ``_block`` (both only defined on the scan)."""
    reader = (
        spark.readStream.schema(PROPERTIES_RAW)
        .option("sep", "\t")
        .option("header", True)
        .option("maxFilesPerTrigger", 100)
    )
    if archive_path:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_path
        )
    return reader.csv(inbox_path).select(
        *PROPERTIES_RAW.fieldNames(),
        basename(F.input_file_name()).alias("file_name"),
        F.col("_metadata.file_block_start").alias("_block"),
    )


def _clean_batch(raw: DataFrame) -> DataFrame:
    """One micro-batch of :func:`_raw_stream` -> silver rows, keeping the
    first copy of each ``(link, file_name)`` in file order (the module's
    tie rule).

    The ordinal is taken before the shuffle, on the scan's partitions.
    The hash repartition on the dedup key is the dedup's only exchange.
    AQE does not coalesce it, as it did the window's own exchange (4
    partitions into 2 on a 4-core host for a 40k-row day), so the clean
    chain after it runs one task per core.
    """
    ordered = raw.withColumn("_ord", F.monotonically_increasing_id()).repartition(
        raw.sparkSession.sparkContext.defaultParallelism, "link", "file_name"
    )
    return clean_properties(
        ordered, dedup_order=["_block", "_ord"], file_name_col=F.col("file_name")
    )


def _start(spark, inbox_path, checkpoint_path, batch_sink, available_now,
           archive_path=None) -> StreamingQuery:
    def load(raw: DataFrame, batch_id: int) -> None:
        batch_sink(_clean_batch(raw), batch_id)

    writer = (
        _raw_stream(spark, inbox_path, archive_path)
        .writeStream.foreachBatch(load)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_file_pipeline(
    spark: SparkSession,
    inbox_path: str,
    silver_path: str,
    checkpoint_path: str,
    archive_path: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream over the TSV inbox -> per-batch dedup and clean -> silver
    parquet with an ``ingest_date`` column, one ``batch_id=N`` directory
    per micro-batch.

    Stateless (see the module docstring): each micro-batch is cleaned by
    the same function as the batch pipeline.  Exactly-once: the checkpoint
    replays an unacknowledged batch with the same ``batch_id``, and
    :func:`idempotent_parquet_batch_sink` overwrites that batch's
    directory, so a replay never doubles rows.  ``maxFilesPerTrigger``
    bounds each micro-batch.
    """
    sink = idempotent_parquet_batch_sink(silver_path)

    def write(silver: DataFrame, batch_id: int) -> None:
        sink(silver.withColumn("ingest_date", F.to_date("dump_date")), batch_id)

    return _start(spark, inbox_path, checkpoint_path, write, available_now,
                  archive_path)


def start_foreach_batch_load(
    spark: SparkSession,
    inbox_path: str,
    checkpoint_path: str,
    batch_sink,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream -> per-batch dedup and clean -> ``foreachBatch`` gold load —
    the streaming form of the reference's EP3 DB append (load_db.py:60-73).

    ``batch_sink(df, batch_id)`` receives each micro-batch's silver rows as
    a plain DataFrame, deduplicated per file with the first copy in file
    order kept (the module's tie rule), so any batch writer works —
    ``write_jdbc`` for the Postgres sink, parquet for the lakehouse path.
    The stream keeps no state store.  Exactly-once contract: the
    checkpoint replays an unacknowledged batch with the SAME batch_id after
    a crash, so a sink keyed on batch_id (idempotent overwrite / upsert /
    staging-table swap) never double-loads — the principled version of the
    reference's archive-then-delete protocol.
    """
    return _start(spark, inbox_path, checkpoint_path, batch_sink, available_now)


def idempotent_parquet_batch_sink(base_path: str):
    """A ``batch_sink`` for ``start_foreach_batch_load`` that writes each
    micro-batch to ``base_path/batch_id=N`` with dynamic-overwrite, making
    replays of the same batch_id harmless (JDBC equivalent: DELETE WHERE
    batch_id = N in the same transaction as the INSERT)."""

    def sink(df, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(base_path)
        )

    return sink
