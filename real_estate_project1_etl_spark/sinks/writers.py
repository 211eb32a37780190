"""Sinks — K1-K4 (reference: extract.py:49-54; dag.py:37-43;
transform.py:127-139; load_db.py:32-58).

Upgrades over the reference:
- silver lands as *Parquet partitioned by ingest date* instead of a flat
  tab-sep CSV — at 100 TB the daily partition layout is what makes dynamic
  partition pruning work for the dashboard's time-range queries
  (SURVEY.md §4 "custom work actually needed" item 3);
- the JDBC sink declares explicit column types via
  ``createTableColumnTypes`` and fixes the reference's silent dtype bug
  (``price_for_m2`` vs ``price_per_m2``, load_db.py:42);
- no hand-rolled archive/delete protocol — exactly-once is the streaming
  checkpoint's job (see ``streaming/file_pipeline.py``).

These writers only create or append; a table that is later merged,
compacted or folded into is a versioned table (:mod:`.versioned`), the
engine's one commit protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: explicit gold-table types (load_db.py:35-46, with the key fixed)
PROPERTIES_DB_TYPES = (
    "purpose VARCHAR(255), address VARCHAR(255), region VARCHAR(255), "
    "size_m2 INTEGER, design VARCHAR(255), price_czk INTEGER, "
    "price_per_m2 INTEGER, link VARCHAR(255), dump_date TIMESTAMP, "
    "file_name VARCHAR(255)"
)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1+K2 — tab-sep CSV (the reference's interchange format)."""
    df.write.option("sep", "\t").option("header", True).mode(mode).csv(path)


def write_silver(df: DataFrame, path: str, mode: str = "append") -> None:
    """Silver table: Parquet partitioned by ingest date.

    Partition column is derived from ``dump_date`` so a day's load is one
    partition — append-only like the reference's ``properties_data``
    (load_db.py:47) but prunable by date.
    """
    (
        df.withColumn("ingest_date", F.to_date("dump_date"))
        .repartition("ingest_date")  # one writer wave per partition value
        .write.partitionBy("ingest_date")
        .mode(mode)
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str = "properties_data",
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """K4 — JDBC append sink (load_db.py:32-47 equivalent).

    ``batchsize`` batches inserts; on a cluster every partition writes in
    parallel — coalesce upstream if the DB can't take the fan-in.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("createTableColumnTypes", PROPERTIES_DB_TYPES)
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    partitions: int = 8,
    date_from: str | None = None,
) -> None:
    """Range-partitioned, sorted parquet layout — the data-skipping write.

    ``repartitionByRange`` gives each output file a disjoint ``sort_col``
    range; ``sortWithinPartitions`` tightens every row group's min/max
    stats inside the file. Any later scan with a range predicate on
    ``sort_col`` then skips whole row groups from the footer stats —
    the poor man's clustered index, and at 100 TB the difference between
    scanning a day and scanning the table.

    CAVEAT (measured on this Spark build, see test_scale): the parquet
    reader applies row-group stats filtering for numeric and DATE columns
    but NOT for TIMESTAMP (NTZ or LTZ) — a pushed timestamp range
    predicate reads every row group. For time-organized data pass
    ``date_from=<timestamp col>``: a DATE layout key ``sort_col`` is
    derived from it, and readers should filter on that column (mirror of
    the daily-partitioned silver layout in ``write_silver``).
    """
    if date_from is not None:
        df = df.withColumn(sort_col, F.to_date(F.col(date_from)))
    (
        df.repartitionByRange(partitions, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )
