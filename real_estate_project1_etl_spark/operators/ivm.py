"""Incremental view maintenance — refresh a materialized count/sum
aggregate from a CDC change feed instead of recomputing from the full
table.

The composition this enables: ``sinks.versioned`` gives snapshot
versions, ``versioned.table_diff(include_old=True)`` gives the
before/after change feed, and this module folds that feed into the
materialized aggregate. Cost is O(changes + touched groups), never
O(table) — at 100 TB the difference between a nightly full recompute
and a minutes-sized delta job.

Exactness: the maintained measures are additive (count and an exact
decimal sum), so delta application is algebraically identical to
recomputation — decimal addition is associative/commutative, no float
drift accumulates across refreshes. Non-additive measures (min/max,
distinct counts) need either a deletion-aware sketch or a per-group
recompute of touched groups; that variant is the documented extension,
not implemented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_count_sum_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The materialized view this module maintains:
    ``(grp, n_rows, total)`` with an exact decimal(18,2) sum."""
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("total"),
    )


def incremental_refresh(
    base_agg: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Fold a ``table_diff(include_old=True)`` change feed into the
    materialized aggregate. Handles all three change classes, including
    updates that MOVE a row between groups (the minus side uses the
    before-image's group, the plus side the after-image's).

    One shuffle on the group key for the delta agg plus one outer merge
    join against the base — both sized by the touched groups, not the
    table. Groups whose row count reaches zero are dropped (exactly what
    recomputation would produce).
    """
    plus = changes.filter(F.col("_change").isin("insert", "update")).select(
        F.col(group_col).alias("grp"),
        F.lit(1).alias("dn"),
        F.col(value_col).cast("decimal(18,2)").alias("dv"),
    )
    minus = changes.filter(F.col("_change").isin("delete", "update")).select(
        F.col(f"{group_col}_old").alias("grp"),
        F.lit(-1).alias("dn"),
        (-F.col(f"{value_col}_old").cast("decimal(18,2)")).alias("dv"),
    )
    deltas = (
        plus.unionAll(minus)
        .groupBy("grp")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    return (
        base_agg.join(deltas, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias(
                "n_rows"
            ),
            (
                F.coalesce(F.col("total"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("dv"), F.lit(0).cast("decimal(18,2)"))
            ).cast("decimal(28,2)").alias("total"),  # match build_count_sum_agg's sum type
        )
        .filter(F.col("n_rows") > 0)
    )


def build_minmax_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Non-additive companion view: ``(grp, v_min, v_max)``."""
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.min(value_col).alias("v_min"), F.max(value_col).alias("v_max")
    )


def refresh_minmax_touched(
    base_agg: DataFrame,
    new_table: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Maintain a min/max view under deletes: non-additive measures
    can't fold deltas (removing the current min needs the runner-up), so
    the standard IVM fallback is a scoped recompute — re-aggregate ONLY
    the groups the change feed touched (both the before- and after-image
    group of every change) and keep the untouched groups' rows as-is.

    Cost: O(changes) to find touched groups + a recompute whose input is
    the touched groups' slice of the new table (semi-join prunes the
    scan), never the whole table. Exactly the recompute result by
    construction; asserted in tests.
    """
    touched = (
        changes.select(F.col(group_col).alias("grp"))
        .unionAll(changes.select(F.col(f"{group_col}_old").alias("grp")))
        .filter(F.col("grp").isNotNull())
        .distinct()
    )
    recomputed = build_minmax_agg(
        new_table.join(
            F.broadcast(touched),
            new_table[group_col] == touched["grp"],
            "left_semi",
        ),
        group_col,
        value_col,
    )
    kept = base_agg.join(F.broadcast(touched), "grp", "left_anti")
    return kept.unionByName(recomputed)


def streaming_view_sink(
    view_path: str, app_id: str, group_col: str, value_col: str
):
    """Exactly-once MAINTAINED VIEW over a stream: a ``foreachBatch``
    adapter that folds each micro-batch (treated as inserts) into the
    count/sum view stored as a versioned table, replay-safe via the same
    per-writer transaction watermark as ``versioned.stream_sink``.

        q = (events.writeStream
             .foreachBatch(streaming_view_sink(view, "app", "event_type", "value"))
             .start())

    A checkpoint replay — or a wiped checkpoint re-delivering old
    batches — hits the watermark check and no-ops, so the view never
    double-counts (asserted in tests, including restart). Each commit
    is a full small-table rewrite of the VIEW (groups-sized, not
    stream-sized) published as one versioned commit; the base table itself is
    not touched, making this the derived-view half of the lakehouse
    story: raw appends via stream_sink, maintained aggregates via this.
    """
    from real_estate_project1_etl_spark.sinks import versioned as V

    def write(batch_df: DataFrame, batch_id: int) -> None:
        delta = build_count_sum_agg(batch_df, group_col, value_col)

        def merged(base: int) -> DataFrame:
            if not base:
                return delta
            return (
                V.read_snapshot(batch_df.sparkSession, view_path, base)
                .unionByName(delta)
                .groupBy("grp")
                .agg(F.sum("n_rows").alias("n_rows"), F.sum("total").alias("total"))
            )

        V.commit_replace(
            view_path, merged, f"view_refresh[{batch_id}]",
            txn=(app_id, int(batch_id)), n_files=1,
        )

    return write
