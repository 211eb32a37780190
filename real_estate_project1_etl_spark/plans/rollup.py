"""Materialized rollup (summary) tables + a derivability router — the
aggregation-pushdown layer every 100 TB warehouse grows: pay the full-table
aggregation ONCE at the finest useful grain, then serve every coarser-grain
aggregate query by re-aggregating the tiny summary instead of rescanning
the corpus (Kimball aggregate tables / Druid rollup / BigQuery MV shape).

Correct re-aggregation needs algebraic aggregates only:

  sum   -> sum of partial sums          count -> sum of partial counts
  min   -> min of partial mins          max   -> max of partial maxs
  avg   -> sum of sums / sum of counts  (derived, never averaged-of-avgs)

Non-algebraic aggregates (count_distinct, exact percentiles) are NOT
derivable from a rollup; the router refuses them so callers fall back to
the base table — silently serving a wrong answer is the classic summary-
table bug this module's contract exists to prevent.

The summary is a versioned table (:mod:`..sinks.versioned`): every fold
is one commit through the same manifest publish and per-writer txn
watermark as the ingest table, so folds are exactly-once under replay and
concurrent folders all land by optimistic retry.  ``_rollup_meta.json``
beside it holds only the grain and specs, which never change after
materialization.

Extends the reference's single-grain pandas report (reference:
transform.py:30-58 computes per-listing metrics only) with the
serve-at-any-grain layer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import versioned as V

#: aggregate functions a rollup can materialize and re-aggregate
_ALGEBRAIC = ("sum", "count", "min", "max")

_META = "_rollup_meta.json"


def materialize_rollup(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    specs: dict[str, tuple[str, str]],
) -> None:
    """Aggregate ``df`` to the grain of ``group_cols`` and persist it with
    its derivability metadata.  ``specs`` maps output column -> (fn, src)
    with fn in {sum, count, min, max}; a ``rollup_count__`` row-count
    column is always added so avg at any grain derives exactly.

    ``sum`` is materialized over ``decimal(38,6)`` casts: partial sums
    re-aggregate exactly (decimal addition is associative), while double
    sums would make the served answer partitioning-dependent.
    """
    for out, (fn, _src) in specs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{fn} is not algebraic; cannot materialize {out}")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _META), "w") as fh:
        json.dump({"group_cols": list(group_cols), "specs": dict(specs)}, fh)
    V.create_or_replace(
        df.groupBy(*group_cols).agg(*_partial_aggs(specs)), path, n_files=1
    )


def rollup_meta(path: str) -> dict:
    """Grain and specs from the sidecar, plus the head commit's per-app
    txn watermarks under ``"txn"``."""
    with open(os.path.join(path, _META)) as fh:
        meta = json.load(fh)
    return {**meta, "txn": V._head_txn(path, V.current_version(path))}


def can_serve(meta: dict, group_cols: list[str], aggs: dict[str, tuple[str, str]]) -> bool:
    """True iff a query grouping by ``group_cols`` computing ``aggs``
    (out -> (fn, src); fn may also be 'avg') derives from this rollup:
    the grain must be a subset of the rollup's, and every aggregate must
    re-aggregate algebraically from a materialized column."""
    if not set(group_cols) <= set(meta["group_cols"]):
        return False
    materialized = [list(v) for v in meta["specs"].values()]
    for fn, src in aggs.values():
        if fn in ("sum", "min", "max", "count"):
            if [fn, src] not in materialized:
                return False
        elif fn == "avg":
            # avg needs BOTH partials: sum(src)/count(src) — dividing by
            # the row count would silently miscount when src has NULLs
            if ["sum", src] not in materialized or ["count", src] not in materialized:
                return False
        else:
            return False  # count_distinct / percentile / ... not derivable
    return True


def _col_for(specs: dict, fn: str, src: str) -> str:
    for out, spec in specs.items():
        if list(spec) == [fn, src]:
            return out
    raise KeyError((fn, src))


def query_rollup(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Serve an aggregate query FROM the rollup at any coarser grain.
    Raises ``ValueError`` when not derivable (callers route to the base
    table instead — see :func:`can_serve`).  Output columns: group cols +
    the keys of ``aggs`` (sum columns come back as the decimal partials'
    exact total; cast at the caller's boundary if doubles are wanted)."""
    meta = rollup_meta(path)
    if not can_serve(meta, group_cols, aggs):
        raise ValueError(
            f"rollup at {path} (grain {meta['group_cols']}) cannot serve "
            f"group by {group_cols} with {aggs}"
        )
    specs = meta["specs"]
    r = V.read_snapshot(spark, path)
    out_aggs = []
    for out, (fn, src) in aggs.items():
        if fn == "sum":
            out_aggs.append(F.sum(_col_for(specs, "sum", src)).alias(out))
        elif fn == "count":
            out_aggs.append(F.sum(_col_for(specs, "count", src)).alias(out))
        elif fn == "min":
            out_aggs.append(F.min(_col_for(specs, "min", src)).alias(out))
        elif fn == "max":
            out_aggs.append(F.max(_col_for(specs, "max", src)).alias(out))
        elif fn == "avg":
            out_aggs.append(
                (
                    F.sum(_col_for(specs, "sum", src))
                    / F.sum(_col_for(specs, "count", src))
                ).alias(out)
            )
    if not group_cols:
        return r.agg(*out_aggs)
    return r.groupBy(*group_cols).agg(*out_aggs)


def _partial_aggs(specs: dict) -> list:
    """The same partial-aggregate list materialize_rollup builds — shared
    by full materialization and incremental update."""
    aggs = [F.count(F.lit(1)).alias("rollup_count__")]
    for out, (fn, src) in specs.items():
        if fn == "sum":
            aggs.append(F.sum(F.col(src).cast("decimal(38,6)")).alias(out))
        elif fn == "count":
            aggs.append(F.count(src).alias(out))
        else:
            aggs.append(getattr(F, fn)(src).alias(out))
    return aggs


def update_rollup(
    batch_df: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
) -> None:
    """Fold a NEW batch of base-table rows into an existing rollup without
    touching the base table — the maintenance loop that keeps summary
    tables fresh under continuous ingest.  Work is O(batch + |rollup|):
    the batch aggregates to partials at the rollup's grain, unions with
    the head summary, and re-aggregates by the algebraic merge rules
    (sum/count partials add — decimal, so the fold is exact and
    order-independent; min/max fold by min/max).  Fold-in-any-order
    equals full recompute (tested).

    The merged summary is committed as one file replacing the head's
    (:func:`versioned.commit_replace`): a concurrent fold that commits
    first makes this one re-read the new head and merge again, and
    ``txn=(app_id, batch_id)`` makes the fold EXACTLY-ONCE under
    micro-batch replay through the versioned watermark gate — data and
    watermark publish in the same manifest.  Each fold then vacuums to
    the last two versions, so the rollup's disk stays bounded while a
    reader of the previous version keeps its file.
    """
    meta = rollup_meta(path)
    specs = meta["specs"]
    grain = meta["group_cols"]
    partial = batch_df.groupBy(*grain).agg(*_partial_aggs(specs))
    merge_aggs = [F.sum("rollup_count__").alias("rollup_count__")]
    for out, (fn, _src) in specs.items():
        if fn in ("sum", "count"):
            merge_aggs.append(F.sum(out).alias(out))
        else:
            merge_aggs.append(getattr(F, fn)(out).alias(out))

    def merged(base: int) -> DataFrame:
        current = V.read_snapshot(batch_df.sparkSession, path, base)
        return current.unionByName(partial).groupBy(*grain).agg(*merge_aggs)

    if V.commit_replace(path, merged, "rollup_fold", txn=txn, n_files=1):
        V.vacuum(path, keep_last=2)


def rollup_stream_sink(path: str, app_id: str):
    """A ``foreachBatch`` sink that keeps a rollup fresh from a stream with
    exactly-once folding: Structured Streaming replays an unacknowledged
    batch with the SAME batch_id after a crash, and :func:`update_rollup`'s
    watermark makes the replayed fold a no-op.  Pair with
    ``streaming/file_pipeline.start_foreach_batch_load`` or any
    ``writeStream.foreachBatch``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        update_rollup(batch_df, path, txn=(app_id, int(batch_id)))

    return sink
