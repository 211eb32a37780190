"""Materialized rollup router (plans/rollup.py): coarser-grain queries
served from the summary must equal direct aggregation over the base, and
non-derivable shapes must be refused, never silently wrong."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_project1_etl_spark.plans import rollup as R
from real_estate_project1_etl_spark.sinks import versioned as V
from real_estate_project1_etl_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def rollup_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rollup") / "li_rollup")
    li = load_table(spark, sf_dir, "lineitem")
    R.materialize_rollup(
        li,
        path,
        ["l_returnflag", "l_linestatus", "l_shipdate"],
        {
            "sum_qty": ("sum", "l_quantity"),
            "cnt_qty": ("count", "l_quantity"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
            "n_rows": ("count", "l_orderkey"),
        },
    )
    return path


def _direct(spark, sf_dir, cols):
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(*cols) if cols else li
    return g.agg(
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.avg("l_quantity").alias("avg_qty"),
    )


def _rollup_q(spark, rollup_path, cols):
    return R.query_rollup(
        spark,
        rollup_path,
        cols,
        {
            "sum_qty": ("sum", "l_quantity"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
            "avg_qty": ("avg", "l_quantity"),
        },
    )


@pytest.mark.parametrize(
    "cols",
    [
        ["l_returnflag", "l_linestatus", "l_shipdate"],  # same grain
        ["l_returnflag", "l_linestatus"],                # coarser
        ["l_shipdate"],                                  # different subset
        [],                                              # grand total
    ],
)
def test_rollup_serves_any_coarser_grain_exactly(spark, sf_dir, rollup_path, cols):
    got = {
        tuple(r[c] for c in cols): (r.sum_qty, r.min_price, r.max_price, r.avg_qty)
        for r in _rollup_q(spark, rollup_path, cols).collect()
    }
    want = {
        tuple(r[c] for c in cols): (r.sum_qty, r.min_price, r.max_price, r.avg_qty)
        for r in _direct(spark, sf_dir, cols).collect()
    }
    assert set(got) == set(want)
    for k in want:
        gs, gmin, gmax, gavg = got[k]
        ws, wmin, wmax, wavg = want[k]
        assert gs == ws, k            # decimal partial sums re-aggregate exactly
        assert gmin == wmin and gmax == wmax, k
        # rollup avg = decimal(38,6) sum / count (exact to 6 dp); the
        # direct double avg can differ by up to half an ulp of that scale
        assert abs(float(gavg) - wavg) < 1e-6, k


def test_rollup_refuses_non_derivable(spark, rollup_path):
    meta = R.rollup_meta(rollup_path)
    # finer grain than materialized
    assert not R.can_serve(meta, ["l_returnflag", "l_suppkey"], {})
    # non-algebraic aggregate
    assert not R.can_serve(
        meta, ["l_returnflag"], {"d": ("count_distinct", "l_orderkey")}
    )
    # aggregate over a column that was never materialized
    assert not R.can_serve(meta, ["l_returnflag"], {"s": ("sum", "l_discount")})
    # avg without a count partial for the same source
    assert not R.can_serve(meta, ["l_returnflag"], {"a": ("avg", "l_extendedprice")})
    with pytest.raises(ValueError):
        R.query_rollup(
            spark, rollup_path, ["l_returnflag"], {"s": ("sum", "l_discount")}
        )


def test_materialize_rejects_non_algebraic(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        R.materialize_rollup(
            li, str(tmp_path / "bad"), ["l_returnflag"],
            {"d": ("count_distinct", "l_orderkey")},
        )


def test_update_rollup_fold_equals_recompute(spark, sf_dir, tmp_path):
    from real_estate_project1_etl_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    specs = {
        "sum_qty": ("sum", "l_quantity"),
        "cnt_qty": ("count", "l_quantity"),
        "min_price": ("min", "l_extendedprice"),
        "max_price": ("max", "l_extendedprice"),
    }
    grain = ["l_returnflag", "l_linestatus"]
    # incremental: seed with a third of the data, fold the rest in 2 batches
    inc = str(tmp_path / "inc")
    R.materialize_rollup(li.filter(F.col("l_orderkey") % 3 == 0), inc, grain, specs)
    R.update_rollup(li.filter(F.col("l_orderkey") % 3 == 1), inc)
    R.update_rollup(li.filter(F.col("l_orderkey") % 3 == 2), inc)
    # recompute: the whole table at once
    full = str(tmp_path / "full")
    R.materialize_rollup(li, full, grain, specs)

    q = {
        "sum_qty": ("sum", "l_quantity"),
        "avg_qty": ("avg", "l_quantity"),
        "min_price": ("min", "l_extendedprice"),
        "max_price": ("max", "l_extendedprice"),
    }
    a = {(r.l_returnflag, r.l_linestatus): (r.sum_qty, r.avg_qty, r.min_price, r.max_price)
         for r in R.query_rollup(spark, inc, grain, q).collect()}
    b = {(r.l_returnflag, r.l_linestatus): (r.sum_qty, r.avg_qty, r.min_price, r.max_price)
         for r in R.query_rollup(spark, full, grain, q).collect()}
    assert a == b  # decimal partials: the fold is EXACT, not approximate

    # the meta sidecar is untouched by folds; served queries still route
    assert R.rollup_meta(inc)["group_cols"] == grain


def test_rollup_stream_sink_replay_is_exactly_once(spark, sf_dir, tmp_path):
    from real_estate_project1_etl_spark.plans.rollup import rollup_stream_sink
    from real_estate_project1_etl_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    specs = {"sum_qty": ("sum", "l_quantity"), "cnt_qty": ("count", "l_quantity")}
    grain = ["l_returnflag"]
    path = str(tmp_path / "stream_rollup")
    R.materialize_rollup(li.filter(F.col("l_orderkey") % 2 == 0), path, grain, specs)
    sink = rollup_stream_sink(path, app_id="loader-1")
    batch = li.filter(F.col("l_orderkey") % 2 == 1)
    sink(batch, 0)
    before = {r.l_returnflag: r.sum_qty for r in
              R.query_rollup(spark, path, grain, {"sum_qty": ("sum", "l_quantity")}).collect()}
    # crash-replay of the SAME micro-batch: must be a no-op
    sink(batch, 0)
    after = {r.l_returnflag: r.sum_qty for r in
             R.query_rollup(spark, path, grain, {"sum_qty": ("sum", "l_quantity")}).collect()}
    assert before == after
    # and the folded total equals a full recompute
    full = str(tmp_path / "full2")
    R.materialize_rollup(li, full, grain, specs)
    want = {r.l_returnflag: r.sum_qty for r in
            R.query_rollup(spark, full, grain, {"sum_qty": ("sum", "l_quantity")}).collect()}
    assert after == want
    # a LATER batch still folds (watermark advances, doesn't stick)
    sink(li.limit(0), 1)   # empty fold advances watermark harmlessly
    assert R.rollup_meta(path)["txn"] == {"loader-1": 1}


def _sum_by_flag(spark, path):
    q = R.query_rollup(spark, path, ["l_returnflag"], {"sum_qty": ("sum", "l_quantity")})
    return {r.l_returnflag: r.sum_qty for r in q.collect()}


def test_concurrent_folds_both_land(spark, sf_dir, tmp_path, monkeypatch):
    # two threads fold disjoint batches at once.  A barrier at each one's
    # first head read makes both merge from the same version, so one
    # commit must lose and re-merge on top of the other's fold: both
    # folds and both watermarks land, and the result equals a recompute
    import threading

    li = load_table(spark, sf_dir, "lineitem")
    specs = {"sum_qty": ("sum", "l_quantity")}
    grain = ["l_returnflag"]
    path = str(tmp_path / "concurrent")
    R.materialize_rollup(li.filter(F.col("l_orderkey") % 3 == 0), path, grain, specs)

    barrier = threading.Barrier(2, timeout=120)
    first = threading.local()
    bases = []
    real_read = V.read_snapshot

    def read_after_both_resolved(spark_, path_, version=None, **kw):
        bases.append(version)
        if not getattr(first, "seen", False):
            first.seen = True
            barrier.wait()
        return real_read(spark_, path_, version, **kw)

    monkeypatch.setattr(V, "read_snapshot", read_after_both_resolved)
    errors = []

    def fold(mod, app_id):
        try:
            R.update_rollup(
                li.filter(F.col("l_orderkey") % 3 == mod), path, txn=(app_id, 0)
            )
        except Exception as exc:  # noqa: BLE001 -- surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=fold, args=(m, f"app-{m}")) for m in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(bases) == [1, 1, 2]  # one lost race, one re-merge
    assert R.rollup_meta(path)["txn"] == {"app-1": 0, "app-2": 0}

    full = str(tmp_path / "full")
    R.materialize_rollup(li, full, grain, specs)
    assert _sum_by_flag(spark, path) == _sum_by_flag(spark, full)


def test_fold_crash_then_replay_folds_once(spark, sf_dir, tmp_path, monkeypatch):
    # crash a fold after its data write (no manifest), and after its
    # manifest publish with the _CURRENT hint not updated; then replay the
    # same (app_id, batch_id) as a restarted stream would.  Each batch
    # must be folded exactly once.
    class Crash(Exception):
        pass

    li = load_table(spark, sf_dir, "lineitem")
    specs = {"sum_qty": ("sum", "l_quantity")}
    grain = ["l_returnflag"]
    full = str(tmp_path / "full")
    R.materialize_rollup(li, full, grain, specs)
    want = _sum_by_flag(spark, full)
    batch = li.filter(F.col("l_orderkey") % 2 == 1)
    real_commit = V._commit

    def crash_after_data_write(*args, **kwargs):
        raise Crash

    def crash_after_manifest(path_, base, *args, **kwargs):
        real_commit(path_, base, *args, **kwargs)
        with open(V._current_path(path_), "w") as fh:
            fh.write(str(base))
        raise Crash

    for name, crash, visible in [
        ("after_data", crash_after_data_write, False),
        ("after_manifest", crash_after_manifest, True),
    ]:
        path = str(tmp_path / name)
        R.materialize_rollup(li.filter(F.col("l_orderkey") % 2 == 0), path, grain, specs)
        prior = _sum_by_flag(spark, path)
        monkeypatch.setattr(V, "_commit", crash)
        with pytest.raises(Crash):
            R.update_rollup(batch, path, txn=("loader", 7))
        monkeypatch.undo()
        # before the publish the prior fold is served; after it the
        # manifest is the commit, even though the hint lags
        assert _sum_by_flag(spark, path) == (want if visible else prior), name
        R.update_rollup(batch, path, txn=("loader", 7))  # the replay
        assert _sum_by_flag(spark, path) == want, name
        assert R.rollup_meta(path)["txn"] == {"loader": 7}, name
