"""Versioned (manifest-pointer) table format: commit protocol, snapshot
isolation, time travel, compaction, upsert, vacuum, crash/conflict cases."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from real_estate_project1_etl_spark.sinks import versioned as V


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string")


def test_create_append_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = V.create_or_replace(_df(spark, [(1, "a"), (2, "b")]), path)
    assert v1 == 1
    v2 = V.append(_df(spark, [(3, "c")]), path)
    assert v2 == 2
    got = {tuple(r) for r in V.read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert [h["op"] for h in V.history(path)] == ["create_or_replace", "append"]


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)
    V.create_or_replace(_df(spark, [(9, "z")]), path)
    assert [tuple(r) for r in V.read_snapshot(spark, path, version=1).collect()] == [
        (1, "a")
    ]
    assert [tuple(r) for r in V.read_snapshot(spark, path).collect()] == [(9, "z")]


def test_reader_pinned_to_version_survives_commit(spark, tmp_path):
    # snapshot isolation: resolve the pointer once, then commits (even a
    # full replace) don't disturb the pinned file list until vacuum
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a"), (2, "b")]), path)
    pinned = V.read_snapshot(spark, path, version=V.current_version(path))
    V.create_or_replace(_df(spark, [(3, "c")]), path)
    assert {r.id for r in pinned.collect()} == {1, 2}


def test_compact_reduces_files_same_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(i, "x") for i in range(10)]).repartition(6), path)
    before = V.history(path)[-1]["n_files"]
    assert before > 1
    V.compact(spark, path)
    after = V.history(path)[-1]["n_files"]
    assert after == 1
    assert V.read_snapshot(spark, path).count() == 10
    # old (pre-compaction) version still time-travel readable
    assert V.read_snapshot(spark, path, version=1).count() == 10


def test_upsert_updates_win_and_new_keys_insert(spark, tmp_path):
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "old"), (2, "keep")]), path)
    V.upsert(spark, _df(spark, [(1, "new"), (3, "ins")]), path, key_cols=["id"])
    got = {tuple(r) for r in V.read_snapshot(spark, path).collect()}
    assert got == {(1, "new"), (2, "keep"), (3, "ins")}


def test_upsert_on_missing_table_creates_it(spark, tmp_path):
    path = str(tmp_path / "t")
    V.upsert(spark, _df(spark, [(1, "a")]), path, key_cols=["id"])
    assert V.read_snapshot(spark, path).count() == 1


def test_crashed_commit_is_invisible_until_its_manifest_is_published(spark, tmp_path):
    # the manifest publish is the commit: a crash after the data write
    # leaves the table as it was and the version number free; a crash
    # after the publish but before the _CURRENT hint update is committed,
    # and readers roll forward past the stale hint
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)
    V._write_data_files(_df(spark, [(9, "lost")]), path, 1)  # crash here
    assert V.current_version(path) == 1
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1}
    assert V.append(_df(spark, [(2, "b")]), path) == 2

    with open(V._current_path(path), "w") as fh:  # hint left behind
        fh.write("1")
    assert V.current_version(path) == 2
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1, 2}
    assert V.append(_df(spark, [(3, "c")]), path) == 3
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1, 2, 3}


def test_commit_conflict_detected(spark, tmp_path):
    # two writers build on the same head: the first commit wins the next
    # version; the second must conflict, not land one version higher
    # without the first writer's files and watermark
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)
    base = V.current_version(path)
    prior = V._read_manifest(path, base)["files"]
    files_a = V._write_data_files(_df(spark, [(2, "b")]), path, 1)
    files_b = V._write_data_files(_df(spark, [(3, "c")]), path, 1)
    assert V._commit(path, base, prior + files_a, "append", {"a": 0}) == base + 1
    with pytest.raises(V.CommitConflict):
        V._commit(path, base, prior + files_b, "append", {"b": 0})
    assert V.current_version(path) == base + 1
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1, 2}
    assert V._read_manifest(path, base + 1)["txn"] == {"a": 0}


def test_concurrent_appends_rebase_and_both_land(spark, tmp_path, monkeypatch):
    # both writers resolve the same head before either commits (a barrier
    # at each one's first commit attempt): the loser rebases onto the
    # winner's version, so both rows and both watermarks survive
    import threading

    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)
    barrier = threading.Barrier(2, timeout=120)
    first = threading.local()
    attempts = []
    real_commit = V._commit

    def commit_after_both_resolved(*args, **kwargs):
        attempts.append(args[1])
        if not getattr(first, "seen", False):
            first.seen = True
            barrier.wait()
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(V, "_commit", commit_after_both_resolved)
    errors = []

    def writer(row, app):
        try:
            V.idempotent_append(_df(spark, [row]), path, app, 0)
        except Exception as exc:  # noqa: BLE001 -- surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=((2, "b"), "app-a")),
        threading.Thread(target=writer, args=((3, "c"), "app-b")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sorted(attempts) == [1, 1, 2]  # one lost race, one rebase
    assert V.current_version(path) == 3
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1, 2, 3}
    assert V._head_txn(path, 3) == {"app-a": 0, "app-b": 0}


def test_vacuum_drops_expired_files_keeps_recent(spark, tmp_path):
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)   # v1
    V.create_or_replace(_df(spark, [(2, "b")]), path)   # v2 (v1 files now unreferenced)
    V.append(_df(spark, [(3, "c")]), path)              # v3 shares v2's files
    removed = V.vacuum(path, keep_last=2)
    assert removed >= 1  # v1's file(s) gone
    with pytest.raises(FileNotFoundError):
        V._read_manifest(path, 1)
    # kept versions fully readable
    assert V.read_snapshot(spark, path, version=2).count() == 1
    assert {r.id for r in V.read_snapshot(spark, path, version=3).collect()} == {2, 3}


def test_vacuum_never_deletes_uncommitted_files(spark, tmp_path):
    # a writer's data files are in no manifest until its commit lands:
    # vacuum deletes only files that expired manifests list, so the
    # in-flight commit still publishes intact
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path, n_files=1)  # v1
    in_flight = V._write_data_files(_df(spark, [(5, "e")]), path, 1)
    V.create_or_replace(_df(spark, [(2, "b")]), path)             # v2
    assert V.vacuum(path, keep_last=1) == 1                       # v1's file only
    assert all(os.path.exists(os.path.join(path, f)) for f in in_flight)
    with open(V._current_path(path), "w") as fh:  # a hint vacuum expired
        fh.write("1")
    assert V.current_version(path) == 2
    assert V._append_files(path, in_flight, "append") == 3
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {2, 5}


def test_no_directory_listing_on_read_path(spark, tmp_path):
    # a foreign file dropped in data/ is ignored because reads use the
    # manifest's explicit file list, never a glob
    path = str(tmp_path / "t")
    V.create_or_replace(_df(spark, [(1, "a")]), path)
    stray_dir = os.path.join(path, "data", "commit-stray")
    os.makedirs(stray_dir)
    _df(spark, [(99, "stray")]).write.mode("overwrite").parquet(
        os.path.join(stray_dir, "x.parquet")
    )
    assert {r.id for r in V.read_snapshot(spark, path).collect()} == {1}


def test_idempotent_append_dedups_replayed_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    v = V.idempotent_append(_df(spark, [(1, "a")]), path, "app1", 0)
    assert v == 1
    # crash-replay of batch 0 -> no-op
    assert V.idempotent_append(_df(spark, [(1, "a")]), path, "app1", 0) is None
    assert V.read_snapshot(spark, path).count() == 1
    # next batch commits; a different app's batch 0 also commits
    assert V.idempotent_append(_df(spark, [(2, "b")]), path, "app1", 1) is not None
    assert V.idempotent_append(_df(spark, [(3, "c")]), path, "app2", 0) is not None
    assert V.read_snapshot(spark, path).count() == 3
    # watermark survives unrelated commits (compact carries txn forward)
    V.compact(spark, path)
    assert V.idempotent_append(_df(spark, [(9, "x")]), path, "app1", 1) is None


def test_stream_sink_exactly_once_through_foreachBatch(spark, tmp_path):
    # real Structured Streaming run: file source -> foreachBatch -> the
    # versioned table; restarting from the SAME checkpoint re-delivers
    # nothing, restarting with a WIPED checkpoint replays the input and
    # the txn watermark dedups the replay
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "table")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(src)

    def run(checkpoint):
        (
            spark.readStream.schema("id int, val string")
            .parquet(src)
            .writeStream.foreachBatch(V.stream_sink(table, "job1"))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )

    run(ckpt)
    assert V.read_snapshot(spark, table).count() == 2
    run(ckpt)  # same checkpoint: source yields nothing new
    assert V.read_snapshot(spark, table).count() == 2
    run(str(tmp_path / "ckpt2"))  # lost checkpoint: batch 0 replays
    assert V.read_snapshot(spark, table).count() == 2  # deduped by txn


def test_optimize_zorder_new_version_same_rows_and_skips(spark, tmp_path, sf_dir):
    from real_estate_project1_etl_spark.sinks import versioned as V
    from real_estate_project1_etl_spark.sources.parquet import load_table
    from tests.test_scale import _scan_rows

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    path = str(tmp_path / "vt_z")
    v1 = V.create_or_replace(li, path, n_files=4)
    before = sorted(map(tuple, V.read_snapshot(spark, path).collect()))

    v2 = V.optimize_zorder(spark, path, "l_orderkey", "l_partkey", n_files=16)
    assert v2 == v1 + 1
    after_df = V.read_snapshot(spark, path)
    assert sorted(map(tuple, after_df.collect())) == before  # content identical
    assert after_df.columns == ["l_orderkey", "l_partkey", "l_quantity"]  # no key col

    total = len(before)
    _, s_a = _scan_rows(after_df.filter(F.col("l_orderkey") < 100))
    _, s_b = _scan_rows(after_df.filter(F.col("l_partkey") < 20))
    assert s_a < total / 2 and s_b < total / 2, (s_a, s_b, total)

    # time travel still reaches the pre-clustered version
    old = V.read_snapshot(spark, path, v1)
    assert sorted(map(tuple, old.collect())) == before


def test_table_diff_change_feed(spark, tmp_path):
    from real_estate_project1_etl_spark.sinks import versioned as V

    path = str(tmp_path / "vt_cdc")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    v1 = V.create_or_replace(base, path)
    # v2: update k=2 (value), update k=4 (NULL -> non-NULL), delete k=3,
    # insert k=5, keep k=1 untouched
    v2 = V.upsert(
        spark,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0), (5, "e", 50.0)],
            "k long, s string, v double",
        ),
        path,
        ["k"],
    )
    # upsert keeps k=3 (merge, not replace) — delete it via replace
    cur = V.read_snapshot(spark, path, v2).filter(F.col("k") != 3)
    v3 = V.create_or_replace(cur, path)

    diff = {r["k"]: r for r in V.table_diff(spark, path, v1, v3, ["k"]).collect()}
    assert set(diff) == {2, 3, 4, 5}  # k=1 untouched -> absent
    assert diff[2]["_change"] == "update" and diff[2]["v"] == 25.0
    assert diff[3]["_change"] == "delete" and diff[3]["s"] is None
    assert diff[4]["_change"] == "update" and diff[4]["s"] == "d"
    assert diff[5]["_change"] == "insert" and diff[5]["s"] == "e"


def test_incremental_view_maintenance_equals_recompute(spark, tmp_path):
    from real_estate_project1_etl_spark.operators.ivm import (
        build_count_sum_agg,
        incremental_refresh,
    )
    from real_estate_project1_etl_spark.sinks import versioned as V

    path = str(tmp_path / "vt_ivm")
    v1_rows = [
        (1, "HIGH", 10.50), (2, "HIGH", 20.25), (3, "LOW", 5.00),
        (4, "LOW", 7.75), (5, "MED", 100.00),
    ]
    v1 = V.create_or_replace(
        spark.createDataFrame(v1_rows, "k long, prio string, amount double"), path
    )
    base_agg = build_count_sum_agg(
        V.read_snapshot(spark, path, v1), "prio", "amount"
    ).localCheckpoint()

    # v2: insert k=6, delete k=5 (MED empties out), update k=2 amount,
    # update k=3 moving LOW -> HIGH (group move)
    v2_rows = [
        (1, "HIGH", 10.50), (2, "HIGH", 99.99), (3, "HIGH", 5.00),
        (4, "LOW", 7.75), (6, "LOW", 1.25),
    ]
    v2 = V.create_or_replace(
        spark.createDataFrame(v2_rows, "k long, prio string, amount double"), path
    )

    changes = V.table_diff(spark, path, v1, v2, ["k"], include_old=True)
    got = {
        r["grp"]: (r["n_rows"], float(r["total"]))
        for r in incremental_refresh(base_agg, changes, "prio", "amount").collect()
    }
    exp = {
        r["grp"]: (r["n_rows"], float(r["total"]))
        for r in build_count_sum_agg(
            V.read_snapshot(spark, path, v2), "prio", "amount"
        ).collect()
    }
    assert got == exp
    assert "MED" not in got  # emptied group dropped, exactly like recompute
    assert got["HIGH"] == (3, 115.49)


def test_minmax_touched_group_refresh_equals_recompute(spark, tmp_path):
    from real_estate_project1_etl_spark.operators.ivm import (
        build_minmax_agg,
        refresh_minmax_touched,
    )
    from real_estate_project1_etl_spark.sinks import versioned as V

    path = str(tmp_path / "vt_ivm_mm")
    v1 = V.create_or_replace(
        spark.createDataFrame(
            [(1, "A", 5.0), (2, "A", 9.0), (3, "B", 1.0), (4, "C", 3.0)],
            "k long, g string, v double",
        ),
        path,
    )
    base = build_minmax_agg(V.read_snapshot(spark, path, v1), "g", "v").localCheckpoint()
    # delete the A-max, move k=3 B->A (B empties), C untouched
    v2 = V.create_or_replace(
        spark.createDataFrame(
            [(1, "A", 5.0), (3, "A", 1.0), (4, "C", 3.0)], "k long, g string, v double"
        ),
        path,
    )
    new_table = V.read_snapshot(spark, path, v2)
    changes = V.table_diff(spark, path, v1, v2, ["k"], include_old=True)
    got = {
        r["grp"]: (r["v_min"], r["v_max"])
        for r in refresh_minmax_touched(base, new_table, changes, "g", "v").collect()
    }
    exp = {
        r["grp"]: (r["v_min"], r["v_max"])
        for r in build_minmax_agg(new_table, "g", "v").collect()
    }
    assert got == exp
    assert got["A"] == (1.0, 5.0) and "B" not in got and got["C"] == (3.0, 3.0)


def test_manifest_stats_prune_files_and_preserve_results(spark, tmp_path):
    # range-partitioned commit -> disjoint per-file key ranges in the
    # manifest stats -> a point/range predicate must read FEWER files
    # while returning exactly the full-scan filter result
    path = str(tmp_path / "t_stats")
    df = spark.range(0, 8000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("s"),
    )
    V.create_or_replace(df.repartitionByRange(8, "k"), path)

    m = V._read_manifest(path, V.current_version(path))
    assert m["file_stats"], "manifest must carry per-file stats"
    assert all("k" in st for st in m["file_stats"].values())

    pruned = V.read_snapshot(spark, path, prune=[("k", "=", 4242)])
    assert len(pruned.inputFiles()) < len(m["files"])
    assert [r.v for r in pruned.collect()] == [4242 % 97]

    rng = V.read_snapshot(spark, path, prune=[("k", ">=", 7000)])
    assert len(rng.inputFiles()) < len(m["files"])
    assert rng.count() == 1000

    # string stats prune lexicographically too
    s = V.read_snapshot(spark, path, prune=[("s", "<", "u000100")])
    assert len(s.inputFiles()) < len(m["files"])
    assert s.count() == 100


def test_stats_carry_forward_on_append_and_compact(spark, tmp_path):
    path = str(tmp_path / "t_stats2")
    lo = spark.range(0, 100).select(F.col("id").alias("k"))
    hi = spark.range(100000, 100100).select(F.col("id").alias("k"))
    V.create_or_replace(lo.coalesce(1), path)
    V.append(hi.coalesce(1), path)
    m = V._read_manifest(path, V.current_version(path))
    # both the retained file and the appended file have stats
    assert len(m["file_stats"]) == len(m["files"]) == 2
    pruned = V.read_snapshot(spark, path, prune=[("k", ">", 99999)])
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    # compact rewrites files; fresh stats appear for the new layout
    V.compact(spark, path, target_file_bytes=10**9)
    m2 = V._read_manifest(path, V.current_version(path))
    assert len(m2["file_stats"]) == len(m2["files"])


def test_prune_on_statless_manifest_is_noop(spark, tmp_path):
    # old manifests (pre-stats) must keep working: strip the stats and
    # assert pruning degrades to read-everything + row filter
    path = str(tmp_path / "t_stats3")
    V.create_or_replace(
        spark.range(0, 1000).select(F.col("id").alias("k")).repartition(4), path
    )
    v = V.current_version(path)
    mp = V._manifest_path(path, v)
    m = json.load(open(mp))
    m.pop("file_stats")
    json.dump(m, open(mp, "w"))
    out = V.read_snapshot(spark, path, prune=[("k", "=", 5)])
    assert len(out.inputFiles()) == len(m["files"])
    assert out.count() == 1


def test_prune_all_files_returns_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "t_stats4")
    V.create_or_replace(
        spark.range(0, 10).select(F.col("id").alias("k")), path
    )
    out = V.read_snapshot(spark, path, prune=[("k", ">", 10**9)])
    assert out.count() == 0
    assert out.columns == ["k"]


def test_zorder_plus_manifest_stats_prune_on_both_dimensions(spark, tmp_path):
    # OPTIMIZE ZORDER clusters files on the Morton interleave, so each
    # file covers a narrow range of BOTH columns — manifest stats then
    # prune on either dimension without opening a footer
    path = str(tmp_path / "t_zstats")
    df = spark.range(0, 40000).select(
        (F.xxhash64("id") % 1000).alias("a"),
        (F.xxhash64(F.col("id") + 7) % 1000).alias("b"),
    )
    V.create_or_replace(df, path)
    V.optimize_zorder(spark, path, "a", "b", n_files=16)
    m = V._read_manifest(path, V.current_version(path))
    assert len(m["files"]) == 16

    for col in ("a", "b"):
        pruned = V.read_snapshot(spark, path, prune=[(col, "<", -800)])
        kept = len(pruned.inputFiles())
        assert kept < 16, f"no manifest pruning on {col} after zorder"
        full = V.read_snapshot(spark, path).filter(F.col(col) < -800).count()
        assert pruned.count() == full


# --------------------------------------------------------------------------
# manifest bloom indexes (point-lookup data skipping)
# --------------------------------------------------------------------------


def _bloom_table(spark, path, n_commits=4):
    # interleaved high-cardinality keys + identical "aaa"/"zzz" sentinels
    # in EVERY file: min/max ranges all span [aaa, zzz], so range stats
    # can prune nothing — only the bloom can skip
    V.set_bloom_columns(path, ["s"], n_bits=4096, n_hashes=5)
    for i in range(n_commits):
        rows = [(f"u{j:04d}-{i}", i * 1000 + j) for j in range(50)]
        rows += [("aaa", -1), ("zzz", -2)]
        df = spark.createDataFrame(rows, "s string, v long")
        if i == 0:
            V.create_or_replace(df, path, n_files=1)
        else:
            V.append(df, path, n_files=1)


def test_bloom_prunes_where_minmax_cannot(spark, tmp_path):
    path = str(tmp_path / "bloomtab")
    _bloom_table(spark, path)
    m = V._read_manifest(path, V.current_version(path))
    assert len(m["files"]) == 4 and "file_blooms" in m

    # range stats are useless here: every file spans [aaa, zzz]
    nostats = V.read_snapshot(spark, path, prune=[("s", ">=", "u0000")])
    assert len(nostats.inputFiles()) == 4

    # bloom point lookup: the key lives in exactly one commit's file
    hit = V.read_snapshot(spark, path, prune=[("s", "=", "u0007-2")])
    assert len(hit.inputFiles()) == 1
    assert [r.v for r in hit.collect()] == [2007]

    # absent key: every file bloom-pruned, empty result, correct schema
    miss = V.read_snapshot(spark, path, prune=[("s", "=", "nope")])
    assert miss.count() == 0
    assert miss.columns == ["s", "v"]


def test_bloom_carry_forward_and_no_false_negatives(spark, tmp_path):
    path = str(tmp_path / "bloomcarry")
    _bloom_table(spark, path, n_commits=2)
    # one more append AFTER the others: priors carried forward unchanged
    V.append(spark.createDataFrame([("fresh", 9)], "s string, v long"), path, n_files=1)
    for key, want in [("u0003-0", [3]), ("u0042-1", [1042]), ("fresh", [9])]:
        got = V.read_snapshot(spark, path, prune=[("s", "=", key)])
        assert [r.v for r in got.collect()] == want, key
        assert len(got.inputFiles()) == 1, key


def test_bloom_unsupported_type_never_prunes(spark, tmp_path):
    path = str(tmp_path / "bloomfloat")
    V.set_bloom_columns(path, ["x"])
    df = spark.createDataFrame([(1.5, 1), (2.5, 2)], "x double, v long")
    V.create_or_replace(df, path, n_files=1)
    V.append(spark.createDataFrame([(3.5, 3)], "x double, v long"), path, n_files=1)
    out = V.read_snapshot(spark, path, prune=[("x", "=", 2.5)])
    # floats never participate in blooms; min/max may still prune the
    # second file (2.5 < 3.5) but the matching row must always survive
    assert [r.v for r in out.collect()] == [2]


def test_set_bloom_columns_rejects_bad_n_bits(tmp_path):
    import pytest

    from real_estate_project1_etl_spark.sinks.versioned import set_bloom_columns

    for bad in (0, -8, 12, 4097):
        with pytest.raises(ValueError):
            set_bloom_columns(str(tmp_path / "t"), ["k"], n_bits=bad)
    with pytest.raises(ValueError):
        set_bloom_columns(str(tmp_path / "t"), ["k"], n_hashes=0)
    set_bloom_columns(str(tmp_path / "t"), ["k"], n_bits=4096)  # valid
