"""End-to-end batch + streaming pipeline tests (EP1-EP3 collapsed)."""

from __future__ import annotations

import csv
import os

from real_estate_project1_etl_spark.plans.pipeline import run_batch_pipeline
from real_estate_project1_etl_spark.streaming.file_pipeline import (
    idempotent_parquet_batch_sink,
    start_file_pipeline,
    start_foreach_batch_load,
)

HEADER = ["purpose", "address", "size_m2", "design", "price_czk", "link"]
ROWS = [
    ["Prodej bytu 2+kk", "Sokolovska, Praha 8", "43 m2", "2+kk", "5 500 000 Kc", "/n/1"],
    ["Prodej domu", "Brno, Jihomoravsky kraj", "120 m2", "4+1", "9 000 000 Kc", "/n/2"],
    ["Prodej bytu 1+kk", "Bratislava", "30 m2", "1+kk", "450 EUR", "/n/3"],
]


def _write_inbox(tmp_path, name="raw_properties_1.csv"):
    inbox = tmp_path / "inbox"
    inbox.mkdir(exist_ok=True)
    with open(inbox / name, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(HEADER)
        w.writerows(ROWS)
    return str(inbox)


def test_batch_pipeline(spark, tmp_path):
    inbox = _write_inbox(tmp_path)
    silver_path = str(tmp_path / "silver")
    res = run_batch_pipeline(spark, inbox, silver_path=silver_path)
    assert res.bronze_rows == 3
    assert res.silver_rows == 2  # EUR row dropped
    back = spark.read.parquet(silver_path)
    assert back.count() == 2
    assert "ingest_date" in back.columns  # partitioned layout
    # lineage column came from the real scanned file name
    names = {r.file_name for r in back.select("file_name").collect()}
    assert names == {"raw_properties_1.csv"}


def test_streaming_file_pipeline_exactly_once(spark, tmp_path):
    inbox = _write_inbox(tmp_path)
    silver = str(tmp_path / "ssilver")
    ckpt = str(tmp_path / "ckpt")

    q = start_file_pipeline(spark, inbox, silver, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 2

    # restart with no new files -> checkpoint prevents reprocessing
    q = start_file_pipeline(spark, inbox, silver, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 2

    # drop a second file -> only the new one is consumed
    _write_inbox(tmp_path, "raw_properties_2.csv")
    q = start_file_pipeline(spark, inbox, silver, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 4


def test_foreach_batch_load_idempotent(spark, tmp_path):
    # streaming EP3: foreachBatch gold load keyed on batch_id — replaying
    # the same inbox (fresh checkpoint, same data) overwrites, not appends
    inbox = _write_inbox(tmp_path)
    gold = str(tmp_path / "gold")
    sink = idempotent_parquet_batch_sink(gold)

    q = start_foreach_batch_load(spark, inbox, str(tmp_path / "fb_ckpt"), sink)
    q.awaitTermination(120)
    assert spark.read.parquet(gold).count() == 2  # EUR row dropped

    # restart with same checkpoint -> no new batches, nothing double-loaded
    q = start_foreach_batch_load(spark, inbox, str(tmp_path / "fb_ckpt"), sink)
    q.awaitTermination(120)
    assert spark.read.parquet(gold).count() == 2

    # simulate a replay of batch 0 (crash before commit): same batch_id
    # re-delivered -> dynamic overwrite keeps the load exactly-once
    replay = spark.read.parquet(gold).drop("batch_id")
    sink(replay, 0)
    assert spark.read.parquet(gold).count() == 2


def _stream_rows(spark, inbox, ckpt):
    """Run ``start_foreach_batch_load`` once under AvailableNow; returns
    the finished query and ``{batch_id: silver rows}``."""
    got = {}

    def sink(df, batch_id):
        got[batch_id] = df.collect()

    q = start_foreach_batch_load(spark, inbox, ckpt, sink)
    assert q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    return q, got


def test_split_file_keeps_first_copy_in_file_order(spark, tmp_path):
    # A day-file is one scan split in normal use; cut this one into
    # several.  /d/split's first copy is the 6th row of the first split,
    # and every row of the file's second half is a later copy, so each
    # later split starts with one: a row ordinal that restarts per split
    # keeps a later copy
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    rows = [["Prodej bytu", f"Praha {i % 9}", "40 m2", "1+1", f"{1_000_000 + i} Kc",
             f"/f/{i}"] for i in range(400)]
    rows[1][4:] = ["4 000 000 Kc", "/d/near"]  # two copies in one split
    rows[2][4:] = ["5 000 000 Kc", "/d/near"]
    rows[5][4:] = ["2 000 000 Kc", "/d/split"]
    for i in range(200, 400):
        rows[i][4:] = [f"{3_000_000 + i} Kc", "/d/split"]
    path = inbox / "day.tsv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(HEADER)
        w.writerows(rows)
    split = 2048
    assert os.path.getsize(path) > 4 * split

    conf = {"spark.sql.files.maxPartitionBytes": str(split),
            "spark.sql.files.openCostInBytes": "0"}
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        n_splits = (spark.read.option("sep", "\t").option("header", True)
                    .csv(str(path)).rdd.getNumPartitions())
        assert n_splits >= 4, n_splits
        _, got = _stream_rows(spark, str(inbox), str(tmp_path / "ck_fb"))
        silver = str(tmp_path / "silver")
        q = start_file_pipeline(spark, str(inbox), silver, str(tmp_path / "ck_fp"))
        assert q.awaitTermination(120)
        assert q.exception() is None, q.exception()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    want = {"/d/split": 2_000_000, "/d/near": 4_000_000}
    (fb_rows,) = got.values()
    fp_rows = spark.read.parquet(silver).collect()
    for form, out in (("foreach_batch", fb_rows), ("file_pipeline", fp_rows)):
        assert len(out) == 199, form
        prices = {r.link: r.price_czk for r in out if r.link in want}
        assert prices == want, form


def test_stream_keeps_no_state(spark, tmp_path):
    from real_estate_project1_etl_spark.sinks import versioned as V

    inbox = _write_inbox(tmp_path)
    table = str(tmp_path / "table")
    sink = V.stream_sink(table, "t")
    q = start_foreach_batch_load(spark, inbox, str(tmp_path / "ck_fb"), sink)
    assert q.awaitTermination(120)
    q2 = start_file_pipeline(spark, inbox, str(tmp_path / "silver"),
                             str(tmp_path / "ck_fp"))
    assert q2.awaitTermination(120)
    for query, ckpt in ((q, "ck_fb"), (q2, "ck_fp")):
        assert query.exception() is None, query.exception()
        assert query.lastProgress["stateOperators"] == []
        assert not os.path.exists(tmp_path / ckpt / "state")

    # a replay of batch 0 (crash after the commit, before the checkpoint
    # did) leaves the day in the table once
    day = V.read_snapshot(spark, table)
    assert day.count() == 2
    sink(day, 0)
    assert V.read_snapshot(spark, table).count() == 2
    assert len(V.history(table)) == 1


def test_foreach_batch_load_writes_nothing_to_stdout(spark, tmp_path, capfd):
    # a benchmark run reads its result from the last line of stdout, and
    # the engine runs inside the foreachBatch callback
    inbox = _write_inbox(tmp_path)
    capfd.readouterr()
    q, got = _stream_rows(spark, inbox, str(tmp_path / "ck"))
    assert [len(rows) for rows in got.values()] == [2]
    out, _ = capfd.readouterr()
    assert out == ""
