"""Scale-technique tests: salting preserves semantics; bucketed joins
eliminate the exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.skew import (
    salted_count_sum,
    salted_join,
)
from real_estate_project1_etl_spark.sinks.bucketed import bucketed_join, write_bucketed
from real_estate_project1_etl_spark.sources.parquet import load_table


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    val = F.col("l_quantity").cast("decimal(18,2)")
    salted = {
        (r.l_returnflag,): (r.n, float(r.total))
        for r in salted_count_sum(li, ["l_returnflag"], val, buckets=16).collect()
    }
    plain = {
        (r.l_returnflag,): (r.n, float(r.total))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(val).alias("total"))
        .collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    salted = salted_join(orders, cust, "o_custkey", buckets=4)
    plain = orders.join(cust, "o_custkey")
    assert salted.count() == plain.count()
    s = {tuple(r) for r in salted.select("o_orderkey", "c_nationkey").collect()}
    p = {tuple(r) for r in plain.select("o_orderkey", "c_nationkey").collect()}
    assert s == p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # warehouse.dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=8, sort_col="l_orderkey")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", "l_orderkey", num_buckets=8, sort_col="l_orderkey",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salting_splits_hot_key_evenly(spark):
    # 90% of rows share one key — the straggler shape. Salting must spread
    # the hot key across all buckets with no dominant bucket.
    from real_estate_project1_etl_spark.operators.skew import with_salt

    n = 100_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        F.col("id").alias("v"),
    )
    buckets = 16
    sizes = [
        r.n
        for r in with_salt(df, buckets)
        .filter(F.col("k") == "hot")
        .groupBy("__salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == buckets  # every bucket used
    mean = sum(sizes) / len(sizes)
    assert max(sizes) < 2 * mean, sizes  # no bucket dominates


def test_aqe_splits_skewed_join_partition(spark):
    # The no-code-change skew path (SCALE.md): AQE detects the oversized
    # shuffle partition at runtime and splits it, marking the join
    # skew=true. Thresholds shrunk so the local fixture qualifies.
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 90% of left rows share key 0 -> one hot shuffle partition
        left = spark.range(60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = left.join(right, "k")
        # act on `joined` itself (count() would spawn a separate query
        # execution and leave this one's adaptive plan non-final)
        assert len(joined.collect()) == 60_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _scan_rows(df) -> tuple[int, int]:
    """(rows returned, rows the parquet scan actually emitted) — the gap
    is row-group skipping from footer min/max stats."""
    returned = len(df.collect())
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    it = leaf.metrics().iterator()
    scanned = None
    while it.hasNext():
        kv = it.next()
        if kv._1() == "numOutputRows":
            scanned = kv._2().value()
    return returned, scanned


def test_range_sorted_layout_skips_row_groups(spark, sf_dir, tmp_path):
    from real_estate_project1_etl_spark.sinks.writers import write_range_sorted

    li = load_table(spark, sf_dir, "lineitem")
    total = li.count()

    # int layout key: a narrow key-range scan reads ~1 of 8 row groups
    p_int = str(tmp_path / "li_by_orderkey")
    write_range_sorted(li, p_int, "l_orderkey", partitions=8)
    returned, scanned = _scan_rows(
        spark.read.parquet(p_int).filter(F.col("l_orderkey") < 100)
    )
    assert returned > 0
    assert scanned < total / 4, (scanned, total)

    # time-organized data: DATE layout key skips; the raw TIMESTAMP column
    # does NOT (this build's reader applies stats filtering to numeric and
    # DATE, not TIMESTAMP) — the reason write_range_sorted derives a date
    p_date = str(tmp_path / "li_by_shipdate")
    write_range_sorted(li, p_date, "ship_date", partitions=8, date_from="l_shipdate")
    returned_d, scanned_d = _scan_rows(
        spark.read.parquet(p_date).filter(F.col("ship_date") < "1996-03-01")
    )
    assert returned_d > 0
    assert scanned_d < total / 2, (scanned_d, total)
    _, scanned_ts = _scan_rows(
        spark.read.parquet(p_date).filter(F.col("l_shipdate") < "1996-03-01")
    )
    assert scanned_ts == total, (scanned_ts, total)  # documents the caveat


def test_assign_global_ids_matches_window_and_stays_parallel(spark):
    from real_estate_project1_etl_spark.operators.util import assign_global_ids

    df = spark.range(0, 10_000).repartition(8).withColumnRenamed("id", "k")
    out = assign_global_ids(df, "k")
    rows = {(r["k"], r["global_id"]) for r in out.collect()}
    assert rows == {(i, i) for i in range(10_000)}
    # no global funnel: the naive window form would show an
    # "Exchange SinglePartition" (all rows through one task); this plan
    # must not (AQE may still coalesce TINY test data post-shuffle)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_two_phase_minhash_matches_one_shot_and_skips_exchange(spark, sf_dir):
    # the 100 TB path: materialize the signature table bucketed by id, mine
    # pairs from the read-back table — identical pairs to the one-shot
    # composition, and the candidate-verify joins on id read the bucketed
    # side with no Exchange above its scans.
    from real_estate_project1_etl_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_pairs_from_signatures,
        save_minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    one_shot = {
        tuple(r)
        for r in minhash_near_duplicates(docs, "text", "doc_id").collect()
    }

    save_minhash_signatures(docs, "text", "doc_id", "b_minhash_sig", num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sig = spark.table("b_minhash_sig")
        pairs = minhash_pairs_from_signatures(sig)
        two_phase = {tuple(r) for r in pairs.collect()}
        assert two_phase == one_shot and len(one_shot) > 0

        # bucketed-by-id scans feed the id-equi-joins sort-merge side with
        # no Exchange between FileScan and SortMergeJoin: every Exchange in
        # the plan must hash on the banding keys, never on the id joins.
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        import re

        for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert not exch.startswith("id#"), (exch, plan)
        # strongest form: joining the signature table to itself on id plans
        # with zero Exchange (both sides co-bucketed)
        self_join = sig.select("id", "sig").join(sig.select("id", "sh"), "id")
        sp = self_join._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in sp, sp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_minhash_sig")


def test_fit_once_centroids_reproduce_assignments(spark, sf_dir):
    # fit-once model reuse (SemDeDup / IVF): a saved centroid table must
    # reproduce identical assignments and identical ANN results across
    # independent calls — no per-call KMeans refit drift.
    from real_estate_project1_etl_spark.operators.similarity import (
        assign_to_centroids,
        fit_ivf_centroids,
        ivf_topk,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = fit_ivf_centroids(emb, n_lists=8)
    cents.write.mode("overwrite").parquet("spark-warehouse/ivf_cents")
    saved = spark.read.parquet("spark-warehouse/ivf_cents")

    a1 = {
        tuple(r)
        for r in assign_to_centroids(emb, cents, "embedding").select(
            "vec_id", "list_id"
        ).collect()
    }
    a2 = {
        tuple(r)
        for r in assign_to_centroids(emb, saved, "embedding").select(
            "vec_id", "list_id"
        ).collect()
    }
    assert a1 == a2 and len(a1) > 0

    q = emb.filter(F.col("vec_id") < 5)
    r1 = {tuple(r) for r in ivf_topk(emb, q, k=3, n_probe=2, centroids=cents).collect()}
    r2 = {tuple(r) for r in ivf_topk(emb, q, k=3, n_probe=2, centroids=saved).collect()}
    assert r1 == r2 and len(r1) > 0


def test_incremental_minhash_equals_full_minus_base_pairs(spark, sf_dir):
    # daily-ingest path: mining the new batch against the materialized
    # base must produce EXACTLY the full-corpus pairs that involve at
    # least one new doc — no re-mining of base x base, nothing missed at
    # the batch boundary, no mirrored duplicates
    from real_estate_project1_etl_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_pairs_from_signatures,
        minhash_signature_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = 250
    base = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    full_sig = minhash_signature_table(docs, "text", "doc_id")
    full = {
        tuple(r) for r in minhash_pairs_from_signatures(full_sig).collect()
    }
    expected = {p for p in full if p[0] >= split or p[1] >= split}

    inc = incremental_minhash_pairs(
        minhash_signature_table(new, "text", "doc_id"),
        minhash_signature_table(base, "text", "doc_id"),
    )
    got = {tuple(r) for r in inc.collect()}
    assert got == expected and len(expected) > 0


def test_zorder_layout_skips_on_both_dimensions(spark):
    # the Morton key behind versioned.optimize_zorder; skipping on both
    # clustered columns is asserted on the rewritten table in test_versioned
    from real_estate_project1_etl_spark.sinks.versioned import zorder_key_expr

    # the interleave is a bijection on the masked range: distinct inputs
    # -> distinct keys (sanity on a small exact set)
    keys = (
        spark.createDataFrame(
            [(a, b) for a in range(8) for b in range(8)], "a long, b long"
        )
        .select(zorder_key_expr("a", "b", bits=3).alias("z"))
        .collect()
    )
    assert len({r["z"] for r in keys}) == 64
    # locality: the unit square [0,2)x[0,2) is the contiguous z range [0,4)
    quad = (
        spark.createDataFrame(
            [(a, b) for a in range(2) for b in range(2)], "a long, b long"
        )
        .select(zorder_key_expr("a", "b", bits=3).alias("z"))
        .collect()
    )
    assert sorted(r["z"] for r in quad) == [0, 1, 2, 3]


def test_runtime_bloom_filter_join_injects(spark, tmp_path):
    # 100 TB lever: for a shuffle join with a small selective build side,
    # Spark injects a bloom filter (`might_contain`) into the big side's
    # scan stage so non-matching rows die BEFORE the exchange. The session
    # enables the optimizer rule; the size thresholds (10 GB application
    # side by default) are lowered here to local scale to prove the
    # mechanism engages — at real scale the defaults gate it to exactly
    # the joins where it pays.
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fact_p = str(tmp_path / "bloom_fact")
        dim_p = str(tmp_path / "bloom_dim")
        spark.range(500_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        ).write.parquet(fact_p)
        spark.range(500).select(F.col("id").alias("dk")).write.parquet(dim_p)
        f = spark.read.parquet(fact_p)
        dm = spark.read.parquet(dim_p).filter(F.col("dk") % 5 == 0)
        j = f.join(dm, f.k == dm.dk)
        rows = j.count()
        assert rows == 100  # dk in {0,5,...,495}
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter not injected"
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_dynamic_partition_pruning_prunes_scan(spark, tmp_path):
    # 100 TB lever: a partitioned fact joined to a FILTERED dim must scan
    # only the partitions the dim's surviving keys name — the join-driven
    # complement of the static single-date pruning test in test_sinks.
    # Asserted from the fact scan's numPartitions metric, not the plan
    # text alone.
    from pyspark.sql import functions as F

    fact_p = str(tmp_path / "dpp_fact")
    dim_p = str(tmp_path / "dpp_dim")
    spark.range(100_000).select(
        (F.col("id") % 20).alias("pt"), F.col("id").alias("x")
    ).write.partitionBy("pt").parquet(fact_p)
    spark.range(20).select(
        F.col("id").alias("dpt"), (F.col("id") % 7).alias("attr")
    ).write.parquet(dim_p)

    pf = spark.read.parquet(fact_p)
    dm = spark.read.parquet(dim_p).filter(F.col("attr") == 1)  # dpt 1,8,15
    j = pf.join(dm, pf.pt == dm.dpt)
    # metrics live on THIS dataframe's QueryExecution — run it via
    # collect() (count() would compile and execute a separate plan)
    assert len(j.collect()) == 3 * 5_000
    root = j._jdf.queryExecution().executedPlan()
    assert "dynamicpruning" in root.toString().lower()

    # walk the executed tree, descending through AQE wrappers and
    # QueryStageExec (Spark 4 wraps every materialized stage), to reach
    # the FileSourceScanExec metric counters
    part_counts = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if name == "FileSourceScanExec":
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numPartitions":
                    part_counts.append(kv._2().value())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(root)
    assert 3 in part_counts, part_counts  # 3 of 20 partitions scanned
