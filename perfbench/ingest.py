"""``daily_ingest``: the reference's daily job, replayed day by day.

For each day the single client

1. writes the seeded day-file (untimed), then times the op: it moves the
   file into the inbox, runs ``streaming.file_pipeline.
   start_foreach_batch_load`` into ``sinks.versioned.stream_sink`` under
   AvailableNow and waits for it, then folds the day into the
   ``plans.rollup`` summary with ``update_rollup``;
2. issues the dashboard reads, each timed on its own: a full-table
   region/price aggregate over ``read_snapshot``, one ``prune=`` point
   read, and two ``query_rollup`` reads.

Table files, manifests and streaming state grow with every day, so the
later days show the read and write cost of that growth.

Checks, outside the timed region: the final table equals a DuckDB
transcription of the clean chain over the same day-files (row count,
``(link, file_name)`` key set, and a hash of the rows whose link is unique
in its file), and the last day's dashboard reads equal the same
aggregates computed by DuckDB over the table's files.  Which copy of a
within-file duplicate the engine keeps is reported, not checked: the
reference keeps the first in file order, the streaming dedup promises no
order.
"""

from __future__ import annotations

import csv
import math
import os
import random

from gen import ListingFeed
from harness import Engine, log, now, p50, tail, tree_cpu_s

#: rows per day-file.  At 10k rows a day's fixed cost (about 35 stages of
#: small jobs and commits) dominated its latency, which then
#: moved more between runs of the same code than at 40k rows, where the
#: scan-and-clean work dominates (quartile spread of the median day over
#: ten runs on a 4-vCPU VM: 0.17-0.29 at 10k rows, 0.11 at 40k)
ROWS_PER_DAY = 40_000
#: untimed days before the timed ones: the first trigger starts the
#: stream machinery, and the JIT keeps cutting a day's CPU time for a few
#: more; timed days that still warm up make the median depend on how many
#: days fit a run
WARM_DAYS = 4
APP_ID = "perfbench"
ROLLUP_GRAIN = ["region", "file_name"]
ROLLUP_SPECS = {
    "n_price": ("count", "price_czk"),
    "sum_price": ("sum", "price_czk"),
    "min_price": ("min", "price_czk"),
    "max_price": ("max", "price_czk"),
}
SILVER_COLS = ["purpose", "address", "region", "size_m2", "design", "price_czk",
               "price_per_m2", "link", "file_name"]


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def clean_chain_sql(rent_rx: str, sale_rx: str, regions: list[str]) -> str:
    """DuckDB transcription of ``operators.cleaning.clean_properties`` in
    its streaming form, over a ``bronze`` relation that carries the raw
    columns plus ``file_name`` and the in-file ordinal ``rn``.  Dedup keeps
    the first row of each ``(link, file_name)`` in file order, as the
    reference's per-file ``drop_duplicates`` does."""
    def nb(c: str) -> str:
        return f"replace({c}, chr(160), ' ') AS {c}"

    in_list = ", ".join(f"'{r}'" for r in regions)
    return f"""
    WITH d AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY link, file_name ORDER BY rn) AS k
            FROM bronze) WHERE k = 1
    ), n AS (
        SELECT {nb('purpose')}, {nb('address')}, {nb('size_m2')}, {nb('design')},
               {nb('price_czk')}, {nb('link')}, file_name FROM d
    ), priced AS (
        SELECT * EXCLUDE (price_czk),
               try_cast(regexp_replace(regexp_replace(price_czk, 'Kc', '', 'g'),
                                       '[^0-9]', '', 'g') AS INTEGER) AS price_czk
        FROM n WHERE NOT coalesce(contains(price_czk, 'EUR'), false)
    ), f AS (
        SELECT * FROM priced
        WHERE price_czk >= 500
          AND NOT (regexp_matches(purpose, '{rent_rx}') AND price_czk <= 1000)
          AND NOT (regexp_matches(purpose, '{sale_rx}') AND price_czk <= 20000)
    ), sized AS (
        SELECT * EXCLUDE (size_m2),
               coalesce(cast(try_cast(regexp_replace(size_m2, 'm2', '', 'g') AS DOUBLE)
                             AS INTEGER), 0) AS size_m2
        FROM f
    ), w AS (
        SELECT *, string_split_regex(trim(address), '\\s+') AS ws,
               contains(lower(address), 'kraj') AS has_kraj
        FROM sized
    ), r AS (
        SELECT *,
            CASE WHEN has_kraj THEN CASE WHEN len(ws) >= 2
                 THEN regexp_replace(array_to_string(ws[-2:], ' '), ',+$', '') ELSE '' END
                 ELSE 'Praha' END AS region,
            CASE WHEN has_kraj THEN CASE WHEN len(ws) > 2
                 THEN regexp_replace(array_to_string(list_slice(ws, 1, len(ws) - 2), ' '),
                                     ',+$', '') ELSE '' END
                 ELSE address END AS address_clean
        FROM w
    ), p AS (
        SELECT *, CASE WHEN size_m2 <> 0
                       THEN cast(ceil(price_czk / size_m2) AS INTEGER) END AS price_per_m2
        FROM r WHERE region IN ({in_list})
    )
    SELECT purpose, address_clean AS address, region, size_m2, design, price_czk,
           price_per_m2, link, file_name
    FROM p
    WHERE NOT (contains(purpose, 'Prodej pozemku') AND price_per_m2 > 80000)
       OR price_per_m2 IS NULL
    """


class Ingest:
    """The ``daily_ingest`` workload (see the module docstring)."""

    def __init__(self, seed: int, workdir: str, entry):
        self.seed = seed
        self.stage = os.path.join(workdir, "stage")
        self.inbox = os.path.join(workdir, "inbox")
        self.table = os.path.join(workdir, "properties_data")
        self.rollup = os.path.join(workdir, "rollup")
        self.ckpt = os.path.join(workdir, "checkpoint")
        for d in (self.stage, self.inbox):
            os.makedirs(d)
        self.feed = ListingFeed(seed, ROWS_PER_DAY)
        self.rng = random.Random(seed)
        self.day = 0
        self._n_staged = 0
        self.samples: list[float] = []
        self.cpu_samples: list[float] = []
        self.reads: list[float] = []
        self.input_rows = 0
        self.input_bytes = 0
        self.gen_s = 0.0
        self.gauges: dict[str, float] = {}
        self.errors: list[str] = []
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.last_reads: dict = {}
        self._pruned: list[float] = []

    # -- inputs -----------------------------------------------------------
    def _stage_next_day(self) -> tuple[str, int, str]:
        """Write the next day-file to the staging dir; returns its name,
        row count and the link the day's point read looks up."""
        t = now()
        name = f"listings_{self._n_staged:04d}.tsv"
        self._n_staged += 1
        rows = self.feed.write_day(os.path.join(self.stage, name))
        self.input_bytes += os.path.getsize(os.path.join(self.stage, name))
        self.gen_s += now() - t
        return name, rows, self.rng.choice(self.feed.links)

    def generate(self) -> None:
        """Writes the warm-up days; the timed days are written one at a
        time outside the timed region."""
        self._warm_days = [self._stage_next_day() for _ in range(WARM_DAYS)]

    def instrument(self, eng: Engine) -> None:
        """Nothing to wrap up front: each day wraps its own sink."""

    # -- one day ----------------------------------------------------------
    def _sink(self, eng: Engine):
        from real_estate_project1_etl_spark.sinks import versioned as V

        inner = V.stream_sink(self.table, APP_ID)

        def sink(df, batch_id):
            with eng.tracer.span("sinks.commit"):
                inner(df, batch_id)

        return sink

    def _land_and_commit(self, eng: Engine, name: str):
        """The op: land the day-file, stream it into the table, fold it into
        the rollup.  Returns the finished streaming query."""
        from real_estate_project1_etl_spark.plans import rollup as RU
        from real_estate_project1_etl_spark.sinks import versioned as V
        from real_estate_project1_etl_spark.streaming.file_pipeline import (
            start_foreach_batch_load,
        )

        tr = eng.tracer
        os.replace(os.path.join(self.stage, name), os.path.join(self.inbox, name))
        with tr.span("streaming.trigger"):
            q = start_foreach_batch_load(eng.spark, self.inbox, self.ckpt, self._sink(eng))
            self._run_id = str(q.runId)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        with tr.span("sinks.read"):
            day_df = V.read_snapshot(eng.spark, self.table,
                                     prune=[("file_name", "=", name)])
        with tr.span("plans.rollup.update"):
            if self.day == 0:
                RU.materialize_rollup(day_df, self.rollup, ROLLUP_GRAIN, ROLLUP_SPECS)
            else:
                RU.update_rollup(day_df, self.rollup, txn=(APP_ID, self.day))
        return q

    def _stream_counters(self, eng: Engine, q) -> None:
        for p in q.recentProgress:
            d = p.get("durationMs", {})
            eng.add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            eng.add("streaming.planning_s", d.get("queryPlanning", 0) / 1000.0)
            eng.add("streaming.wal_commit_s", d.get("walCommit", 0) / 1000.0)
            eng.add("sources.rows_scanned", p.get("numInputRows", 0))
            ops = p.get("stateOperators") or []
            if ops:
                self.gauges["streaming.state_rows"] = float(ops[0].get("numRowsTotal", 0))
        eng.add("sources.files_read", 1)

    def _dashboard(self, eng: Engine, name: str, link: str) -> dict:
        """The dashboard read set, as lazy DataFrames."""
        from pyspark.sql import functions as F

        from real_estate_project1_etl_spark.plans import rollup as RU
        from real_estate_project1_etl_spark.sinks import versioned as V

        tr = eng.tracer
        with tr.span("sinks.read"):
            full = V.read_snapshot(eng.spark, self.table)
        region = full.groupBy("region").agg(
            F.count(F.lit(1)).alias("n"), F.sum("price_czk").alias("sum_price"),
            F.min("price_czk").alias("min_price"), F.max("price_czk").alias("max_price"),
            F.count("price_per_m2").alias("n_ppm2"),
            F.sum("price_per_m2").alias("sum_ppm2"))
        with tr.span("sinks.read"):
            point = V.read_snapshot(eng.spark, self.table, prune=[("link", "=", link)])
        if tr.enabled:
            live = len(full.inputFiles())
            self._pruned.append(len(point.inputFiles()) / max(live, 1))
        with tr.span("plans.rollup.read"):
            by_region = RU.query_rollup(eng.spark, self.rollup, ["region"], {
                "n": ("count", "price_czk"), "sum_price": ("sum", "price_czk")})
            by_day = RU.query_rollup(eng.spark, self.rollup, ["file_name"], {
                "n": ("count", "price_czk"), "max_price": ("max", "price_czk")})
        return {"table_region_price": region, "point_read": point,
                "rollup_region": by_region, "rollup_daily": by_day}

    def _day(self, eng: Engine, name: str, rows: int, link: str, timed: bool) -> float:
        """One day: the op, then the reads.  Returns the seconds both took.
        The traced run's disk and progress bookkeeping happens outside
        both."""
        op_id = f"day-{self.day}"
        self._run_id = None
        tr = eng.tracer
        data_before = _du(self.table) if tr.enabled else 0
        c0 = tree_cpu_s()
        t0 = now()
        eng.op_begin(op_id)
        spent = 0.0
        try:
            with tr.span("op"):
                q = self._land_and_commit(eng, name)
            dt = now() - t0
            spent = dt
            if tr.enabled:
                self._stream_counters(eng, q)
                eng.add("sinks.bytes_written", _du(self.table) - data_before)
            for rname, df in self._dashboard(eng, name, link).items():
                t = now()
                with tr.span(f"read.{rname}"):
                    eng.action(df)
                rt = now() - t
                spent += rt
                if timed:
                    self.reads.append(rt)
                self.last_reads[rname] = df
            self._last_link = link
            cpu = tree_cpu_s() - c0
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, the run goes on
            dt = cpu = math.inf
            spent = now() - t0
            self.errors.append(f"{op_id}: {type(exc).__name__}: {exc}"[:2000])
            log(self.errors[-1])
        finally:
            eng.op_end(op_id, (self._run_id,) if self._run_id else ())
        if timed:
            self.samples.append(dt)
            self.cpu_samples.append(cpu)
            if math.isfinite(dt):
                self.input_rows += rows
        self.day += 1
        return spent

    def warm(self, eng: Engine) -> None:
        for day in self._warm_days:
            self._day(eng, *day, timed=False)

    def run(self, eng: Engine, seconds: float) -> float:
        """Timed days until ``seconds`` of op and read time have elapsed;
        returns that time."""
        wall = 0.0
        while wall < seconds:
            wall += self._day(eng, *self._stage_next_day(), timed=True)
            log(f"day {self.day - 1}: op {self.samples[-1]:.3f}s "
                f"cpu {self.cpu_samples[-1]:.2f}s")
        if eng.tracer.enabled:
            from real_estate_project1_etl_spark.sinks import versioned as V

            self.gauges["streaming.state_bytes"] = float(_du(os.path.join(self.ckpt, "state")))
            self.gauges["sinks.files_live"] = float(V.history(self.table)[-1]["n_files"])
            self.gauges["sinks.manifest_bytes"] = float(
                _du(os.path.join(self.table, "_manifests")))
            self.gauges["sinks.files_pruned_ratio"] = (
                sum(self._pruned) / len(self._pruned) if self._pruned else 0.0)
        return wall

    # -- checks -----------------------------------------------------------
    def _bronze(self):
        import pandas as pd

        frames = []
        for name in sorted(os.listdir(self.inbox)):
            df = pd.read_csv(os.path.join(self.inbox, name), sep="\t", dtype=str,
                             keep_default_na=False, quoting=csv.QUOTE_NONE)
            df = df.replace("", None)
            df["file_name"] = name
            df["rn"] = range(len(df))
            frames.append(df)
        return pd.concat(frames, ignore_index=True)

    def check(self, eng: Engine) -> None:
        import duckdb

        from real_estate_project1_etl_spark.operators.cleaning import (
            RENT_KEYWORDS,
            SALE_KEYWORDS,
        )
        from real_estate_project1_etl_spark.schemas import CZECH_REGIONS
        from real_estate_project1_etl_spark.sinks import versioned as V

        files = [f.removeprefix("file:") for f in
                 V.read_snapshot(eng.spark, self.table).inputFiles()]
        con = duckdb.connect()
        try:
            con.register("bronze_df", self._bronze())
            con.execute("CREATE TABLE bronze AS SELECT * FROM bronze_df")
            con.execute("CREATE TABLE want AS " + clean_chain_sql(
                "|".join(RENT_KEYWORDS), "|".join(SALE_KEYWORDS), CZECH_REGIONS))
            cols = ", ".join(SILVER_COLS)
            con.execute(f"CREATE TABLE got AS SELECT {cols} FROM read_parquet({files!r})")
            self._compare(con)
            self._check_reads(con)
        finally:
            con.close()

    def _compare(self, con) -> None:
        def one(sql: str):
            return con.execute(sql).fetchone()[0]

        n_got, n_want = one("SELECT count(*) FROM got"), one("SELECT count(*) FROM want")
        if n_got != n_want:
            self.failures.append(f"table rows {n_got} != clean-chain transcription {n_want}")
        for a, b in (("got", "want"), ("want", "got")):
            extra = one(f"SELECT count(*) FROM (SELECT link, file_name FROM {a} "
                        f"EXCEPT SELECT link, file_name FROM {b})")
            if extra:
                self.failures.append(f"{extra} (link, file_name) keys in {a} not in {b}")
        row = ("hash(purpose, address, region, size_m2::INTEGER, design, "
               "price_czk::INTEGER, price_per_m2::INTEGER, link, file_name)")
        uniq = ("(SELECT link, file_name FROM bronze GROUP BY ALL HAVING count(*) = 1)")
        h = {t: one(f"SELECT sum({row}::HUGEINT) FROM {t} SEMI JOIN {uniq} u "
                    f"USING (link, file_name)") for t in ("got", "want")}
        if h["got"] != h["want"]:
            self.failures.append("rows whose link is unique in its file differ "
                                 "from the clean-chain transcription")
        dup_keys = ("(SELECT link, file_name FROM bronze GROUP BY ALL HAVING count(*) > 1)")
        diff = one(f"SELECT count(*) FROM (SELECT * FROM got SEMI JOIN {dup_keys} d "
                   f"USING (link, file_name) EXCEPT SELECT * FROM want)")
        total = one(f"SELECT count(*) FROM got SEMI JOIN {dup_keys} d USING (link, file_name)")
        self.notes.append(f"within-file duplicates: engine kept a different copy than "
                          f"first-in-file for {diff} of {total} keys")

    def _check_reads(self, con) -> None:
        import pandas as pd

        if not self.last_reads:
            self.failures.append("no dashboard read completed")
            return
        want = {
            "table_region_price": "SELECT region, count(*) AS n, sum(price_czk) AS sum_price, "
                                  "min(price_czk) AS min_price, max(price_czk) AS max_price, "
                                  "count(price_per_m2) AS n_ppm2, "
                                  "sum(price_per_m2) AS sum_ppm2 FROM got GROUP BY region",
            "point_read": f"SELECT {', '.join(SILVER_COLS)} FROM got "
                          f"WHERE link = '{self._last_link}'",
            "rollup_region": "SELECT region, count(price_czk) AS n, "
                             "sum(price_czk) AS sum_price FROM got GROUP BY region",
            "rollup_daily": "SELECT file_name, count(price_czk) AS n, "
                            "max(price_czk) AS max_price FROM got GROUP BY file_name",
        }

        def norm(df: pd.DataFrame) -> list:
            df = df[[c for c in df.columns if c != "dump_date"]]
            df = df[sorted(df.columns)]
            return sorted(tuple("NULL" if pd.isna(v) else str(int(v)) if not isinstance(v, str)
                                else v for v in r) for r in df.itertuples(index=False))

        for rname, sql in want.items():
            if norm(self.last_reads[rname].toPandas()) != norm(con.execute(sql).df()):
                self.failures.append(f"dashboard read {rname} differs from DuckDB over the table")

    def extra_metrics(self, eng: Engine) -> dict:
        t_val, t_pct, t_n = tail(self.reads)
        stored = _du(self.table) + _du(self.ckpt)
        return {
            "read_p50_s": (p50(self.reads), "s", f"n={len(self.reads)}"),
            "read_tail_s": (t_val, "s", f"p{t_pct:.1f} of n={t_n}"),
            "storage_bytes_per_input_byte": (
                stored / max(self.input_bytes, 1), "ratio",
                f"{stored} bytes of table and stream state for {self.input_bytes} TSV bytes"),
        }
