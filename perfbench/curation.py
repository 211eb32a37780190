"""``corpus_curation``: the LLM-data curation queries, closed loop.

One client runs whole passes over the query set; each pass is a
seed-ordered permutation.  An op is one query: from calling its builder
(``__spark_entry__.queries()[name]``) to the end of its timed action (see
``harness.checksum``).  Builders that checkpoint eagerly do most of their
work inside the builder call, so the op spans both.

Checks, all outside the timed region: every repetition of a query returns
the checksum of its first run, and once per run every query's result
equals its ``oracle_sql()`` DuckDB transcription, compared through
``tools.driver_sim.canon``.
"""

from __future__ import annotations

import math
import os
import random

from gen import write_corpus_tables
from harness import Engine, log, now, tree_cpu_s

#: the curation queries and the one table each reads.  Left out for the
#: run-time budget of the whole benchmark (their first runs alone take
#: ~20 s): near_dup_components, semantic_dedup,
#: trained_classifier_standing_eval, documents_corpus_build_v6.
QUERIES = {
    "exact_dedup_docs": "documents",
    "minhash_near_dup": "documents",
    "documents_curation_pipeline": "documents",
    "quality_features": "documents",
    "url_canonical_dedup": "documents",
    "bpe_token_stats": "documents",
    "cosine_topk": "embeddings",
    "ivfpq_balanced_adc_topk": "embeddings",
}
N_DOCS = 500
N_VECS = 500
#: untimed passes before the timed ones.  The first pass builds the
#: session_cache artifacts and compiles; after it the JIT still slows the
#: next pass by 10-30 %, after two warm passes by a median of 5 %.
WARM_PASSES = 2


class Curation:
    """The ``corpus_curation`` workload (see the module docstring)."""

    def __init__(self, seed: int, workdir: str, entry):
        self.seed = seed
        self.entry = entry
        self.data_dir = os.path.join(workdir, "corpus")
        self.rows: dict[str, int] = {}
        self.first_sum: dict[str, tuple] = {}
        self.last_df: dict = {}
        self.samples: list[float] = []
        self.cpu_samples: list[float] = []
        self.input_rows = 0
        self.errors: list[str] = []
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.gen_s = 0.0
        self.gauges: dict[str, float] = {}

    def generate(self) -> None:
        t = now()
        self.rows = write_corpus_tables(self.data_dir, self.seed, N_DOCS, N_VECS)
        self.gen_s = now() - t

    def instrument(self, eng: Engine) -> None:
        """Traced run only: spans around the source loader and the session
        cache, plus a hit/miss count for the cache."""
        from real_estate_project1_etl_spark.plans import session_cache

        load, build = self.entry.load_table, session_cache.get_or_build

        def traced_load(*a, **k):
            with eng.tracer.span("sources.load_table"):
                return load(*a, **k)

        def traced_get_or_build(*a, **k):
            before = len(session_cache.cache_info())
            with eng.tracer.span("plans.session_cache"):
                out = build(*a, **k)
            miss = len(session_cache.cache_info()) - before
            eng.add("plans.session_cache.misses", miss)
            eng.add("plans.session_cache.hits", 1 - miss)
            return out

        self.entry.load_table = traced_load
        session_cache.get_or_build = traced_get_or_build

    def _op(self, eng: Engine, name: str, op_id: str, timed: bool) -> None:
        queries = self.entry.queries()
        c0 = tree_cpu_s()
        t0 = now()
        eng.op_begin(op_id)
        try:
            with eng.tracer.span("op"):
                with eng.tracer.span("plans.build"):
                    df = queries[name](eng.spark, self.data_dir)
                got = eng.action(df)
            dt = now() - t0
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, the run goes on
            dt = math.inf
            self.errors.append(f"{op_id} {name}: {type(exc).__name__}: {exc}"[:2000])
            log(self.errors[-1])
            got = None
        finally:
            eng.op_end(op_id)
        if got is not None:
            self.last_df[name] = df
            first = self.first_sum.setdefault(name, got)
            if got != first:
                self.failures.append(f"{name}: checksum {got} != first run {first}")
        cpu = tree_cpu_s() - c0
        log(f"{op_id} {dt:.3f}s cpu {cpu:.2f}s")
        if timed:
            self.samples.append(dt)
            self.cpu_samples.append(cpu)
            if got is not None:
                self.input_rows += self.rows[QUERIES[name]]

    def warm(self, eng: Engine) -> None:
        for k in range(WARM_PASSES):
            for name in QUERIES:
                self._op(eng, name, f"warm{k}-{name}", timed=False)

    def run(self, eng: Engine, seconds: float) -> float:
        """Whole timed passes until ``seconds`` have elapsed; returns the
        timed wall clock.  Whole passes keep the query mix of every run
        the same, so the latency percentiles compare across runs."""
        names = list(QUERIES)
        t0 = now()
        k = 0
        while now() - t0 < seconds:
            for name in random.Random(f"{self.seed}/{k}").sample(names, len(names)):
                self._op(eng, name, f"p{k}-{name}", timed=True)
            k += 1
        return now() - t0

    def check(self, eng: Engine) -> None:
        """Once per run: each query's last result against its oracle."""
        import duckdb

        from tools.driver_sim import canon

        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.rows:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in QUERIES:
                if name not in self.last_df:
                    self.failures.append(f"{name}: never completed")
                    continue
                t = now()
                got = canon(self.last_df[name].toPandas())
                t1 = now()
                want = canon(con.execute(oracles[name]).df())
                log(f"check {name}: engine {t1 - t:.2f}s oracle {now() - t1:.2f}s")
                if got != want:
                    self.failures.append(f"{name}: result differs from oracle_sql()")
        finally:
            con.close()

    def extra_metrics(self, eng: Engine) -> dict:
        return {}
