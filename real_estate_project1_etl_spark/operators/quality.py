"""Data-quality gate: split a batch into valid rows and quarantined rows.

The reference silently drops or corrupts bad rows inside its filter chain
(e.g. the zero-digit price crash, transform.py:68); here validation is an
explicit operator so bad rows are *routed*, not lost — the
split-and-quarantine pattern every production load needs.

Scale shape: one pass, no shuffle — each rule is a Column predicate
evaluated in the same codegen stage as the scan; the two outputs are two
filters over the same cached/scanned plan. Rule violations are collected
per-row into an array column so the quarantine sink records WHY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validate(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` by the conjunction of named rules.

    Returns ``(valid, quarantined)``; quarantined rows carry a
    ``_violations`` array naming every failed rule. A NULL rule result
    counts as a violation (NULL-safe: rules must evaluate true to pass).
    """
    flags = [
        F.when(expr, F.lit(None).cast("string")).otherwise(F.lit(name))
        for name, expr in rules.items()
    ]
    tagged = df.withColumn(
        "_violations",
        F.filter(F.array(*flags), lambda x: x.isNotNull()),
    )
    valid = tagged.filter(F.size("_violations") == 0).drop("_violations")
    quarantined = tagged.filter(F.size("_violations") > 0)
    return valid, quarantined


#: silver-contract rules for the properties table (FIXTURES.md A2)
def properties_rules() -> dict[str, Column]:
    return {
        "price_positive": F.col("price_czk") > 0,
        "size_nonnegative": F.col("size_m2") >= 0,
        "region_known": F.col("region").isNotNull() & (F.col("region") != ""),
        "link_present": F.col("link").isNotNull() & (F.col("link") != ""),
    }


def deterministic_sample(
    df: DataFrame, key_cols: list[str], keep_nibbles: tuple[str, ...] = ("0", "1", "2")
) -> DataFrame:
    """Keep rows whose md5(key) hex digest starts with one of
    ``keep_nibbles`` — each nibble selects ~1/16 of the corpus.

    The sampling primitive that actually holds at 100 TB: unlike
    ``df.sample()`` / ``sampleBy()`` (whose Bernoulli draw depends on seed,
    partition layout, and row order, so a retry or repartition yields a
    different sample), a content-hash filter is a pure row-local predicate —
    stable under retries, re-partitioning, and engine changes, needs no RNG
    state, runs inside the scan's codegen stage with zero shuffle, and is
    expressible in any engine for differential checks.
    """
    key = F.concat_ws("#", *[F.col(c).cast("string") for c in key_cols])
    return df.filter(F.substring(F.md5(key), 1, 1).isin(*keep_nibbles))


#: 2^60 — the hash space of the 60-bit md5 threshold samplers below
_HASH_SPACE = 1 << 60


def _hash60(key_cols: list[str]):
    """60-bit non-negative content hash of the row key (first 15 hex chars
    of md5) — engine-reproducible (DuckDB:
    ``('0x' || substr(md5(k),1,15))::BIGINT``)."""
    key = F.concat_ws("#", *[F.col(c).cast("string") for c in key_cols])
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def hash_threshold_fractions(fractions: dict[str, float]) -> dict[str, int]:
    """Per-stratum integer thresholds: keep a row iff hash60(key) <
    floor(fraction * 2^60).  Integer thresholds make the predicate exact
    and bit-reproducible in any engine (no RNG, no float compare)."""
    return {s: int(f * _HASH_SPACE) for s, f in fractions.items()}


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_cols: list[str],
) -> DataFrame:
    """Per-stratum deterministic sampling at arbitrary rates — the
    retry-stable replacement for ``sampleBy`` (whose Bernoulli draw
    depends on seed, partition layout, and row order).

    Each stratum keeps rows whose 60-bit content hash falls below
    ``floor(fraction * 2^60)`` — a pure row-local predicate: zero shuffle,
    runs in the scan's codegen stage, stable under retries and
    repartitioning, and exactly mirrorable in SQL for differential
    checks.  Strata not listed are dropped (whitelist semantics, like
    ``sampleBy``).
    """
    h = _hash60(key_cols)
    thresholds = hash_threshold_fractions(fractions)
    cond = None
    for s, t in thresholds.items():
        c = (F.col(strata_col) == s) & (h < F.lit(t))
        cond = c if cond is None else cond | c
    return df.filter(cond)


def cap_per_key(
    df: DataFrame,
    key_cols: list[str],
    n: int,
    order_key_cols: list[str],
) -> DataFrame:
    """Keep at most ``n`` rows per key — the C4/RefinedWeb-style
    per-domain document cap (a handful of hosts contribute millions of
    near-boilerplate pages; capping per registrable domain is a standard
    corpus-balancing step before training).

    Determinism: rows are ranked by the 60-bit content hash of
    ``order_key_cols`` with the raw order key as tiebreak, so the kept
    set is a pure function of row content — stable under retries,
    repartitioning, and engine changes, and exactly mirrorable in SQL
    (same md5 arithmetic as the hash samplers above).
    ``order_key_cols`` is REQUIRED and must distinguish rows within a
    key (an id column): ranking by the key itself would be a constant
    per window and silently degrade to physical row order — exactly the
    retry-nondeterminism this operator exists to prevent.

    Scale shape: ONE shuffle on the key. The ``row_number() <= n`` filter
    compiles to Spark's WindowGroupLimit with a PARTIAL stage — each map
    task pre-prunes to its local top-``n`` per key BEFORE the exchange,
    so a 10M-page domain ships ``n * map_tasks`` rows, never 10M, and the
    final per-key sort is over pre-pruned slivers (asserted in
    tests/test_sampling.py).
    """
    from pyspark.sql import Window

    if set(order_key_cols) <= set(key_cols):
        raise ValueError(
            "cap_per_key: order_key_cols must include a column outside "
            "key_cols (an id) — ordering by the key alone is constant per "
            "window, making the kept set depend on physical row order"
        )
    # collision-proof internal rank column (ADVICE round 4: a caller `_rn`
    # column was silently overwritten and destroyed by the old name)
    rn = "__cap_rn"
    if rn in df.columns:
        raise ValueError(
            f"cap_per_key: df already has a column {rn!r} — rename it; "
            "this name is reserved for the internal rank column"
        )
    h = _hash60(order_key_cols)
    tiebreak = [F.col(c) for c in order_key_cols]
    w = Window.partitionBy(*key_cols).orderBy(h, *tiebreak)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= n)
        .drop(rn)
    )


def mixture_hash_sample(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    key_cols: list[str],
) -> DataFrame:
    """Deterministic-hash variant of :func:`mixture_sample`: same
    largest-feasible-total math (K = min_s count_s/w_s; fraction =
    w_s*K/count_s), but the per-source draw is the 60-bit content-hash
    threshold instead of a seeded Bernoulli — identical expected
    proportions, bit-stable membership under retries/repartitioning, and
    the whole operator (including the fraction computation) is
    reproducible in SQL from the same weight literals.
    """
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    present = {s: w for s, w in weights.items() if s in counts and w > 0}
    if not present:
        return df.limit(0)
    k = min(counts[s] / w for s, w in present.items())
    fractions = {s: min(1.0, w * k / counts[s]) for s, w in present.items()}
    return stratified_hash_sample(df, source_col, fractions, key_cols)


def sequential_poisson_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_cols: list[str],
    id_order_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows, inclusion probability
    ~ proportional to ``weight_col`` (sequential Poisson / order sampling,
    Ohlsson 1998 — the standard PPS design for fixed sample size).

    Each row gets priority ``w / u`` where ``u = hash60(key) + 1`` is its
    deterministic uniform draw on (0, 2^60]; the ``k`` largest priorities
    are the sample. Because the draw is a content hash, the sample is
    stable under retries / repartitioning / engine changes (same rationale
    as :func:`deterministic_sample`), and because ``w / u`` is a single
    IEEE-correctly-rounded double division of two exactly-agreed inputs,
    the priority — and therefore the selected set — is bit-identical in
    any engine, making the sampler differentially checkable.

    Scale shape: priority is a row-local expression in the scan stage;
    the top-k is ``orderBy(...).limit(k)`` = TakeOrderedAndProject (a
    per-partition heap + driver merge of k*partitions rows) — no global
    sort, no full shuffle.
    """
    h = _hash60(key_cols)
    pr = F.col(weight_col).cast("double") / (h + F.lit(1)).cast("double")
    order = [F.col("priority").desc()]
    if id_order_col:
        order.append(F.col(id_order_col))  # total order under priority ties
    return df.withColumn("priority", pr).orderBy(*order).limit(k)


def component_atomic_split(
    ids: DataFrame,
    labels: DataFrame,
    test_threshold: int,
    id_col: str = "doc_id",
    labels_id_col: str = "id",
) -> DataFrame:
    """Leakage-free train/test assignment: every member of a near-dup
    component goes to the SAME side, because the split hash is taken on
    the component representative, not the document.

    A naive per-document hash split puts near-duplicates of training
    documents into the test set — the train-test contamination that
    inflates every downstream eval (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499 §4 measure
    exactly this leakage class). Splitting on the component id (from
    :func:`~.graph.connected_components` over the near-dup pair graph)
    makes cross-split near-dup pairs structurally impossible: both
    endpoints of any pair share a component, hence a hash, hence a side.

    ``labels`` is the ``(labels_id_col, comp)`` table (default id column
    name ``id``, the :func:`~.graph.connected_components` output); ids
    absent from it (docs with no near-dup edge) are their own singleton
    component. The returned ``comp`` column is kept in the ID COLUMN'S
    NATIVE TYPE (labels' comp is cast to it before the singleton
    coalesce) so non-numeric string ids keep their own id as the
    singleton component instead of silently turning NULL under a bigint
    cast — the split hash itself always runs on the string form either
    way. A label
    table with DUPLICATE ids would silently duplicate corpus rows
    through the join (the failure class the round-11 advice flagged on
    initial_weights), so distinctness is validated with one tiny
    aggregate before the plan is returned — malformed labels fail loud.
    ``test_threshold`` is the integer 60-bit hash cutoff (use
    :func:`hash_threshold_fractions` semantics: ``floor(frac * 2^60)``).
    Returns ``(id_col, comp, split)`` with split in {'train', 'test'} —
    deterministic, retry/partitioning-stable, engine-reproducible.

    Scale shape: one equi-join of the corpus ids against the
    component-label table (labels cover only docs WITH near-dup edges —
    a small fraction of a deduplicated corpus); the hash and the split
    are row-local scan-stage expressions.
    """
    lab = labels.select(F.col(labels_id_col).alias(id_col), F.col("comp"))
    chk = lab.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.col(id_col)).alias("_nd"),
    ).collect()[0]
    if chk["_n"] != chk["_nd"]:
        raise ValueError(
            "component_atomic_split: labels carry duplicate ids "
            f"({chk['_n']} rows, {chk['_nd']} distinct) — a duplicate "
            "would silently duplicate corpus rows through the join"
        )
    id_type = ids.schema[id_col].dataType
    comp = F.coalesce(F.col("comp").cast(id_type), F.col(id_col))
    h = _hash60(["_comp_key"])
    return (
        ids.select(id_col)
        .join(lab, id_col, "left")
        .select(
            id_col,
            comp.alias("comp"),
            comp.cast("string").alias("_comp_key"),
        )
        .select(
            id_col,
            "comp",
            F.when(h < F.lit(int(test_threshold)), F.lit("test"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def split_leakage_count(
    pairs: DataFrame,
    split_df: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """One row ``(n_train, n_test, leaked_pairs)`` auditing a split
    against a near-dup pair set: ``leaked_pairs`` counts pairs whose
    endpoints landed on different sides — 0 iff the split is leakage-
    free w.r.t. that pair graph (the invariant
    :func:`component_atomic_split` guarantees by construction and this
    audit proves empirically). Pairs with an endpoint absent from
    ``split_df`` are excluded from the leak count (inner joins) — audit
    the same corpus you split.

    Scale shape: two broadcast-sized equi-joins of the pair list against
    the (id, split) table keyed on the id — pair volume is the banded
    candidate set, never corpus². The split-count aggregate is one pass
    over the split table.
    """
    s = split_df.select(F.col(id_col), F.col(split_col))
    sa = s.select(
        F.col(id_col).alias(id_a), F.col(split_col).alias("_sp_a")
    )
    sb = s.select(
        F.col(id_col).alias(id_b), F.col(split_col).alias("_sp_b")
    )
    leaked = (
        pairs.select(id_a, id_b)
        .join(sa, id_a)
        .join(sb, id_b)
        .agg(
            F.coalesce(
                F.sum((F.col("_sp_a") != F.col("_sp_b")).cast("bigint")),
                F.lit(0),
            ).alias("leaked_pairs")
        )
    )
    counts = s.agg(
        F.coalesce(
            F.sum((F.col(split_col) == "train").cast("bigint")), F.lit(0)
        ).alias("n_train"),
        F.coalesce(
            F.sum((F.col(split_col) == "test").cast("bigint")), F.lit(0)
        ).alias("n_test"),
    )
    return counts.crossJoin(leaked)


def observe_metrics(
    df: DataFrame, metrics: dict[str, Column]
) -> tuple[DataFrame, "object"]:
    """Attach named metrics to a DataFrame via ``Observation`` — they are
    computed DURING whatever action next consumes the frame (a write, a
    count), piggybacking on that single pass instead of re-scanning.

    At 100 TB this is the difference between free pipeline telemetry
    (row counts, null counts, violation counts collected while the sink
    writes) and a second full-table job. Spark evaluates the metric
    expressions as accumulators inside the existing tasks.

    Returns ``(observed_df, observation)``; read ``observation.get`` after
    the action completes. Metric expressions must be aggregates.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *[m.alias(name) for name, m in metrics.items()])
    return out, obs


def standard_write_metrics(rules: dict[str, Column]) -> dict[str, Column]:
    """Row count + per-rule violation counts as observe-able aggregates —
    pair with ``observe_metrics`` to get the ``validate`` quarantine's
    accounting without the split (when routing rows isn't needed, only
    counting them)."""
    out: dict[str, Column] = {"n_rows": F.count(F.lit(1))}
    for name, ok in rules.items():
        out[f"violations_{name}"] = F.sum(
            F.when(~F.coalesce(ok, F.lit(False)), 1).otherwise(0)
        )
    return out


def mixture_sample(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Down-sample sources to target mixture proportions — data-mixing
    weights, the knob every pretraining corpus recipe turns (e.g. "wiki
    20%, web 70%, code 10%").

    Solves for the largest feasible total: K = min_s(count_s / w_s) (the
    scarcest source relative to its target binds), then draws each source
    Bernoulli with fraction w_s·K / count_s — the binding source keeps
    everything, the rest thin down. Expected output proportions equal the
    targets; nothing is up-sampled (no duplication).

    Scale shape: one count aggregate (sources-sized result to the
    driver), then one seeded ``sampleBy`` pass — a scan-stage filter, no
    shuffle. Deterministic under retries for a fixed seed and layout.
    """
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    present = {s: w for s, w in weights.items() if s in counts and w > 0}
    if not present:
        return df.limit(0)
    k = min(counts[s] / w for s, w in present.items())
    fractions = {s: min(1.0, w * k / counts[s]) for s, w in present.items()}
    return df.filter(F.col(source_col).isin(list(present))).sampleBy(
        source_col, fractions, seed
    )


def temperature_sample(
    df: DataFrame,
    source_col: str,
    key_cols: list[str],
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based source rebalancing: down-sample each source so
    kept counts are proportional to ``count^alpha`` (``alpha=1`` keeps
    the natural mix, ``alpha=0`` flattens to uniform; ``alpha≈0.3-0.7``
    is the standard multilingual/multi-source pretraining upweighting of
    small sources — without up-sampling, so no row is ever duplicated).

    Per-source keep rate ``r_s = (n_min / n_s)^(1-alpha)`` — the
    smallest source keeps everything, larger sources thin toward it.
    Rows are kept by the deterministic 60-bit content-hash threshold
    ``hash60(key) < floor(r_s * 2^60)`` (same primitive as
    :func:`stratified_hash_sample`): a pure row-local predicate, stable
    under retries and repartitioning, no RNG.

    Determinism note: at the default ``alpha=0.5`` the rate is computed
    with ``sqrt`` (IEEE correctly-rounded, so the integer threshold is
    bit-identical in any engine — differentially checkable); other
    alphas go through ``pow``, which is deterministic within Spark but
    not guaranteed to the last ulp across engines.

    Output schema is exactly the input schema — the internal per-source
    count and threshold columns are dropped before returning.  Rows with
    a NULL ``source_col`` are DROPPED: NULL is not a source, it has no
    count and no principled temperature weight, and the broadcast
    equi-join that attaches thresholds never matches it (filter NULLs
    into their own bucket upstream if they must survive).

    Scale shape: one sources-sized count aggregate, thresholds broadcast
    back, filter runs in the scan's codegen stage — the corpus never
    shuffles and nothing collects to the driver.
    """
    for c in ("_ts_n_total", "_ts_thr"):
        if c in df.columns:
            raise ValueError(
                f"temperature_sample: input already has internal column {c!r}"
            )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_ts_n_total"))
    nmin = counts.agg(F.min("_ts_n_total").alias("_nmin"))
    ratio = F.col("_nmin").cast("double") / F.col("_ts_n_total").cast("double")
    rate = (
        F.sqrt(ratio)
        if alpha == 0.5
        else F.pow(ratio, F.lit(1.0 - alpha))
    )
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        source_col,
        F.floor(rate * F.lit(float(_HASH_SPACE))).cast("long").alias("_ts_thr"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(_hash60(key_cols) < F.col("_ts_thr"))
        .drop("_ts_thr")
        .select(*df.columns)
    )


def calibrated_quality_gate(
    df: DataFrame,
    score_col: str,
    group_cols: list[str],
    keep_frac: float,
    order_key_cols: list[str],
) -> DataFrame:
    """Keep the top ``keep_frac`` fraction of EACH group by score — the
    per-source quality-threshold calibration step of modern curation
    recipes (DCLM/FineWeb-style): quality scores are not comparable
    across sources (a median news page outscores a great forum post), so
    one global cutoff silently drops whole sources; calibrating the
    threshold per source keeps the best X% of each.

    Semantics: rank rows within each group by ``score_col`` DESCENDING
    (ties broken by ``order_key_cols`` — required, an id, so the kept
    set is a pure function of row content like :func:`cap_per_key`);
    keep rank <= ceil(keep_frac * group_size).  ceil means every
    non-empty group keeps at least one row — a tiny source is never
    silently eliminated by rounding.  NULL scores rank BELOW every real
    score (Spark desc = NULLS LAST): an unscored row survives only when
    the group's quota reaches past all scored rows, and NULL-vs-NULL
    order is still content-deterministic via the id tiebreak.

    Scale shape: ONE shuffle on the group key serving both the
    row_number and the count (same window partitioning); the comparison
    is rank-vs-count inside the window stage, so no second pass and no
    driver-side threshold table.  At 100 TB the per-group sort is the
    cost — groups are sources/domains (bounded), and a skewed mega-group
    pre-prunes nothing here (every row needs its rank), so mega-sources
    should be domain-capped FIRST (:func:`cap_per_key`), which is the
    pipeline order the curation recipes use anyway.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(
            f"calibrated_quality_gate: keep_frac must be in (0, 1], got "
            f"{keep_frac}"
        )
    if set(order_key_cols) <= set(group_cols):
        raise ValueError(
            "calibrated_quality_gate: order_key_cols must include a "
            "column outside group_cols (an id) — score ties broken by "
            "the group alone depend on physical row order"
        )
    from pyspark.sql import Window

    for internal in ("__cqg_rn", "__cqg_n"):
        if internal in df.columns:
            raise ValueError(
                f"calibrated_quality_gate: df already has a column "
                f"{internal!r} — rename it; this name is reserved"
            )
    wp = Window.partitionBy(*group_cols)
    w = wp.orderBy(
        F.col(score_col).desc(), *[F.col(c) for c in order_key_cols]
    )
    return (
        df.withColumn("__cqg_rn", F.row_number().over(w))
        .withColumn("__cqg_n", F.count(F.lit(1)).over(wp))
        .filter(
            F.col("__cqg_rn") <= F.ceil(F.col("__cqg_n") * F.lit(keep_frac))
        )
        .drop("__cqg_rn", "__cqg_n")
    )


def curation_funnel(
    df: DataFrame, stages: list[tuple[str, Column]]
) -> DataFrame:
    """Per-stage drop accounting for a sequential filter pipeline — the
    observability report every curation chain needs ("we started with
    10M pages; the length gate dropped 2M, the quality gate 1.5M, dedup
    800k, ...").

    ``stages`` is the ordered ``(name, keep_predicate)`` list; a row
    reaches stage ``i`` iff it passed every earlier predicate (the same
    short-circuit semantics as chaining ``.filter`` calls). Returns one
    row per stage plus an ``__input__`` row:
    ``(stage_idx, stage, n_in, n_dropped, n_out)``.

    Scale shape: ONE scan — each stage's survival is a conditional
    expression over the row, the per-stage counts are a single
    conditional-sum aggregate (no N passes, no N filters, no cache),
    and the output is stages-sized. NULL predicate results drop the row
    (filter semantics).
    """
    if not stages:
        raise ValueError("curation_funnel: stages must be non-empty")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError("curation_funnel: stage names must be unique")
    alive = F.lit(True)
    survived: list[Column] = []
    for _, pred in stages:
        alive = alive & F.coalesce(pred, F.lit(False))
        survived.append(alive)
    aggs = [F.count(F.lit(1)).alias("_n0")] + [
        F.sum(s.cast("bigint")).alias(f"_s{i}") for i, s in enumerate(survived)
    ]
    wide = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(0).alias("stage_idx"),
            F.lit("__input__").alias("stage"),
            F.col("_n0").alias("n_in"),
            F.lit(0).cast("bigint").alias("n_dropped"),
            F.col("_n0").alias("n_out"),
        )
    ]
    for i, name in enumerate(names):
        prev = F.col("_n0") if i == 0 else F.col(f"_s{i-1}")
        cur = F.col(f"_s{i}")
        rows.append(
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(name).alias("stage"),
                prev.alias("n_in"),
                (prev - cur).alias("n_dropped"),
                cur.alias("n_out"),
            )
        )
    return wide.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


def hashed_linear_classifier(
    docs: DataFrame,
    weights: DataFrame,
    dim: int,
    threshold_milli: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Quality-classifier INFERENCE over hashed bag-of-words features —
    the fastText-style linear gate modern curation recipes run at corpus
    scale (DCLM's fastText filter, LLaMA's Wikipedia-reference
    classifier): ``score = bias + sum_t count(t) * w[h(t) mod dim]``,
    keep iff ``score >= threshold``.

    ``weights`` is a ``(feature_id, weight_milli)`` table (integer
    milli-units — training happens offline; inference is the engine's
    job). ``hash_fn``: ``md5_60`` (default) makes feature ids, scores,
    and the kept SET bit-identical in any engine — differentially
    checkable, stable under retries and repartitioning; ``xxhash64``
    (JVM-native, measured ~3.5x the token throughput at the 8M-token
    probe: 2.3 s vs 7.8 s warm) is the production choice when the trained model's hash
    matches and cross-engine replay isn't needed — its negative hashes
    are folded with ``pmod`` so feature ids stay in [0, dim).
    Logistic link not applied: sigmoid is monotone, so thresholding the
    linear score with a pre-transformed cutoff is the same gate with
    exact integer arithmetic.

    Returns ``(id_col, score_milli, kept)`` for every input document
    (empty docs score ``bias`` alone = 0 + their ''-token weight if the
    empty string hashes into a used bucket — the whitespace tokenizer
    emits '' only for empty text).

    Scale shape: tokenize + hash in the scan stage; the doc token
    stream pre-collapses to (doc, feature, n) — one shuffle on the
    feature id, Zipf-collapsed; the weight table (``dim`` rows, the
    model) broadcasts; per-doc score is one more agg on the doc key.
    The corpus text never shuffles, no Python anywhere.
    """
    from .corpus import tokenize_positions
    from .dedup import shingle_hash_expr
    from .util import ensure_parallelism

    fid = F.pmod(shingle_hash_expr(F.col("w"), hash_fn), F.lit(dim))
    # per-token hashing is CPU-bound and a single-file scan is one task —
    # spread before the explode (the same guard minhash/prefix-filter use)
    feats = (
        tokenize_positions(
            ensure_parallelism(
                docs.select(
                    F.col(id_col).alias("doc_id"), F.col(text_col)
                )
            ),
            text_col,
        )
        .select("doc_id", fid.alias("feature_id"))
        .groupBy("doc_id", "feature_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        feats.join(F.broadcast(weights), "feature_id", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("n") * F.coalesce(F.col("weight_milli"), F.lit(0))
            ).alias("score_milli")
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("score_milli"), F.lit(0)).cast("bigint").alias(
                "score_milli"
            ),
            (
                F.coalesce(F.col("score_milli"), F.lit(0))
                >= F.lit(threshold_milli)
            ).alias("kept"),
        )
    )


def train_hashed_classifier(
    docs: DataFrame,
    dim: int,
    n_iters: int = 8,
    lr_num: int = 1,
    lr_den: int = 64,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
    fit_bias: bool = False,
    l2_num: int = 0,
    l2_den: int = 1,
    n_batches: int = 1,
    initial_weights: DataFrame | None = None,
) -> DataFrame:
    """TRAIN the weights :func:`hashed_linear_classifier` scores with —
    full-batch gradient descent on a logistic model over the SAME hashed
    bag-of-words features, the in-engine counterpart of fitting a
    DCLM-style fastText quality filter on labeled seed sets. One
    gradient-sum aggregation per iteration; everything else is the
    feature plumbing inference already uses.

    Model, in the module's scaled-integer convention (exact arithmetic
    end to end, so an oracle can mirror the full training trajectory):

    - features ``x_ij`` = token count of doc ``i`` in hash bucket ``j``
      (``h(tok) mod dim``, same ``hash_fn`` contract as inference);
    - margin ``m_i = sum_j x_ij * w_j`` in milli-units (bigint, exact);
    - predicted probability via the HARD sigmoid ``p = clip(1/2 + m/4,
      0, 1)`` — the standard piecewise-linear logistic link (used
      wherever transcendental exactness is unavailable); in millis:
      ``p_milli = least(greatest(500 + m div 4, 0), 1000)``. Both
      engines truncate integer division toward zero (verified for
      negative operands), so ``p_milli`` is cross-engine exact.
    - residual ``r_i = p_milli - 1000*y_i`` (labels 0/1);
    - gradient ``g_j = sum_i r_i * x_ij`` (one feature-keyed
      aggregation — THE per-iteration cost);
    - update ``w_j -= (g_j * lr_num) div lr_den`` (caller-tuned
      integer learning rate; by default no bias term — inference's
      ``threshold_milli`` absorbs the intercept).

    ``fit_bias=True`` trains an intercept as a virtual always-on
    feature with count 1 at ``feature_id = dim`` (one UNION row per
    doc — the loop itself is unchanged, the bias gradient is simply
    ``sum_i r_i``). The returned table then has ``dim + 1`` rows; to
    score with :func:`hashed_linear_classifier` (which has no bias
    input), filter the bias row out and subtract its value from
    ``threshold_milli`` — ``score + b >= t`` is ``score >= t - b``.
    The bias is never L2-decayed (standard practice).

    ``l2_num/l2_den`` add integer weight decay: each iteration also
    subtracts ``(w_j * l2_num) div l2_den`` from every hashed weight —
    the scaled-integer form of L2 regularization, exact cross-engine
    like everything else here. Defaults (0/1) disable it.

    ``n_batches > 1`` switches to DETERMINISTIC mini-batch gradient
    descent: ``n_iters`` becomes the epoch count, and each epoch takes
    ``n_batches`` sequential steps over content-hash partitions of the
    corpus (``hash60(doc_id) mod n_batches`` — the engine's standard
    retry/partitioning-stable draw, so "stochastic" order is a pure
    function of row content and an oracle can replay every step).
    Mini-batch steps converge faster per epoch at the cost of more
    driver round-trips per epoch; batch membership is a scan-stage
    filter, never a join. L2 decay (when enabled) applies per STEP —
    ``n_iters * n_batches`` times in total — as in standard SGD weight
    decay.

    Labels: ``label_col`` must be 0/1 (seed-set membership). NULL-label
    rows are EXCLUDED from training (same explicit contract as
    hard_negative_mining) — score them at inference instead.

    ``initial_weights`` RESUMES training from a prior weight table
    instead of zeros (same ``(feature_id, weight_milli)`` shape this
    function returns; must carry exactly the expected ``dim`` —
    ``+ 1`` with ``fit_bias`` — rows, validated with one tiny count).
    This is the replay hook the streaming train-while-ingest twin
    (:mod:`..streaming.incremental_training`) folds micro-batches
    through — the classifier counterpart of the BPE trainer's
    ``initial_merges`` — and the sequence of updates is a pure function
    of (initial weights, batch content), so split training equals
    one-shot training on the concatenation ONLY when the batch
    partitioning matches (SGD order matters; determinism, not
    order-insensitivity, is the contract).

    Returns the ``(feature_id, weight_milli)`` table
    :func:`hashed_linear_classifier` takes, with all ``dim`` rows
    (untouched buckets carry weight 0).

    Scale shape: the corpus is tokenized+hashed ONCE into the
    Zipf-collapsed ``(doc, feature, n, _y)`` table (the label rides the
    feature rows — one broadcast join absorbed into the build) and
    localCheckpointed — iterations never rescan text. Each iteration is
    two equi-keyed aggregations (margins on the doc key — residuals fall
    straight out of that aggregation, no labels join — and gradients on
    the feature key) plus a broadcast of the dim-sized weight table;
    weights re-checkpoint every iteration (dim rows — trivial), capping
    lineage the pagerank_fixed way. Per-iteration cost scales with the
    collapsed feature table, not corpus bytes, and nothing is collected
    to the driver.
    """
    from .corpus import tokenize_positions
    from .dedup import shingle_hash_expr
    from .util import ensure_parallelism

    if dim < 1:
        raise ValueError(f"train_hashed_classifier: dim must be >= 1, got {dim!r}")
    if n_iters < 1:
        raise ValueError(
            f"train_hashed_classifier: n_iters must be >= 1, got {n_iters!r}"
        )
    if lr_den < 1 or lr_num < 1:
        raise ValueError(
            "train_hashed_classifier: lr_num/lr_den must be positive, got "
            f"{lr_num!r}/{lr_den!r}"
        )
    if l2_num < 0 or l2_den < 1:
        raise ValueError(
            "train_hashed_classifier: need l2_num >= 0 and l2_den >= 1, got "
            f"{l2_num!r}/{l2_den!r}"
        )
    if n_batches < 1:
        raise ValueError(
            f"train_hashed_classifier: n_batches must be >= 1, got {n_batches!r}"
        )
    spark = docs.sparkSession
    base = ensure_parallelism(
        docs.filter(F.col(label_col).isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col),
            F.col(label_col).cast("int").alias("_y"),
        )
    )
    fid = F.pmod(shingle_hash_expr(F.col("w"), hash_fn), F.lit(dim))
    # the label rides the feature table (one broadcast join absorbed
    # into the feats checkpoint) so each GD iteration computes residuals
    # straight out of the margin aggregation — no per-iteration labels
    # join, no separate labels checkpoint.  Docs with NO feature rows
    # contributed nothing to any gradient before (the gradient join on
    # feats is inner), so dropping their residual rows is value-exact.
    labels = base.select("doc_id", "_y")
    feats = (
        tokenize_positions(base.select("doc_id", text_col), text_col)
        .select("doc_id", fid.alias("feature_id"))
        .groupBy("doc_id", "feature_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(labels), "doc_id")
    )
    if fit_bias:
        # the intercept as a virtual always-on feature at id = dim: one
        # UNION row per doc, and the training loop needs no special case
        feats = feats.unionAll(
            labels.select(
                "doc_id",
                F.lit(dim).cast("bigint").alias("feature_id"),
                F.lit(1).cast("bigint").alias("n"),
                "_y",
            )
        )
    # LAZY checkpoints throughout the loop: plans stay truncated at the
    # checkpoint leaves, but nothing schedules a job until the caller's
    # action (or the initial_weights validation aggregate) — the blocks
    # materialize inside that one execution and iterations reuse them,
    # instead of paying one scheduled job per checkpoint (interleaved
    # A/B: 3-iter training 3.29 -> 2.27 s median, trajectory-identical).
    feats = feats.localCheckpoint(eager=False)
    n_weights = dim + (1 if fit_bias else 0)
    if initial_weights is not None:
        if not {"feature_id", "weight_milli"} <= set(initial_weights.columns):
            raise ValueError(
                "train_hashed_classifier: initial_weights needs columns "
                f"(feature_id, weight_milli), got {initial_weights.columns}"
            )
        # lazy: the validation aggregate right below is the
        # materializing action
        weights = initial_weights.select(
            F.col("feature_id").cast("bigint"),
            F.col("weight_milli").cast("bigint"),
        ).localCheckpoint(eager=False)
        # one aggregate validates shape AND key integrity: a table with
        # the right row count but duplicate feature_ids would pass a bare
        # count, then silently duplicate rows through the margin join and
        # orphan the missing buckets — exactly what the check exists for
        chk = weights.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("feature_id").alias("nd"),
            F.min("feature_id").alias("lo"),
            F.max("feature_id").alias("hi"),
        ).first()
        if (
            chk["n"] != n_weights
            or chk["nd"] != n_weights
            or chk["lo"] != 0
            or chk["hi"] != n_weights - 1
        ):
            raise ValueError(
                f"train_hashed_classifier: initial_weights must hold exactly "
                f"one row per feature_id in [0,{n_weights - 1}] "
                f"(dim={dim}, fit_bias={fit_bias}); got {chk['n']} rows, "
                f"{chk['nd']} distinct ids in [{chk['lo']},{chk['hi']}] — "
                "duplicates would fan out the margin join, gaps would orphan "
                "buckets"
            )
    else:
        weights = spark.range(n_weights).select(
            F.col("id").cast("bigint").alias("feature_id"),
            F.lit(0).cast("bigint").alias("weight_milli"),
        )
    for _ in range(n_iters):
        for b in range(n_batches):
            if n_batches == 1:
                bf = feats
            else:
                member = (
                    F.pmod(_hash60(["doc_id"]), F.lit(n_batches)) == b
                )
                bf = feats.filter(member)
            # residuals fall straight out of the margin aggregation
            # (the label is constant per doc — min() reads it exactly);
            # docs without feature rows never reach the gradient's
            # inner join, so their absence here is value-exact
            margins = (
                bf.join(F.broadcast(weights), "feature_id")
                .groupBy("doc_id")
                .agg(
                    F.sum(F.col("n") * F.col("weight_milli")).alias("_m"),
                    F.min("_y").alias("_y"),
                )
            )
            resid = margins.select(
                "doc_id",
                (
                    F.least(
                        F.greatest(
                            F.lit(500) + F.expr("coalesce(_m, 0) div 4"),
                            F.lit(0),
                        ),
                        F.lit(1000),
                    )
                    - F.col("_y") * 1000
                ).alias("_r"),
            )
            grads = (
                bf.join(resid, "doc_id")
                .groupBy("feature_id")
                .agg(F.sum(F.col("_r") * F.col("n")).alias("_g"))
            )
            upd = F.col("weight_milli") - F.expr(
                f"coalesce(_g, 0) * {int(lr_num)} div {int(lr_den)}"
            )
            if l2_num:
                # integer weight decay on the hashed weights; the bias
                # row (feature_id = dim) is never decayed, standard
                upd = upd - F.when(
                    F.col("feature_id") < dim,
                    F.expr(f"weight_milli * {int(l2_num)} div {int(l2_den)}"),
                ).otherwise(F.lit(0))
            weights = (
                weights.join(grads, "feature_id", "left")
                .select(
                    "feature_id",
                    upd.cast("bigint").alias("weight_milli"),
                )
                .localCheckpoint(eager=False)
            )
    return weights


def rrf_ensemble(
    df: DataFrame,
    id_col: str,
    score_cols: list[str],
    k: int = 60,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal-rank-fusion of multiple quality signals (Cormack et
    al., SIGIR'09): each signal ranks the corpus independently, and the
    fused score is ``sum_s scale // (k + rank_s)`` (rank 1-based) — the
    standard way to combine incomparable quality scores (an LM fluency
    score, a classifier logit, a length heuristic) without calibrating
    any of them. RRF in scaled-integer arithmetic is exact cross-engine;
    ``k=60`` is the published default.

    Ranking contract: per signal, DESCENDING score, NULLs rank WORST,
    ties broken by ``id_col`` ascending — a total order, so ranks (and
    the fusion) are a pure function of row content.

    Returns ``(id_col, rank_<col>..., rrf_scaled)``.

    Scale shape: a global ranking per signal — computed with
    :func:`..util.assign_global_ids` (range repartition + per-partition
    offsets), NOT a single-partition ``row_number() OVER (ORDER BY)``,
    so each signal costs one range shuffle that parallelizes across the
    cluster. The per-signal rank tables join back on the id (equi,
    AQE-broadcastable when the corpus side is the big one and the
    ranked projection is narrow).
    """
    from .util import assign_global_ids

    out = df.select(id_col)
    for s in score_cols:
        key = F.struct(
            F.col(s).isNull().alias("nul"),
            (-F.coalesce(F.col(s), F.lit(0))).alias("neg"),
            F.col(id_col).alias("i"),
        )
        ranked = assign_global_ids(
            df.select(F.col(id_col), key.alias("_rrf_key")),
            "_rrf_key",
            "_gid",
        ).select(
            id_col,
            (F.col("_gid") + 1).cast("bigint").alias(f"rank_{s}"),
        )
        out = out.join(ranked, id_col)
    contrib = [
        F.expr(f"cast({int(scale)} div ({int(k)} + rank_{s}) as bigint)")
        for s in score_cols
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return out.select(
        id_col,
        *[f"rank_{s}" for s in score_cols],
        total.alias("rrf_scaled"),
    )


def rrf_ensemble_approx(
    df: DataFrame,
    id_col: str,
    score_cols: list[str],
    k: int = 60,
    scale: int = 1_000_000,
    n_buckets: int = 64,
    sample_rate: float = 1.0 / 64,
) -> DataFrame:
    """Sample-rank approximation of :func:`rrf_ensemble` — the one-pass
    variant for when ``m`` exact global sorts (one per signal) cost more
    than rank fidelity is worth. Instead of range-partition-sorting each
    signal, rank positions are ESTIMATED from quantile boundaries of a
    deterministic hash sample:

    1. sample ~``sample_rate`` of the corpus by 60-bit content-hash
       threshold (the :func:`stratified_hash_sample` primitive — stable
       under retries/partitioning and expressible in any engine, so the
       approximation itself is differentially checkable). The sample is
       sorted in ONE task (a single ``collect_list`` row), so
       ``sample_rate`` bounds that task: rate * N rows must sort
       driver-side-fast (~tens of thousands; at 100 TB lower the rate —
       boundary quality needs only ~100s of sample points per bucket);
    2. sort ONLY the sample (one small aggregate; the sorted key array
       lives in a single broadcast row) and take ``n_buckets - 1``
       equally-spaced boundary keys;
    3. each corpus row's approximate rank is ``bucket * N div n_buckets
       + 1`` where ``bucket`` counts boundaries ranking strictly before
       the row — a scan-stage expression over the broadcast array, zero
       per-signal shuffles.

    Rank keys order by DESCENDING score with NULLs worst (same direction
    as the exact operator), encoded as ``[null_flag, -score]`` bigint
    arrays so lexicographic array comparison IS the rank order in both
    engines. Rows in the same bucket share a rank estimate (max error
    ~``N/n_buckets`` positions, which perturbs RRF contributions only at
    the ``scale/(k + rank)^2`` level); ties and NULLs are deterministic
    because the estimate is a pure function of row content. Trade-offs
    vs exact: no per-row rank uniqueness, boundary quality degrades if
    the sample misses a distribution tail — use the exact operator when
    ranks feed a top-k cut rather than a fused score.

    ``score_cols`` must be INTEGER-typed (the module's scaled-integer
    convention — scale fractional signals up front, e.g. ``* 10^6`` and
    cast): the boundary keys and per-row rank keys are compared as
    bigints, so a double score would silently truncate into large tie
    blocks and diverge from :func:`rrf_ensemble`, which orders on the
    raw values.  Non-integer score columns raise ``TypeError``
    (round-10 ADVICE — the truncation used to be silent).

    Returns ``(id_col, rank_<col>_approx..., rrf_scaled)``.

    Scale shape: per signal, one sample-sized sort-aggregate whose
    ``n_buckets - 1`` boundary keys are COLLECTED to the driver
    (driver-sized by construction — a few dozen values, the
    broadcast-literal pattern) and compiled into the scan as literal
    scalar comparisons, so the bucket count is pure whole-stage codegen.
    The first cut kept the boundaries in a broadcast ARRAY row and
    counted with ``filter(bnd, x -> x < key)`` — an interpreted HOF per
    row that measured 14x SLOWER than the exact operator at 2.5M x 4
    signals (the round-9 lesson applied to fresh code); literal
    predicates run the same comparison inside codegen. The corpus is
    scanned once; per-signal cost is one sample-sized job + constant
    per-row work, vs the exact operator's full range exchange.
    """
    import math

    if n_buckets < 2:
        raise ValueError(
            f"rrf_ensemble_approx: n_buckets must be >= 2, got {n_buckets!r}"
        )
    if not (0.0 < sample_rate <= 1.0):
        raise ValueError(
            f"rrf_ensemble_approx: sample_rate must be in (0, 1], got "
            f"{sample_rate!r}"
        )
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    for s in score_cols:
        dt = df.schema[s].dataType
        if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(
                f"rrf_ensemble_approx: score column {s!r} has type "
                f"{dt.simpleString()} — scores must be integer-typed "
                "(scaled-integer convention); a fractional score would "
                "silently truncate into tie blocks under the bigint "
                "rank keys. Scale it (e.g. cast(col * 1e6 as bigint)) "
                "or use the exact rrf_ensemble."
            )
    b = int(n_buckets)
    thr = int(sample_rate * _HASH_SPACE)
    # ONE aggregation job collects the corpus count AND every signal's
    # sorted sample keys (collect_list skips the NULLs the unsampled
    # rows' `when` produces) — the first cut ran count + one sample job
    # per signal, and those 1+m fixed-overhead scans ate the saving
    h = _hash60([id_col])
    aggs = [F.count(F.lit(1)).alias("_n")]
    for s in score_cols:
        key = F.array(
            F.col(s).isNull().cast("bigint"),
            (-F.coalesce(F.col(s), F.lit(0))).cast("bigint"),
        )
        aggs.append(
            F.array_sort(F.collect_list(F.when(h < thr, key))).alias(
                f"_srt_{s}"
            )
        )
    row = df.agg(*aggs).collect()[0]
    n_total = int(row["_n"])

    _LONG_MAX = (1 << 63) - 1

    def _count_less(vals: list, c):
        # bucket = #{sorted literal boundaries < c} as a BINARY-SEARCH
        # CASE tree: depth log2(b), so ~6 comparisons actually evaluate
        # per row (CASE short-circuits). The first cut summed b
        # indicator whens — all b branches evaluated every row, and at
        # 4 signals x 63 boundaries that additive tree erased the
        # one-pass saving entirely (measured slower than the exact
        # operator). Classic lower-bound, duplicates handled naturally.
        if not vals:
            return F.lit(0)
        mid = len(vals) // 2
        return (
            F.when(
                F.lit(int(vals[mid])) < c,
                F.lit(mid + 1) + _count_less(vals[mid + 1:], c),
            )
            .otherwise(_count_less(vals[:mid], c))
        )

    rank_exprs = []
    for s in score_cols:
        srt = row[f"_srt_{s}"]
        m = len(srt)
        # [null_flag, -score] keys map order-isomorphically onto single
        # longs (NULL -> LONG_MAX, else -score): one comparison per tree
        # node instead of a compound two-field predicate. Scores equal
        # to -LONG_MAX would collide with the NULL sentinel — real
        # signal magnitudes are nowhere near 2^63.
        bnds = []
        if m >= 1:
            for j in range(1, b):
                pos = max(int(math.floor(j * m / b)), 1)
                bn, bg = srt[pos - 1]
                bnds.append(_LONG_MAX if int(bn) == 1 else int(bg))
        combined = F.when(
            F.col(s).isNull(), F.lit(_LONG_MAX)
        ).otherwise((-F.col(s)).cast("bigint"))
        bucket = _count_less(bnds, combined)
        rank_exprs.append(
            (bucket.cast("bigint") * F.lit(n_total)).alias(f"_bk_{s}")
        )
    tmp = df.select(F.col(id_col), *score_cols).select(
        id_col, *rank_exprs
    ).select(
        id_col,
        *[
            F.expr(f"cast(_bk_{s} div {b} + 1 as bigint)").alias(
                f"rank_{s}_approx"
            )
            for s in score_cols
        ],
    )
    contrib = [
        F.expr(f"cast({int(scale)} div ({int(k)} + rank_{s}_approx) as bigint)")
        for s in score_cols
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return tmp.select(
        id_col,
        *[f"rank_{s}_approx" for s in score_cols],
        total.alias("rrf_scaled"),
    )


def curriculum_shards(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_shards: int,
    ascending: bool = True,
) -> DataFrame:
    """Difficulty-ordered equal shards for curriculum training: order the
    corpus by ``score_col`` (ascending = easy-first by default) and cut
    it into ``n_shards`` contiguous shards of near-equal size — shard 0
    is what the first training phase reads. Deterministic: ties break on
    ``id_col``, NULL scores sort LAST regardless of direction (unknown
    difficulty trains last), and ``shard = rank * n_shards // N`` is
    exact integer arithmetic.

    Returns ``(id_col, score_col, shard_id)``.

    Scale shape: ONE range-partitioned global ranking
    (:func:`..util.assign_global_ids` — no single-partition window) plus
    a broadcast single-row corpus count; the shard id is a scan-stage
    expression over the rank. Writers then ``partitionBy(shard_id)`` for
    one directory per phase.
    """
    from .util import assign_global_ids

    if n_shards < 1:
        raise ValueError(f"curriculum_shards: n_shards must be >= 1, got {n_shards}")
    direction = F.col(score_col) if ascending else -F.col(score_col)
    key = F.struct(
        F.col(score_col).isNull().alias("nul"),
        F.coalesce(direction, F.lit(0)).alias("s"),
        F.col(id_col).alias("i"),
    )
    ranked = assign_global_ids(
        df.select(F.col(id_col), F.col(score_col), key.alias("_cur_key")),
        "_cur_key",
        "_gid",
    )
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            id_col,
            score_col,
            F.expr(f"cast(_gid * {int(n_shards)} div _n as int)").alias(
                "shard_id"
            ),
        )
    )


def _hashed_gram_counts(
    docs: DataFrame,
    dim: int,
    text_col: str,
    id_col: str,
    hash_fn: str,
    flag_col: str | None = None,
) -> DataFrame:
    """Per-document hashed n-gram (unigram + bigram) bucket counts —
    DSIR's feature map (Xie et al., arXiv:2302.03169 §3.2: word
    uni+bigrams hashed into ``dim`` buckets).  Returns
    ``(id_col, feature_id, n)`` with one row per (doc, bucket) TYPE,
    Zipf-collapsed before anything shuffles.

    Gram extraction is in-row and SINGLE-PASS (round-13 v6 anatomy): the
    unigram and bigram streams used to be a union of two explodes, which
    scanned and re-tokenized the corpus twice — ``concat(ws,
    zip_with(shifted slices, concat_ws))`` builds all n + (n-1) grams in
    one array, so one Generate emits the identical gram multiset from
    one tokenize (measured 1.00 -> 0.66 s for the per-corpus feature
    pass at sf0.1; the zip_with lambda is interpreted per element, but
    paying it beats a second corpus scan — the inverse of the
    bigram_lm_scores 4.4x HOF lesson, where the explode was not
    duplicated).  Per-token hashing is CPU-bound, so the single-file
    scan is spread first (``ensure_parallelism``).  The NULL-id filter
    sits in the shared prefix for stage reuse, for the reasons
    documented at ``corpus.bigram_lm_scores``.
    """
    from ..functions.hof import bind
    from ..functions.text import collapse_whitespace
    from .dedup import shingle_hash_expr
    from .util import ensure_parallelism

    key = [id_col] + ([flag_col] if flag_col else [])
    docs = ensure_parallelism(
        docs.select(*key, text_col).filter(F.col(id_col).isNotNull())
    )
    ws = F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")
    # word array bound once (round 14): the un-bound form references ws
    # three times (itself + two slices) and the interpreted evaluator
    # re-runs the normalize/split chain per reference — see functions.hof.bind
    allg = bind(
        ws,
        lambda w: F.concat(
            w,
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ),
    )
    grams = docs.select(*key, F.explode(allg).alias("g"))
    # bucket id: for md5_60 with a power-of-two dim, the low bits of the
    # 60-bit value only depend on the LOW hex digits — convert just
    # ceil(log16(dim)) chars instead of all 15 and pmod (value-identical
    # to pmod(md5_60, dim), asserted below; measured another ~10% off
    # the feature pass).  Other hash_fn / dim shapes keep the full hash.
    if hash_fn == "md5_60" and dim > 0 and (dim & (dim - 1)) == 0:
        n_hex = max(1, -(-(dim - 1).bit_length() // 4))
        assert (16**n_hex) % dim == 0
        fid = F.pmod(
            F.conv(
                F.substring(F.md5(F.col("g")), 16 - n_hex, n_hex), 16, 10
            ).cast("long"),
            F.lit(dim),
        )
    else:
        fid = F.pmod(shingle_hash_expr(F.col("g"), hash_fn), F.lit(dim))
    return (
        grams.select(*key, fid.alias("feature_id"))
        # semantically a no-op (pmod of md5/xxhash of a non-null string is
        # never NULL) but load-bearing for stage reuse: downstream joins
        # push isnotnull(feature_id) into SOME consumers' subtrees and not
        # others, and the diverged subtrees stop canonically matching, so
        # the gram explode executes once per consumer (3x raw, 2x target —
        # round-12 plan audit).  Declared HERE, in the shared prefix, the
        # pushed duplicates are subsumed by constraint propagation and
        # every consumer sees ONE identical aggregate subtree
        # (ReuseExchange) — the corpus.bigram_lm_scores lesson.
        .filter(F.col("feature_id").isNotNull())
        .groupBy(*key, "feature_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    dim: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
    scale: int = 1_000_000,
    target_pred: Column | None = None,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling", arXiv:2302.03169): score every raw
    document by how much more likely its hashed n-gram features are under
    a small TARGET corpus (the distribution you want more of — Wikipedia,
    curated text) than under the raw corpus itself, then resample
    proportionally.  This is the standard pretraining-data targeting
    recipe; the reference ETL has no counterpart (its corpus is single
    -source), so this extends SURVEY §2b's curation family.

    Bucket model, add-1 smoothed over ``dim`` hashed buckets:
    ``p_t(b) = (c_t(b)+1) / (N_t+dim)``, same for ``p_r``.  DSIR's
    per-document log importance ``sum_g log(p_t/p_r)`` is replaced by the
    module-convention EXACT integer statistic: the per-occurrence mean of
    the scaled probability ratio, ``ratio_ppm(b) = (c_t(b)+1) * (N_r+dim)
    * scale div ((c_r(b)+1) * (N_t+dim))`` and ``weight_ppm = sum_g
    n_g * ratio_ppm(g) div n_grams``.  The ratio-mean ranks target-like
    documents above target-unlike ones exactly as the log form does for
    near-flat ratios and differs only in tail emphasis; in exchange the
    score is reproducible bit-for-bit in any engine (no transcendental,
    no float summation order — the same trade ``corpus.bigram_lm_scores``
    documents for its perplexity gate).  decimal(38,0) arithmetic
    end-to-end: at 1e12 grams the product (c_t+1)*(N_r+dim)*scale is
    ~1e30, still 8 decimal digits of headroom.

    Returns one row per raw document: ``(id_col, n_grams,
    dsir_weight_ppm)`` — NULL weight for docs with no grams (NULL text).
    Feed to :func:`sequential_poisson_sample` (weight =
    ``dsir_weight_ppm``) for the paper's Gumbel-top-k resampling step in
    its deterministic order-sampling form.

    Scale shape: each corpus is tokenized ONCE — bucket counts derive
    from the per-doc feature table (``sum(n)``), so the explode subtree
    is shared (ReuseExchange), exactly the bigram_lm_scores layout.  The
    ratio table is ``dim`` rows (the model) and BROADCASTS to the per-doc
    feature stream; corpus totals are single-row broadcasts.  Document
    text never shuffles — only (doc, bucket, n) triples move, bounded by
    min(doc grams, dim) per doc.  The target corpus is typically tiny
    (the paper uses ~1e5 Wikipedia docs vs 1e9 raw): its whole pipeline
    is a footnote next to the raw scan at 100 TB.
    """
    if (target is None) == (target_pred is None):
        raise ValueError(
            "dsir_importance_weights: pass exactly one of target / "
            "target_pred"
        )
    if target_pred is None:
        ratio = dsir_ratio_model(
            raw, target, dim=dim, text_col=text_col, id_col=id_col,
            hash_fn=hash_fn, scale=scale,
        )
        return dsir_score_with_model(
            raw, ratio, dim=dim, text_col=text_col, id_col=id_col,
            hash_fn=hash_fn,
        )
    # FUSED single-tokenize path (round 14): when the target is a
    # predicate-defined SLICE of ``raw`` (the common in-corpus-target
    # shape — e.g. lang == 'en'), one feature pass serves the raw
    # counts, the target counts AND the scoring join.  The generic path
    # tokenizes the target slice a second time and leans on fragile
    # canonical-subtree reuse for the raw side; here the per-doc feature
    # table (Zipf-collapsed (doc, bucket, n) triples — the thing DSIR
    # materializes at 100 TB) is checkpointed eagerly, so the corpus is
    # tokenized exactly once per call, guaranteed.  Values are identical
    # to the generic path: the target flag rides the feature table
    # (constant per doc, so the extra grouping key changes no groups)
    # and c_t is the flagged slice's aggregate — proven by the shared
    # oracle (dsir queries ALL MATCH at sf0.001/sf0.01/sf0.1) and the
    # fused-vs-generic equality test.
    flag = "_is_t"
    while flag in raw.columns:  # never overwrite a caller's column
        flag = "_" + flag
    feats = _hashed_gram_counts(
        raw.withColumn(flag, target_pred),
        dim, text_col, id_col, hash_fn, flag_col=flag,
    ).localCheckpoint(eager=True)
    c_r = feats.groupBy("feature_id").agg(F.sum("n").alias("c_r"))
    c_t = (
        feats.filter(F.col(flag))
        .groupBy("feature_id")
        .agg(F.sum("n").alias("c_t"))
    )
    n_r = c_r.agg(F.sum(F.when(F.col("c_r") > 0, F.col("c_r"))).alias("_nr"))
    n_t = c_t.agg(F.sum(F.when(F.col("c_t") > 0, F.col("c_t"))).alias("_nt"))
    ratio = (
        c_r.join(c_t, "feature_id", "left")
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select(
            "feature_id",
            F.expr(
                f"cast((cast(coalesce(c_t, 0) + 1 as decimal(38,0))"
                f" * (_nr + {int(dim)}) * {int(scale)})"
                f" div ((c_r + 1) * (coalesce(_nt, 0) + {int(dim)}))"
                f" as bigint)"
            ).alias("ratio_ppm"),
        )
    )
    scored = (
        feats.join(F.broadcast(ratio), "feature_id", "left")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_grams"),
            F.sum(
                (F.col("n") * F.coalesce(F.col("ratio_ppm"), F.lit(0)))
                .cast("decimal(38,0)")
            ).alias("_sum_r"),
        )
    )
    return (
        raw.select(F.col(id_col)).filter(F.col(id_col).isNotNull())
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.expr("cast(_sum_r div n_grams as bigint)"),
            ).alias("dsir_weight_ppm"),
        )
    )


def dsir_ratio_model(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
    scale: int = 1_000_000,
) -> DataFrame:
    """The fit stage of :func:`dsir_importance_weights`, exposed for the
    standing-model regime: fit ONCE at ingest over (raw sample, target),
    persist the ``dim``-row ``(feature_id, ratio_ppm)`` table, then score
    any stream or batch against it with
    :func:`dsir_score_with_model` — the same fit/score split the
    classifier gate and the standing IVF-PQ index use.

    Buckets absent from the raw sample are absent from the model;
    :func:`dsir_score_with_model` scores them 0 (a gram the model never
    saw contributes no evidence either way).
    """
    feats_r = _hashed_gram_counts(raw, dim, text_col, id_col, hash_fn)
    feats_t = _hashed_gram_counts(target, dim, text_col, id_col, hash_fn)
    c_r = feats_r.groupBy("feature_id").agg(F.sum("n").alias("c_r"))
    c_t = feats_t.groupBy("feature_id").agg(F.sum("n").alias("c_t"))
    # corpus totals as sum(when(...)) — nullable, so Catalyst can't
    # rewrite the shared aggregate subtree (see bigram_lm_scores's vocab
    # note); the value is exact because counts are always > 0
    n_r = c_r.agg(F.sum(F.when(F.col("c_r") > 0, F.col("c_r"))).alias("_nr"))
    n_t = c_t.agg(F.sum(F.when(F.col("c_t") > 0, F.col("c_t"))).alias("_nt"))
    return (
        c_r.join(c_t, "feature_id", "left")
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select(
            "feature_id",
            F.expr(
                f"cast((cast(coalesce(c_t, 0) + 1 as decimal(38,0))"
                f" * (_nr + {int(dim)}) * {int(scale)})"
                f" div ((c_r + 1) * (coalesce(_nt, 0) + {int(dim)}))"
                f" as bigint)"
            ).alias("ratio_ppm"),
        )
    )


def dsir_score_with_model(
    docs: DataFrame,
    ratio: DataFrame,
    dim: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
) -> DataFrame:
    """The score stage of :func:`dsir_importance_weights`: per-document
    importance weights against a FIXED ``(feature_id, ratio_ppm)`` model
    (fit by :func:`dsir_ratio_model`, typically persisted).  This is the
    streaming-ingest shape: the model broadcasts, each micro-batch is
    tokenized and scored in one pass, no corpus statistics are touched —
    see tests/test_streaming.py for the foreachBatch twin.

    Grams hashing to buckets absent from the model score 0 (left join +
    coalesce), so a stale-but-usable model degrades gracefully instead
    of dropping documents.
    """
    feats = _hashed_gram_counts(docs, dim, text_col, id_col, hash_fn)
    scored = (
        feats.join(F.broadcast(ratio), "feature_id", "left")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_grams"),
            F.sum(
                (F.col("n") * F.coalesce(F.col("ratio_ppm"), F.lit(0)))
                .cast("decimal(38,0)")
            ).alias("_sum_r"),
        )
    )
    return (
        docs.select(F.col(id_col)).filter(F.col(id_col).isNotNull())
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.expr("cast(_sum_r div n_grams as bigint)"),
            ).alias("dsir_weight_ppm"),
        )
    )


def grouped_rank_buckets(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_buckets: int = 3,
    descending: bool = True,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Per-group equal-frequency score buckets — the CCNet partitioning
    primitive (Wenzek et al., arXiv:1911.00359 §4.4: split each
    language's corpus into head/middle/tail thirds by LM perplexity).

    Bucket = ``rank_in_group * n_buckets div group_size`` with a 0-based
    dense rank ordered by (``score_col`` desc-by-default, ``id_col``) —
    exact integer arithmetic, deterministic under ties, value-identical
    to the ``row_number() OVER (PARTITION BY group ...)`` form.

    Scale shape: the naive per-group window funnels each group through
    ONE task — a straggler deadlock when one language is 80% of a 100 TB
    corpus.  Here ranking is a GLOBAL range-partitioned id assignment on
    the composite key (group, ±score, id) (:func:`..util.assign_global_ids`
    — parallel across partitions regardless of group skew); because the
    key leads with the group, each group's ids are contiguous, so
    rank-in-group is just ``_gid - min(_gid) per group`` — one
    group-sized aggregate, broadcast back.  Group cardinality is assumed
    model-sized (languages, sources), NOT data-sized.

    Returns ``df``'s selected columns plus ``bucket_col`` (int in
    ``[0, n_buckets)``; 0 = best under ``descending=True``).

    NULL scores are the CALLER's contract to resolve (filter or
    coalesce first — the registered queries filter ``n_bigrams > 0``):
    a NULL negates to NULL and sorts at one end of the struct order, so
    it would silently claim a best/worst bucket rather than erroring.
    NULL group keys are fine — they form their own contiguous group.
    """
    from .util import assign_global_ids

    if n_buckets < 1:
        raise ValueError(
            f"grouped_rank_buckets: n_buckets must be >= 1, got {n_buckets}"
        )
    # collision-proof internals (the cap_per_key lesson: a caller column
    # with a reserved name was silently overwritten and destroyed)
    for reserved in ("_grb_key", "_gid", "_g0", "_gn"):
        if reserved in df.columns:
            raise ValueError(
                f"grouped_rank_buckets: df already has a column "
                f"{reserved!r} — rename it; this name is reserved"
            )
    if bucket_col in df.columns:
        raise ValueError(
            f"grouped_rank_buckets: df already has a column "
            f"{bucket_col!r} — pass a different bucket_col"
        )
    direction = -F.col(score_col) if descending else F.col(score_col)
    key = F.struct(
        F.col(group_col).alias("g"),
        direction.alias("s"),
        F.col(id_col).alias("i"),
    )
    ranked = assign_global_ids(
        df.withColumn("_grb_key", key), "_grb_key", "_gid"
    )
    grp = ranked.groupBy(group_col).agg(
        F.min("_gid").alias("_g0"), F.count(F.lit(1)).alias("_gn")
    )
    return (
        ranked.join(F.broadcast(grp), group_col)
        .withColumn(
            bucket_col,
            F.expr(f"cast((_gid - _g0) * {int(n_buckets)} div _gn as int)"),
        )
        .drop("_grb_key", "_gid", "_g0", "_gn")
    )


def unimax_budgets(
    sizes: DataFrame,
    group_col: str,
    size_col: str,
    total_budget: int,
    max_epochs: int = 1,
    budget_col: str = "budget",
    epochs_ppm_col: str = "epochs_ppm",
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al., UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining, ICLR 2023, arXiv:2304.09151): split ``total_budget``
    units (chars/tokens) across groups so that no group is repeated more
    than ``max_epochs`` times, and whatever budget the epoch cap frees
    up is shared UNIFORMLY among the groups large enough to absorb it.

    The paper's sequential loop (visit languages smallest-first;
    allocate ``min(max_epochs * n_i, remaining / groups_left)``) has a
    closed form because cappedness is monotone in group size: once one
    group takes the uniform share instead of its cap, the per-group
    share is invariant for every later (larger) group — ``remaining``
    and ``groups_left`` shrink in lockstep. So there is a breakpoint
    rank ``m``: groups ranked ``1..m`` (ascending size) are epoch-capped
    at ``max_epochs * n_i``; the rest each get
    ``(total_budget - max_epochs * prefix_m) div (L - m)``, floored to
    keep every output an exact integer (bit-stable cross-engine).

    ``m`` falls out of one cumulative window: row ``i`` is capped iff
    every rank ``<= i`` satisfies
    ``max_epochs * n_i * (L - i + 1) <= total_budget
    - max_epochs * prefix(i-1)`` — the loop condition with the
    all-capped prefix substituted — enforced with a running ``min`` of
    the predicate, so a later spurious match can't resurrect cappedness.

    Scale shape: ``sizes`` is the MODEL-SIZED per-group aggregate
    (languages, sources — the caller reduces the corpus first, one
    map-side-combined agg at any corpus size); the windows here run over
    that dim table, not the data, so the single-task window is dim-rows
    deep. Rank ties break on ``group_col`` for determinism.

    Returns ``sizes``'s two key columns plus ``budget_col`` (bigint) and
    ``epochs_ppm_col`` (bigint, ``budget * 1e6 div n`` — parts-per-
    million epochs so downstream samplers consume an exact integer;
    NULL for an empty group). Rows with NULL group or size are the
    caller's contract to resolve (they'd sort differently across
    engines and poison the breakpoint).
    """
    from pyspark.sql import Window

    if max_epochs < 1:
        raise ValueError(
            f"unimax_budgets: max_epochs must be >= 1, got {max_epochs}"
        )
    if total_budget < 0:
        raise ValueError(
            f"unimax_budgets: total_budget must be >= 0, got {total_budget}"
        )
    for reserved in ("_i", "_L", "_pp", "_p", "_allp", "_sm", "_m"):
        if reserved in sizes.columns:
            raise ValueError(
                f"unimax_budgets: sizes already has a column {reserved!r}"
                " — rename it; this name is reserved"
            )
    c = int(max_epochs)
    b = int(total_budget)
    n = F.col(size_col).cast("bigint")
    w_ord = Window.orderBy(n, F.col(group_col))
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = sizes.select(
        F.col(group_col),
        n.alias(size_col),
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_L"),
        (F.sum(n).over(w_run) - n).alias("_pp"),
    )
    flagged = ranked.withColumn(
        "_p",
        (
            (F.lit(c) * n * (F.col("_L") - F.col("_i") + 1))
            <= (F.lit(b) - F.lit(c) * F.col("_pp"))
        ).cast("int"),
    ).withColumn("_allp", F.min("_p").over(w_run))
    scoped = flagged.withColumn(
        "_sm",
        F.sum(F.when(F.col("_allp") == 1, n).otherwise(F.lit(0))).over(w_all),
    ).withColumn("_m", F.sum("_allp").over(w_all))
    # the uniform share must FLOOR as integer division (`div`), not
    # truncate through a double — doubles round-trip differently across
    # engines once budgets pass 2^53
    out = scoped.withColumn(
        budget_col,
        F.when(F.col("_allp") == 1, F.lit(c) * n).otherwise(
            F.expr(
                f"(cast({b} as bigint) - cast({c} as bigint) * _sm)"
                f" div (_L - _m)"
            )
        ).cast("bigint"),
    )
    return out.withColumn(
        epochs_ppm_col,
        F.when(
            n > 0, F.expr(f"({budget_col} * cast(1000000 as bigint)) div {size_col}")
        ).cast("bigint"),
    ).select(group_col, size_col, budget_col, epochs_ppm_col)


def grouped_quantile_ppm(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    descending: bool = False,
    quantile_col: str = "quantile_ppm",
) -> DataFrame:
    """Per-group quantile (ECDF) normalization — map every row's score
    to its midrank quantile WITHIN its group, in exact ppm integers:
    ``(2*rank + 1) * 500000 div group_size`` for a 0-based rank ordered
    by (``score_col``, ``id_col``).

    This is the score-calibration step a heterogeneous-corpus gate needs
    before comparing quality scores across sources: a fasttext/LM score
    distribution differs per domain, so a single global threshold keeps
    whatever the best-scored SOURCE is, not the best documents of each.
    Quantile-normalizing per source makes "top 30% of every source"
    expressible as one global predicate (``quantile_ppm >= 700000``) —
    the per-domain analogue of CCNet's per-language buckets, continuous
    instead of categorical (:func:`grouped_rank_buckets` is the
    bucketed special case).

    Scale shape: identical to :func:`grouped_rank_buckets` — global
    range-partitioned ids on the composite key (no per-group
    single-task window), one group-sized broadcast back. Midrank keeps
    the output symmetric (the mean quantile of any group is exactly
    500000 up to flooring) and never emits 0 or 1000000, so downstream
    log/logit transforms stay finite. NULL scores are the caller's
    contract, as in :func:`grouped_rank_buckets`.
    """
    from .util import assign_global_ids

    for reserved in ("_gqp_key", "_gid", "_g0", "_gn"):
        if reserved in df.columns:
            raise ValueError(
                f"grouped_quantile_ppm: df already has a column "
                f"{reserved!r} — rename it; this name is reserved"
            )
    if quantile_col in df.columns:
        raise ValueError(
            f"grouped_quantile_ppm: df already has a column "
            f"{quantile_col!r} — pass a different quantile_col"
        )
    direction = -F.col(score_col) if descending else F.col(score_col)
    key = F.struct(
        F.col(group_col).alias("g"),
        direction.alias("s"),
        F.col(id_col).alias("i"),
    )
    ranked = assign_global_ids(
        df.withColumn("_gqp_key", key), "_gqp_key", "_gid"
    )
    grp = ranked.groupBy(group_col).agg(
        F.min("_gid").alias("_g0"), F.count(F.lit(1)).alias("_gn")
    )
    return (
        ranked.join(F.broadcast(grp), group_col)
        .withColumn(
            quantile_col,
            F.expr(
                "cast((2 * (_gid - _g0) + 1) * cast(500000 as bigint)"
                " div _gn as bigint)"
            ),
        )
        .drop("_gqp_key", "_gid", "_g0", "_gn")
    )


def feature_label_chi2(
    docs: DataFrame,
    dim: int,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Per-feature chi-square association with a binary label over the
    SAME hashed bag-of-words feature map the classifier family uses —
    the classic feature-selection statistic for text classification
    (Yang & Pedersen 1997, "A Comparative Study on Feature Selection in
    Text Categorization", ICML: chi2 and IG are the strongest pruning
    criteria).  Run it before :func:`train_hashed_classifier` to audit
    which hash buckets carry label signal, or after to sanity-check that
    the learned weights concentrate where the association is.

    Per feature ``f`` the document-presence 2x2 table (presence, not
    counts — the text-CAT convention):

    ============== =========== ===========
    _              label = 1   label = 0
    contains f     a           b
    lacks f        P - a       (N-P) - b
    ============== =========== ===========

    ``chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d))``, emitted as the
    truncating integer ``chi2_ppm`` (ppm, decimal(38,0) intermediates —
    ``1e6 * N * (ad-bc)^2`` is ~2e23 at 5k docs, ~1e38 headroom to 3e8
    docs; shard-and-merge the contingency counts beyond that). Features
    with a zero margin (present in every doc, or a single-class corpus)
    get NULL — undefined, not 0.

    Returns ``(feature_id, df_docs, chi2_ppm)`` — one row per feature
    bucket observed in the corpus.

    Scale shape: tokenize + hash in the scan stage; presence collapses
    the token stream to DISTINCT (doc, feature) before anything
    shuffles; the contingency aggregation is one exchange on
    feature_id to <= dim rows; the (N, P) totals broadcast.
    """
    from .corpus import tokenize_positions
    from .dedup import shingle_hash_expr
    from .util import ensure_parallelism

    fid = F.pmod(shingle_hash_expr(F.col("w"), hash_fn), F.lit(dim))
    y = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("bigint").alias("_y"),
    )
    pres = (
        tokenize_positions(
            ensure_parallelism(
                docs.filter(F.col(id_col).isNotNull()).select(
                    F.col(id_col).alias("doc_id"), F.col(text_col)
                )
            ),
            text_col,
        )
        .select("doc_id", fid.alias("feature_id"))
        .distinct()
    )
    tot = y.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.coalesce(F.sum("_y"), F.lit(0)).cast("decimal(38,0)").alias("_p"),
    )
    ct = (
        pres.join(y, "doc_id")
        .groupBy("feature_id")
        .agg(
            F.sum("_y").cast("decimal(38,0)").alias("_a"),
            F.sum(F.lit(1) - F.col("_y")).cast("decimal(38,0)").alias("_b"),
        )
    )
    # c = P - a, d = (N - P) - b; margins (a+b), (n-a-b), P, (n-P)
    num = "(_a * ((_n - _p) - _b) - _b * (_p - _a))"
    den = "((_a + _b) * (_n - _a - _b) * _p * (_n - _p))"
    return ct.crossJoin(F.broadcast(tot)).select(
        "feature_id",
        F.expr("cast(_a + _b as bigint)").alias("df_docs"),
        F.expr(
            f"case when (_a + _b) > 0 and (_n - _a - _b) > 0"
            f" and _p > 0 and (_n - _p) > 0 then"
            f" cast((1000000 * _n * {num} * {num}) div {den} as bigint)"
            " end"
        ).alias("chi2_ppm"),
    )
