"""Deduplication operators — exact and near-duplicate (north-star §2b).

Scales the reference's single in-batch key dedup (reference: transform.py:62)
to corpus-level content dedup, the first stage of any LLM-training-data
pipeline:

- exact:   hash the normalized content server-side (sha2, JVM) and keep one
           row per digest — one shuffle on a 64-hex key, no text movement
           beyond the winning rows.
- minhash: shingle -> k independent min-hashes -> band buckets -> self-join
           on (band, signature-slice). Candidate pairs only ever meet inside
           a bucket, so the join is equi (shuffle on bucket key), never a
           cross product. Classic MinHash/LSH construction (Broder '97) on
           native expressions: xxhash64 with per-seed salts.
- simhash: 64-bit weighted-bit fingerprint; near-dups differ in few bits.
           Banded into 4x16-bit chunks for candidate generation (any
           Hamming-distance<=3 pair shares at least one chunk).
- ngram-jaccard: exact character-n-gram Jaccard on candidate pairs —
           the verifier stage after LSH candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hof import bind
from ..functions.text import collapse_whitespace
from .util import ensure_parallelism


def content_fingerprint(text: Column | str) -> Column:
    """Normalized-content digest: lowercase, collapse whitespace, sha256.
    This is the document fingerprint used for exact dedup."""
    t = F.col(text) if isinstance(text, str) else text
    return F.sha2(F.lower(collapse_whitespace(t)), 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: keep the lowest-id row per normalized-content
    digest. One hash exchange on the digest; text columns of losing rows
    never leave their executor (agg carries only digest+id)."""
    digests = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), content_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(digests, id_col, "left_semi")


def word_ngrams(words: Column, n: int) -> Column:
    """Positional word n-grams of a word array, built from ``n`` shifted
    slices zipped together so the lambda references only lambda
    variables (see ``functions.hof.bind`` — the unbound ``slice(w, i, n)`` form
    re-evaluates ``w`` per gram).  Clamps exactly like
    ``concat_ws(' ', slice(w, i, n))``: documents shorter than ``n``
    words yield ONE gram joining all their words (``arrays_zip`` pads
    the short shifted slices with NULL and ``concat_ws`` skips NULLs);
    a NULL or empty word array yields a single empty-string gram (legacy
    ``concat_ws(NULL or empty slice)`` behavior) — all proven
    value-identical to the historical form on the full corpus and the
    edge battery (tests/test_linkage_fingerprint.py)."""
    def build(ww: Column) -> Column:
        m = F.greatest(F.size(ww) - (n - 1), F.lit(1))
        zipped = F.arrays_zip(
            *[F.slice(ww, i + 1, m).alias(f"w{i}") for i in range(n)]
        )
        grams = F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(n)])
        )
        # size(NULL) is -1 or NULL, so this one guard covers both cases
        return F.when(F.size(ww) > 0, grams).otherwise(F.array(F.lit("")))

    # the word array feeds n slices + size + the empty guard — bind it so
    # the producing split/normalize chain evaluates once per row, not
    # n+2 times
    return bind(words, build)


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams as an array — native higher-order fns.
    The normalized text is bound once per row (``functions.hof.bind``); the
    per-gram ``substr`` then copies ``n`` chars instead of re-running
    the lower/collapse chain per gram."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.lower(collapse_whitespace(t))
    return F.array_distinct(
        bind(
            t,
            lambda tt: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(tt) - (n - 1), F.lit(1))
                ),
                lambda i: tt.substr(i, F.lit(n)),
            ),
        )
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the MinHash input unit)."""
    t = F.col(text) if isinstance(text, str) else text
    w = F.split(F.lower(collapse_whitespace(t)), " ")
    return F.array_distinct(word_ngrams(w, n))


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two token/shingle arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _perm_constants(k: int, seed: int = 0x9E3779B9) -> tuple[list[int], list[int]]:
    """k deterministic (odd multiplier, offset) pairs for universal-hash
    permutations over Z/2^64 (splitmix-style LCG on the seed)."""
    a, b, state = [], [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        a.append(state | 1)  # odd -> bijective mod 2^64
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        b.append(state)
    return a, b


def _to_i64(v: int) -> int:
    return v - 2**64 if v >= 2**63 else v


def _require_ansi_off(spark=None) -> None:
    """The minhash universal-hash fold relies on Java long wrap-around, which
    ANSI mode turns into ARITHMETIC_OVERFLOW. Fail fast with guidance instead
    of blowing up mid-job on a vanilla Spark 4 session (ANSI on by default)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is not None and spark.conf.get("spark.sql.ansi.enabled", "false") == "true":
        raise ValueError(
            "minhash_signature requires spark.sql.ansi.enabled=false "
            "(its universal-hash fold uses 64-bit wrap-around arithmetic); "
            "set the conf before building the plan"
        )


def minhash_signature(
    shingles: Column, num_hashes: int = 32, hash_fn: str = "xxhash64"
) -> Column:
    """k independent min-hashes — one array column, no UDF. One strong
    content hash per shingle (xxhash64), then k universal-hash permutations
    ``h_i = a_i*h + b_i mod 2^64`` (odd ``a_i`` makes each a bijection, so
    minima are as independent as k salted rehashes but cost k multiply-adds
    instead of k string hashes — ~10x cheaper per shingle).

    Built as a SINGLE fold over the shingle array (one aggregate whose
    accumulator is the k-vector of running minima, merged via
    zip_with/least) so the shingle expression is referenced exactly once —
    k separate ``array_min(transform(...))`` calls would inline and
    re-evaluate the shingling k times after projection collapse.  The
    content hash is materialized per shingle by a ``transform`` BEFORE the
    fold, so each shingle is hashed exactly once (codegen CSE is not
    guaranteed across the k fold branches; measured 5x on the md5 path).

    Note: relies on Java long overflow wrap-around, i.e. ANSI mode OFF
    (the session factory sets this; asserted here so a vanilla Spark 4
    session fails at plan time with guidance, not mid-job).

    ``hash_fn``: shingle hash selector (see :func:`shingle_hash_expr`) —
    ``md5_60`` makes the whole signature reproducible outside Spark (the
    wrap-around fold is emulable with 128-bit ints), enabling an exact
    DuckDB oracle of the production banding pipeline.
    """
    _require_ansi_off()
    av, bv = _perm_constants(num_hashes)
    init = F.array(*[F.lit(2**63 - 1).cast("long") for _ in range(num_hashes)])
    hashed = F.transform(shingles, lambda s: shingle_hash_expr(s, hash_fn))

    def merge(acc: Column, base: Column) -> Column:
        hs = F.array(
            *[
                base * F.lit(_to_i64(av[i])).cast("long")
                + F.lit(_to_i64(bv[i])).cast("long")
                for i in range(num_hashes)
            ]
        )
        return F.zip_with(acc, hs, lambda a, h: F.least(a, h))

    return F.aggregate(hashed, init, merge)


def minhash_signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Phase 1 of two-phase minhash dedup: the ``(id, sh, sig)`` signature
    table — shingles plus the k-vector minhash signature per document.

    At 100 TB this is the thing you MATERIALIZE (see
    :func:`save_minhash_signatures`): signatures are computed once per
    corpus snapshot and written bucketed by ``id``, so every later
    pair-mining run (different bands/thresholds, incremental batches)
    reads them back without recomputing shingles or re-shuffling for the
    candidate-verify joins."""
    _require_ansi_off(df.sparkSession)
    return (
        ensure_parallelism(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", word_shingles(text_col, shingle_n).alias("sh"))
        .withColumn("sig", minhash_signature(F.col("sh"), num_hashes, hash_fn))
    )


def save_minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    table: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    num_buckets: int = 32,
) -> None:
    """Materialize the minhash signature table bucketed by ``id`` (pay the
    exchange once at write time): ``spark.table(table)`` then feeds
    :func:`minhash_pairs_from_signatures`, whose two candidate-verify
    joins on ``id`` read co-located buckets with no Exchange on the
    signature side — the executor-pinned ``persist`` of the one-shot path
    disappears entirely."""
    from ..sinks.bucketed import write_bucketed

    sig = minhash_signature_table(df, text_col, id_col, num_hashes, shingle_n, hash_fn)
    write_bucketed(sig, table, "id", num_buckets=num_buckets, sort_col="id")


def lsh_candidate_probability(jaccard: float, bands: int, rows: int) -> float:
    """P(a pair with true Jaccard ``jaccard`` becomes an LSH candidate)
    under ``bands`` bands of ``rows`` rows: ``1 - (1 - j**r)**b`` (the
    S-curve; Mining of Massive Datasets §3.4.2)."""
    return 1.0 - (1.0 - jaccard ** rows) ** bands


def tune_lsh_bands(num_hashes: int, jaccard_threshold: float) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for a target Jaccard threshold.

    The S-curve's midpoint sits at ``(1/b)**(1/r)``; pairs above it are
    mostly candidates, pairs below mostly not.  Rule: among band counts
    that divide ``num_hashes``, choose the LARGEST midpoint that is still
    <= the threshold — the tightest candidate filter whose recall at the
    threshold stays above ½ (then well above: e.g. 32 hashes at t=0.9 ->
    b=4, r=8, recall 0.89 at t but only 3e-4 at j=0.3, where the naive
    widest banding (b=32, r=1) would pass >99.99% of j=0.3 pairs into the
    exact-verify join).  At 100 TB the verify join is the expensive step
    — candidate volume, not signature width, is what this knob controls.
    Falls back to ``(num_hashes, 1)`` when every midpoint exceeds the
    threshold (very low thresholds need max recall).
    """
    best: tuple[float, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        mid = (1.0 / b) ** (1.0 / r)
        if mid <= jaccard_threshold and (best is None or mid > best[0]):
            best = (mid, b)
    if best is None:
        return num_hashes, 1
    return best[1], num_hashes // best[1]


def _resolve_bands(
    num_hashes: int,
    bands: int | None,
    jaccard_threshold: float,
    _stats: dict | None,
) -> int:
    """``bands=None`` -> S-curve tuner choice for the target threshold
    (round-4 verdict item 7: the 100 TB candidate-volume knob is ON by
    default); an explicit ``bands`` wins.  ``_stats`` records the choice
    for tests/diagnostics."""
    if bands is None:
        bands, _rows = tune_lsh_bands(num_hashes, jaccard_threshold)
    if _stats is not None:
        _stats["bands"] = bands
        _stats["rows_per_band"] = num_hashes // bands
    return bands


def minhash_pairs_from_signatures(
    sig: DataFrame,
    num_hashes: int = 32,
    bands: int | None = None,
    jaccard_threshold: float = 0.6,
    round_digits: int | None = 4,
    _stats: dict | None = None,
) -> DataFrame:
    """Phase 2: banding -> bucket equi-join -> exact-Jaccard verify, from a
    ``(id, sh, sig)`` signature table (freshly computed, or read back from
    the bucketed parquet written by :func:`save_minhash_signatures`).

    ``bands=None`` (default) derives the banding from
    :func:`tune_lsh_bands` for ``jaccard_threshold`` — the tightest
    b*r=num_hashes split whose S-curve midpoint sits at or below the
    threshold, bounding candidate volume (the real cost at 100 TB) while
    keeping recall at the threshold above 1/2.

    Plan shape at scale: banding carries ONLY (id, band, bucket) — shingle
    arrays must not be replicated bands-times through the explode+shuffle
    (at 100 TB the shingle payload dwarfs the 16-byte bucket key); the
    shingles rejoin per-candidate at the end.
    """
    bands = _resolve_bands(num_hashes, bands, jaccard_threshold, _stats)
    banded = _band_keys(sig, num_hashes, bands)
    cand = (
        banded.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(banded.select(F.col("id").alias("id_b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs(cand, sig, jaccard_threshold, round_digits)


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) banding keys — the ONLY payload that explodes and
    shuffles during candidate generation (never the shingle arrays)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _verify_pairs(
    cand: DataFrame,
    sig: DataFrame,
    jaccard_threshold: float,
    round_digits: int | None,
) -> DataFrame:
    """Exact-Jaccard verification: shingles rejoin per-candidate only."""
    sh = sig.select("id", "sh")
    jac = ngram_jaccard(F.col("sh_a"), F.col("sh_b"))
    if round_digits is not None:
        jac = F.round(jac, round_digits)
    # fixed-count repartition of the candidate id-pairs before the
    # verify joins: AQE coalesces the post-dedup candidate stream by its
    # tiny input bytes, and with the shingle sides broadcast the stream
    # partitioning IS the parallelism of the per-candidate exact-Jaccard
    # (interpreted array intersect — the expensive step). Same fan-out
    # blindness + cure as prefix_filter_jaccard_pairs / semantic_dedup.
    cand = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    return (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_pairs(
    new_sig: DataFrame,
    base_sig: DataFrame,
    num_hashes: int = 32,
    bands: int | None = None,
    jaccard_threshold: float = 0.6,
    round_digits: int | None = 4,
    _stats: dict | None = None,
) -> DataFrame:
    """Incremental near-dup mining for a daily ingest: every pair that
    involves at least one NEW document — new×new plus new×base — without
    ever re-mining base×base.

    This is the 100 TB steady state the two-phase API exists for: the
    corpus signature table (:func:`save_minhash_signatures`, bucketed by
    id) is yesterday's artifact; today's batch computes signatures for
    its own documents only, mines against the materialized base, then
    appends its signatures to the table for tomorrow.  Work per day is
    O(batch + collisions), not O(corpus²) — the base side contributes
    only its banding keys (16-byte buckets) and the shingles of actual
    candidates.

    Ids must be globally unique across both sides; output pairs are
    canonical (``id_a < id_b``) and deduplicated, so a doc present in
    both roles never yields a mirrored duplicate.
    """
    bands = _resolve_bands(num_hashes, bands, jaccard_threshold, _stats)
    band_new = _band_keys(new_sig, num_hashes, bands)
    band_base = _band_keys(base_sig, num_hashes, bands)
    nn = (
        band_new.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(band_new.select(F.col("id").alias("id_b"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    nb = (
        band_new.select(F.col("id").alias("id_n"), "band", "bucket")
        .join(band_base.select(F.col("id").alias("id_o"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
    )
    cand = nn.unionByName(nb).dropDuplicates(["id_a", "id_b"])
    all_sig = new_sig.select("id", "sh").unionByName(base_sig.select("id", "sh"))
    return _verify_pairs(cand, all_sig, jaccard_threshold, round_digits)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    round_digits: int | None = 4,
    hash_fn: str = "xxhash64",
    _stats: dict | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: returns (id_a, id_b, jaccard) with
    id_a < id_b and exact-shingle Jaccard >= threshold.

    One-shot convenience composition of :func:`minhash_signature_table` +
    :func:`minhash_pairs_from_signatures` with a spill-safe persist in
    between (signatures are reused by banding and both candidate-fetch
    joins).  For repeated mining over the same corpus, materialize the
    signature table instead (:func:`save_minhash_signatures`) — no
    executor-pinned persist, no recompute across runs.

    Recall knob: P(candidate) = 1-(1-J^r)^b with r = num_hashes//bands.
    With bands == num_hashes (r=1), P = 1-(1-J)^b — e.g. >= 1-0.6^32 ~
    1-8e-9 at J=0.6 — so the verified output equals the exact all-pairs
    Jaccard>=threshold set with near-certainty.  ``bands=None``
    (default) derives the banding from :func:`tune_lsh_bands` for
    ``jaccard_threshold`` — at 100 TB candidate volume into the
    exact-verify join, not signature width, is the cost that matters, so
    the tuner is on by default (e.g. 32 hashes at threshold 0.6 ->
    (b=8, r=4); at 0.9 -> (b=4, r=8)); pass ``bands`` to override.

    ``round_digits=None`` emits the raw int/int division (bit-identical
    across engines; preferred for differential testing).
    """
    sig = minhash_signature_table(df, text_col, id_col, num_hashes, shingle_n, hash_fn)
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    # localCheckpoint materializes the verified pairs so the persisted
    # signature table can be released eagerly instead of pinning executor
    # memory for the caller's lifetime.
    out = minhash_pairs_from_signatures(
        sig, num_hashes, bands, jaccard_threshold, round_digits, _stats=_stats
    ).localCheckpoint(eager=True)
    sig.unpersist()
    return out


def shingle_hash_expr(s: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit shingle hash, selectable for engine parity.

    - ``xxhash64``: fastest (JVM native); not reproducible outside Spark.
    - ``md5_60``: first 15 hex chars of md5 as a 60-bit non-negative long —
      bit-identical in any engine with md5 (DuckDB:
      ``('0x' || substr(md5(s),1,15))::BIGINT``), which makes simhash
      fingerprints differentially testable end-to-end.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(s)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown shingle hash_fn: {hash_fn!r}")


def simhash64(text: Column | str, ngram: int = 2, bits: int = 64) -> Column:
    """64-bit SimHash over word n-grams, native expressions only: for each
    bit b, sum +/-1 over token hashes' bit b; bit set iff sum > 0.

    The per-bit vote is one array fold; the 64 folds run inside a single
    projection (whole-stage codegen), no Python per row.
    """
    sh = word_shingles(text, ngram)

    def _vote_fn(b: int):
        return lambda a, h: a + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    # the token-hash array is BOUND once per row (round 14): the 64
    # per-bit folds each referenced the shingle+hash chain as their
    # child, re-evaluating it 64x per row in the interpreted evaluator
    def _votes(hashes):
        out = F.lit(0).cast("long")
        for b in range(bits):
            vote = F.aggregate(hashes, F.lit(0), _vote_fn(b))
            out = out.bitwiseOR(
                F.when(
                    vote > 0, F.shiftleft(F.lit(1).cast("long"), b)
                ).otherwise(F.lit(0).cast("long"))
            )
        return out

    return bind(F.transform(sh, lambda s: F.xxhash64(s)), _votes)


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via the hybrid fast path: shingle hashing stays in the
    JVM (xxhash64, deterministic), the 64-bit vote tally runs as an
    Arrow-batched numpy kernel. Equivalent to ``simhash64`` but ~2 orders
    of magnitude cheaper than 64 codegen'd array folds per row."""
    import numpy as np
    import pandas as pd

    hashed = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    ).select(
        "id",
        F.transform(
            word_shingles(F.col("t"), ngram),
            lambda s: shingle_hash_expr(s, hash_fn),
        ).alias("hs"),
    )

    def tally(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            sigs = np.zeros(len(pdf), dtype=np.uint64)
            for i, hs in enumerate(pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                if len(h) == 0:
                    continue
                bits = (h[:, None] >> shifts) & np.uint64(1)
                votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(h)
                sigs[i] = np.sum(
                    (votes > 0).astype(np.uint64) << shifts, dtype=np.uint64
                )
            yield pd.DataFrame(
                {"id": pdf["id"], "sh": sigs.astype(np.int64)}
            )

    return hashed.mapInPandas(tally, schema="id long, sh long")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs via 4x16-bit band blocking: any pair within
    Hamming distance 3 shares at least one of 4 bands (pigeonhole), so the
    candidate join is equi on (band, 16-bit chunk).

    With ``max_hamming <= 3`` recall is exactly 1 (pigeonhole guarantee),
    so the output IS the set of pairs with hamming(simhash) <= max_hamming
    — with ``hash_fn='md5_60'`` that set is reproducible in any engine."""
    sim = simhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    banded = sim.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    left = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "chunk")
    right = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "chunk")
    return (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.97,
    seed: int = 42,
    centroids: DataFrame | None = None,
    broadcast_max_rows: int = 100_000,
    pair_salt: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-space dedup (Abbas et al., arXiv:2303.09540):
    KMeans-cluster the unit-normalized embeddings, then inside each cluster
    drop every row whose cosine to a LOWER-id cluster member exceeds
    ``threshold`` — the lowest id in each near-dup group survives as the
    representative. Extends reference transform.py:62 (key dedup) to
    semantic content identity, past what exact/minhash text dedup can see.

    Scale shape: clustering bounds the candidate set — the pair join is
    equi on ``cluster_id``, so cost is sum(|cluster|^2) rather than
    corpus^2, and the KMeans model (n_clusters x dim) ships as a
    broadcast. At 100 TB raise ``n_clusters`` so clusters stay ~1e4-1e5
    rows; memory per task is one cluster's vectors, never the corpus.

    The pair join's PHYSICAL strategy is size-gated (round-11 verdict
    item 6's profile: the join output fans out |cluster|x past its
    shuffle input, AQE coalesces the tiny shuffle to ONE partition, and
    the per-pair cosine — the real cost — ran single-threaded, 3.2 s at
    sf0.1 for work worth 0.2 s):

    - assignment row count <= ``broadcast_max_rows``: broadcast the
      whole (checkpointed, id+unit-vector) assignment as the build side;
      the probe side streams in its existing scan partitions, so pair
      generation AND the cosine filter keep full parallelism with zero
      extra exchanges. Measured 2.04 -> 0.97 s at sf0.1.
    - larger corpora: shuffle equi-join on ``cluster_id`` (the
      assignment no longer fits a broadcast; with thousands of clusters
      the shuffle key itself carries the parallelism). ``pair_salt=S``
      additionally splits each cluster's pair block S ways (left side
      salted by id hash, right side replicated S x) so one hot cluster
      cannot hotspot a task — same cure as ivfpq_balance_cells.

    ``centroids``: a pre-fitted (list_id, centroid array<double>) table
    (see :func:`..similarity.fit_ivf_centroids` — fit once on a sample,
    save, reuse). When given, no per-call KMeans fit happens: rows are
    assigned to their nearest centroid by cosine, which on the normalized
    vectors equals Euclidean argmin — deterministic and reproducible in
    any engine, so the whole operator becomes differentially testable.

    Returns the kept rows of ``emb`` with original columns.
    """
    from ..functions.vectors import dot, normalize

    base = emb.select(id_col, vec_col).withColumn(
        "u", normalize(F.col(vec_col).cast("array<double>"))
    )
    if centroids is not None:
        from .similarity import assign_to_centroids

        assigned = assign_to_centroids(
            ensure_parallelism(base.select(id_col, "u")),
            centroids,
            "u",
            "cluster_id",
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = ensure_parallelism(base).withColumn("features", array_to_vector("u"))
        model = (
            KMeans(k=n_clusters, seed=seed, maxIter=5, predictionCol="cluster_id")
            .fit(feat)
        )
        assigned = model.transform(feat).select(id_col, "u", "cluster_id")

    # materialize the assignment once: both sides of the pair self-join
    # (and nothing else) read it, and without this Spark recomputes the
    # normalize+score pipeline per branch (measured 2x the assign cost at
    # sf0.1). localCheckpoint also caps the lineage like the PageRank
    # loop; at cluster scale prefer writing the assignment to a table.
    # LAZY: the broadcast-strategy count() below is the materializing
    # action, so the checkpoint costs no extra scheduled job.
    assigned = assigned.localCheckpoint(eager=False)

    a = assigned.select(F.col(id_col).alias("i"), F.col("u").alias("ui"), "cluster_id")
    b = assigned.select(F.col(id_col).alias("j"), F.col("u").alias("uj"), "cluster_id")
    # counting the checkpointed assignment is one cheap local job, and it
    # buys the physical-strategy decision Spark's stats cannot make here
    # (a LogicalRDD has no sizeInBytes, so auto-broadcast never fires)
    n_rows = assigned.count()
    if n_rows <= broadcast_max_rows:
        joined = b.join(F.broadcast(a), "cluster_id")
    elif pair_salt and pair_salt > 1:
        s = F.lit(pair_salt)
        a_s = a.withColumn("_salt", F.pmod(F.xxhash64("i"), s).cast("int"))
        b_s = b.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), s - F.lit(1)))
        )
        joined = a_s.join(b_s, ["cluster_id", "_salt"])
    else:
        joined = a.join(b, "cluster_id")
    dups = (
        joined
        .filter(F.col("i") < F.col("j"))
        .filter(dot(F.col("ui"), F.col("uj")) > threshold)
        .select(F.col("j").alias(id_col))
        .distinct()
    )
    return emb.join(dups, id_col, "left_anti")


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    ngram: int = 3,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose word
    n-gram shingle sets have Jaccard >= ``threshold`` — with the
    prefix-filtering candidate generation of the AllPairs / PPJoin family
    (Bayardo et al. WWW'07; Xiao et al. WWW'08), not an all-pairs scan.

    The filter rests on a theorem: order every document's shingles by one
    GLOBAL total order (here: ascending document frequency — rarest
    first — with the hash as tie-break), and take each document's first
    ``n - ceil(threshold * n) + 1`` shingles as its *prefix*. Two sets
    with Jaccard >= threshold MUST share at least one prefix shingle, so
    an equi-join on prefix shingles has perfect recall, while the rare-
    first order makes prefix blocks small (the frequent shingles that
    would explode the join are exactly the ones pushed out of prefixes).
    A symmetric size filter (t*|a| <= |b| <= |a|/t) prunes candidates
    whose lengths alone forbid the threshold, then the exact Jaccard is
    verified on candidates only.

    Unlike :func:`minhash_near_duplicates` this has NO false negatives —
    it returns exactly the true pair set (the oracle proves it against a
    naive all-pairs join). Cost trade: minhash touches each doc once
    regardless of threshold; prefix filtering does more candidate work at
    low thresholds but is exact and needs no signature tuning.

    Returns (id_a, id_b, jaccard) with ``id_a < id_b``; jaccard is an
    int/int double division (cross-engine exact).

    Scale shape: shingle df-count is a vocabulary-sized agg; per-doc
    sorting is one exchange on the doc id with the (df, hash) pair list
    sorted IN the row (lexicographic array sort — no struct types, so the
    same expression runs in any engine); candidate generation explodes
    only prefixes (~(1-t)*n shingles/doc) and equi-joins on the shingle
    hash; verification joins the candidate ids back to the stored shingle
    arrays. Every join is an equi-join; nothing is all-pairs.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            "prefix_filter_jaccard_pairs: threshold must be in (0, 1], got "
            f"{threshold!r} (the prefix length n - ceil(t*n) + 1 is only "
            "meaningful for a valid Jaccard threshold)"
        )
    sets = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(
                word_shingles(F.col(text_col), ngram),
                lambda s: shingle_hash_expr(s, hash_fn),
            )
        ).alias("hs"),
    )
    # hashing is the CPU-dominant step and `sets` feeds three consumers
    # (df counts, ordering, verify) — materialize once, like the minhash
    # signature persist; at cluster scale swap for a signature table.
    # try/finally so a failed candidate/verify job cannot leak the cache
    # in a long-lived session.
    sets = sets.withColumn("n", F.size("hs")).persist()
    try:
        # populate the cache BEFORE the consumers fan out: persist() is
        # lazy, and AQE submits independent query stages concurrently —
        # each one cache-misses the still-empty cache and recomputes the
        # shingle explode (round-12 status-store audit: Generate 260k
        # rows executed 3x within one action). One cheap count() turns
        # the storm into one compute + N reads.
        sets.count()
        toks = sets.select("_id", F.explode("hs").alias("h"))
        dfc = toks.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
        # per-doc shingles in global rare-first order, encoded as [df, hash]
        # pairs so lexicographic array ordering IS the global order
        ordered = (
            toks.join(dfc, "h")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list(F.array("dfreq", "h"))).alias("srt"))
        )
        p = F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")).cast("int") + 1
        pref = (
            ordered.withColumn("n", F.size("srt"))
            .select("_id", "n", F.explode(F.slice("srt", F.lit(1), p)).alias("pair"))
            .select("_id", "n", F.element_at("pair", 2).alias("h"))
        )
        t = F.lit(float(threshold))
        a = pref.select(F.col("h"), F.col("_id").alias("id_a"), F.col("n").alias("na"))
        b = pref.select(F.col("h"), F.col("_id").alias("id_b"), F.col("n").alias("nb"))
        cands = (
            a.join(b, "h")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("nb") >= t * F.col("na"))
                & (F.col("na") >= t * F.col("nb"))
            )
            .select("id_a", "id_b")
            .distinct()
        )
        # fixed-count repartition of the candidate id-pairs (tiny rows)
        # before the verify joins: the set sides broadcast, so the
        # stream side's partitioning IS the verify parallelism — and
        # AQE had coalesced the post-distinct stream to 2-3 partitions
        # by input bytes, serializing the per-candidate array_intersect
        # (the same fan-out blindness as semantic_dedup's pair join).
        # REPARTITION_BY_NUM is exempt from AQE coalescing. Measured at
        # sf0.1 (interleaved): 3.24 -> 2.44 s with the eager cache.
        cands = cands.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
        sa = sets.select(F.col("_id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("n").alias("na"))
        sb = sets.select(F.col("_id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("n").alias("nb"))
        inter = F.size(F.array_intersect("hs_a", "hs_b"))
        jac = inter / (F.col("na") + F.col("nb") - inter)
        out = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard")
        ).localCheckpoint(eager=True)
    finally:
        sets.unpersist()
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    ngram: int = 3,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """EXACT asymmetric set-containment join: all ordered pairs where
    document A's shingle set is (near-)contained in document B's —
    ``C(A,B) = |A ∩ B| / |A| >= threshold``. Jaccard near-dup
    (:func:`prefix_filter_jaccard_pairs`) misses the quote/recombination
    case this catches: a page that embeds another page whole scores low
    Jaccard (the container's extra content dilutes the union) but
    containment 1.0 — the signal for quotation farms, aggregators, and
    dedup of expanded revisions.

    Candidate generation adapts the prefix filter to the asymmetric
    measure: only the CONTAINED side takes a prefix — if C(A,B) >= t
    then at most ``n_A - ceil(t*n_A)`` of A's shingles miss B, so one of
    A's first ``n_A - ceil(t*n_A) + 1`` shingles (global rare-first
    order) must be in B; the container side indexes ALL its shingles (no
    prefix bound exists for B). The one-sided size filter ``n_B >=
    ceil(t * n_A)`` prunes impossible pairs (B too small to hold t of
    A). Exact containment verifies on candidates only. Hot shingles
    stay out of prefixes by the rare-first order, so the candidate join
    is bounded the same way PPJoin's is, at the cost of the container
    side shipping its full posting rows.

    Returns ``(contained_id, container_id, containment)`` for ordered
    pairs with ``contained_id != container_id``; containment is an
    int/int double division (cross-engine exact).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            "containment_pairs: threshold must be in (0, 1], got "
            f"{threshold!r} — a threshold > 1 makes the prefix length "
            "n - ceil(t*n) + 1 negative (opaque F.slice runtime error), "
            "<= 0 degenerates the verify filter (guard style matches "
            "winsorize_per_group)"
        )
    sets = ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(
                word_shingles(F.col(text_col), ngram),
                lambda s: shingle_hash_expr(s, hash_fn),
            )
        ).alias("hs"),
    )
    # try/finally: release the shingle cache even if a downstream job
    # fails — repeated calls in a long-lived session must not accrete
    sets = sets.withColumn("n", F.size("hs")).persist()
    try:
        # eager cache population — see prefix_filter_jaccard_pairs: AQE
        # runs independent stages concurrently and a lazy persist lets
        # each recompute the shingle explode on a cold cache
        sets.count()
        toks = sets.select("_id", F.explode("hs").alias("h"))
        dfc = toks.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
        ordered = (
            toks.join(dfc, "h")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list(F.array("dfreq", "h"))).alias("srt"))
        )
        t = F.lit(float(threshold))
        p = F.col("n") - F.ceil(t * F.col("n")).cast("int") + 1
        pref = (
            ordered.withColumn("n", F.size("srt"))
            .select("_id", "n", F.explode(F.slice("srt", F.lit(1), p)).alias("pair"))
            .select("_id", "n", F.element_at("pair", 2).alias("h"))
        )
        a = pref.select(
            F.col("h"), F.col("_id").alias("contained_id"), F.col("n").alias("na")
        )
        bfull = sets.select(
            F.col("_id").alias("container_id"),
            F.col("n").alias("nb"),
            F.explode("hs").alias("h"),
        )
        cands = (
            a.join(bfull, "h")
            .filter(
                (F.col("contained_id") != F.col("container_id"))
                & (F.col("nb") >= F.ceil(t * F.col("na")))
            )
            .select("contained_id", "container_id")
            .distinct()
        )
        # fixed-count repartition before the broadcast verify joins —
        # AQE coalesces the post-distinct candidate stream by its tiny
        # input bytes, serializing the per-candidate array_intersect;
        # see prefix_filter_jaccard_pairs
        cands = cands.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
        sa = sets.select(
            F.col("_id").alias("contained_id"),
            F.col("hs").alias("hs_a"),
            F.col("n").alias("na"),
        )
        sb = sets.select(
            F.col("_id").alias("container_id"), F.col("hs").alias("hs_b")
        )
        inter = F.size(F.array_intersect("hs_a", "hs_b"))
        out = (
            cands.join(sa, "contained_id")
            .join(sb, "container_id")
            .withColumn("containment", inter / F.col("na"))
            .filter(F.col("containment") >= t)
            .select("contained_id", "container_id", "containment")
        ).localCheckpoint(eager=True)
    finally:
        sets.unpersist()
    return out


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    scale: int = 1_000_000,
    max_iter: int = 50,
) -> DataFrame:
    """SOFT deduplication: instead of dropping near-duplicates, assign
    every document a sampling weight inversely proportional to its
    duplication-cluster size — ``weight = scale div cluster_size`` —
    so a document duplicated k times contributes ~once in expectation
    (the soft-dedup reweighting studied for LM pretraining; hard
    removal loses the signal that duplicated content is often GOOD
    content, reweighting keeps one effective copy of it).

    ``pairs`` is any near-duplicate pair table — MinHash
    (:func:`minhash_near_duplicates`), exact-Jaccard
    (:func:`prefix_filter_jaccard_pairs`), containment — so the
    evidence source is pluggable. Clusters are the transitive closure
    (:func:`~.graph.connected_components`); documents in no pair are
    singletons with weight ``scale``.

    Returns ``(id_col, cluster_size, weight_scaled)`` for EVERY input
    document; integer division keeps the weights cross-engine exact.
    Feed ``weight_scaled`` to a hash-threshold sampler (keep iff
    ``hash60(id) * cluster_size < scale_threshold``-style) or to the
    trainer's example-weight column.

    Scale shape: components over the PAIR set only (docs outside any
    pair never shuffle); one size agg on the component id; one
    broadcast-able join back to the corpus ids.

    Raises ``RuntimeError`` if the closure has not CONVERGED within
    ``max_iter`` rounds (round-10 ADVICE: a split cluster silently
    inflates ``weight_scaled`` for its members — over-sampling exactly
    the duplicated content this operator exists to down-weight, so the
    failure must be loud).  The default ``max_iter=50`` is the
    connected-components library default: with pointer doubling it
    covers diameters ~2**45, so a legitimate hit means a pathological
    graph, not a tuning problem.
    """
    from .graph import component_sizes, connected_components

    stats: dict = {}
    labels = connected_components(
        pairs, a_col, b_col, max_iter=max_iter, _stats=stats
    )
    if not stats.get("converged", True):
        raise RuntimeError(
            "soft_dedup_weights: connected_components exhausted "
            f"max_iter={max_iter} rounds without converging — weights "
            "from a split clustering would over-sample duplicates; "
            "raise max_iter"
        )
    sizes = component_sizes(labels)
    lab = labels.join(sizes, "comp").select(
        F.col("id").alias(id_col), F.col("size")
    )
    return (
        docs.select(id_col)
        .join(lab, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("size"), F.lit(1)).cast("bigint").alias(
                "cluster_size"
            ),
            F.expr(f"cast({int(scale)} div coalesce(size, 1) as bigint)").alias(
                "weight_scaled"
            ),
        )
    )


def repeated_kgram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact repeated-substring spans — the ExactSubstr dedup modality
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): find every maximal character span whose content recurs
    across (or within) the corpus. A substring of length >= k repeats
    iff every one of its length-k grams repeats, so corpus-wide k-gram
    counting finds exactly the spans a suffix array would, with no
    suffix-array build:

      1. explode each document into (id, pos, hash(k-gram)) — O(total
         chars) rows, produced narrowly in the scan stage. ``hash_fn``
         is ``xxhash64`` by default (8-byte bigint shuffle key; the
         output depends only on gram EQUALITY, so any collision-safe
         hash yields identical spans — the DuckDB oracle uses md5 and
         still matches); pass ``md5`` to mirror an external system
         bit-for-bit;
      2. ONE window count partitioned by the gram hash (single exchange
         keyed by the hash; the payload per row is just id+pos, the text
         itself never shuffles) keeps positions whose gram occurs
         ``min_count``+ times anywhere;
      3. per-document running-max interval merge of the surviving
         [pos, pos+k-1] windows (second exchange, on the doc id) —
         overlapping-or-adjacent spans coalesce into maximal spans, all
         native window expressions.

    Returns one row per maximal span: (id, span_start [1-based],
    span_len, n_dup_grams). 100 TB: materialize step 1 as a bucketed
    gram table (the save_minhash_signatures pattern) and swap the window
    count for groupBy+broadcast-semi-join when the duplicated-gram set
    is small relative to the corpus.
    """
    grams = kgram_table(df, text_col, id_col, k, hash_fn)
    dup = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("cnt") >= min_count)
    return _merge_gram_spans(dup.select("_id", "pos"), id_col, k)


def kgram_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Phase 1 of two-phase ExactSubstr: the positional gram table
    ``(_id, pos, h)`` — one row per character position, hash of the
    length-``k`` gram starting there. Narrow (scan-stage) explode; this
    is what :func:`save_kgram_table` materializes at corpus scale."""
    t, i = F.col(text_col), F.col(id_col)
    # explode the POSITION sequence and hash after the explode: the old
    # form built a (pos, hash) struct inside a transform() lambda, which
    # evaluates INTERPRETED once per character of the corpus (round-9
    # lesson); post-explode the substring+hash is one codegen expression
    # per row. sequence() counts DOWN when stop < start (NOTES pitfall)
    # -> short texts are guarded to an empty array.
    return (
        ensure_parallelism(df.select(i.alias("_id"), t.alias("_t")))
        .select(
            "_id",
            "_t",
            F.explode(
                F.when(
                    F.length("_t") >= k,
                    F.sequence(F.lit(1), F.length("_t") - k + 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            "_id",
            "pos",
            F.expr(f"{hash_fn}(substring(_t, pos, {k}))").alias("h"),
        )
    )


def _merge_gram_spans(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Running-max interval merge of duplicated gram positions ``(_id,
    pos)`` into maximal spans (overlap-or-adjacent coalesce)."""
    wdoc = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        dup.withColumn(
            "new_span",
            F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1) - F.min("pos") + 1).cast("long").alias("span_len"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_len", "n_dup_grams")
    )


def save_kgram_table(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    hash_fn: str = "xxhash64",
    num_buckets: int = 32,
) -> None:
    """Materialize the positional gram table bucketed by the gram hash
    ``h`` (the save_minhash_signatures pattern): the corpus-wide explode
    and the exchange on ``h`` are paid ONCE at write time. Every later
    use — re-running span detection with a different ``min_count``, or an
    :func:`incremental_kgram_spans` batch — aggregates or joins on ``h``
    against co-located buckets with no Exchange on the base side."""
    from ..sinks.bucketed import write_bucketed

    grams = kgram_table(df, text_col, id_col, k, hash_fn)
    write_bucketed(grams, table, "h", num_buckets=num_buckets, sort_col="h")


def incremental_kgram_spans(
    base_grams: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Daily-batch ExactSubstr: repeated-substring spans for the NEW docs
    against (base corpus + batch), without re-exploding the base corpus.

    A new-doc gram is duplicated iff its occurrences within the batch
    plus its occurrences in the base gram table reach ``min_count`` — so
    the work is O(batch grams + base-side aggregate on matching hashes):
    the base table (read back from :func:`save_kgram_table`'s bucketed
    parquet) is aggregated by ``h`` with NO Exchange (bucketed on ``h``),
    and only hash-count pairs, never base positions, cross the join.
    Equals the full recompute restricted to batch ids (tested), except
    spans that exist ONLY inside the base corpus, which were already
    reported when the base was built.
    """
    grams_new = kgram_table(new_docs, text_col, id_col, k, hash_fn)
    base_counts = base_grams.groupBy("h").agg(F.count(F.lit(1)).alias("base_cnt"))
    cnt_new = F.count(F.lit(1)).over(Window.partitionBy("h"))
    dup = (
        grams_new.withColumn("new_cnt", cnt_new)
        .join(base_counts, "h", "left")
        .filter(
            F.col("new_cnt") + F.coalesce(F.col("base_cnt"), F.lit(0)) >= min_count
        )
    )
    return _merge_gram_spans(dup.select("_id", "pos"), id_col, k)


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """ExactSubstr dedup, removal stage (Lee et al. 2022 cut the spans
    they detect; this is that cut): rewrite each document with every
    maximal repeated span removed, keeping the complement segments in
    order.

    Plan shape: span detection (:func:`repeated_kgram_spans`) produces
    the tiny (id, start, len) table; spans group per doc into a sorted
    array (disjoint by construction — the detector merges overlaps), a
    single ``aggregate`` fold builds the complement segment list, and
    one ``concat_ws(transform(...))`` stitches the kept substrings — all
    JVM expressions evaluated once per document, no explode of
    characters, no Python. Docs with no spans pass through via the left
    join (empty segment fold keeps full text).

    Returns (id, clean_text, n_removed_chars).
    """
    spans = repeated_kgram_spans(df, text_col, id_col, k, min_count, hash_fn)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_len"))
        ).alias("_spans"),
        F.sum("span_len").alias("_removed"),
    )
    out = df.join(per_doc, id_col, "left")
    # fold over spans: acc = (cursor, kept-segments); each span emits the
    # gap [cursor, span_start), cursor jumps past the span; finish adds
    # the tail segment [cursor, end]
    segs = F.expr(
        f"""
        aggregate(
          coalesce(_spans, array()),
          struct(cast(1 as long) as cur, cast(array() as array<struct<s: bigint, l: bigint>>) as segs),
          (acc, sp) -> struct(
            sp.span_start + sp.span_len as cur,
            case when sp.span_start > acc.cur
                 then acc.segs || array(struct(acc.cur as s, sp.span_start - acc.cur as l))
                 else acc.segs end as segs),
          acc -> case when length({text_col}) + 1 > acc.cur
                      then acc.segs || array(struct(acc.cur as s, length({text_col}) + 1 - acc.cur as l))
                      else acc.segs end)
        """
    )
    clean = F.concat_ws(
        "",
        F.transform(
            segs, lambda sg: F.expr(text_col).substr(sg["s"].cast("int"), sg["l"].cast("int"))
        ),
    )
    return out.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.col("_removed"), F.lit(0)).cast("long").alias("n_removed_chars"),
    )


def canonical_by_quality(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection for near-duplicate clusters:
    within every dup component keep the HIGHEST-quality document (ties
    broken by the smallest id), not the arbitrary lowest-id one.

    ``labels`` is ``(id, comp)`` from :func:`graph.connected_components`
    over the near-dup pair list — i.e. one row per CLUSTERED document.
    Documents absent from ``labels`` are singletons and canonicalize to
    themselves. This is the curation-grade version of the min-id
    decision table (``near_dup_canonical_map``): when a page exists as a
    truncated scrape and a full scrape, min-id keeps whichever was
    crawled first; ranking by a quality signal (length, LM score, ...)
    keeps the best copy.

    Returns ``(id_col, canonical_id, keep, cluster_size)`` for every
    input document.

    Scale shape: the ranking window and the size aggregate run over the
    CLUSTERED docs only — the dup set, orders of magnitude smaller than
    the corpus — sharing one exchange on the component key; singletons
    stream through the scan stage untouched (no window, no shuffle).
    Determinism: (quality DESC, id ASC) is a total order.
    """
    lab = labels.select(F.col("id").alias(id_col), "comp")
    base = docs.select(id_col, quality_col).join(lab, id_col, "left")
    clustered = base.filter(F.col("comp").isNotNull())
    w = Window.partitionBy("comp").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    wa = Window.partitionBy("comp")
    ranked = clustered.select(
        id_col,
        "comp",
        F.row_number().over(w).alias("_rn"),
        F.first(F.col(id_col)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("canonical_id"),
        F.count(F.lit(1)).over(wa).alias("cluster_size"),
    )
    out_clustered = ranked.select(
        id_col,
        "canonical_id",
        (F.col("_rn") == 1).alias("keep"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )
    singles = base.filter(F.col("comp").isNull()).select(
        id_col,
        F.col(id_col).alias("canonical_id"),
        F.lit(True).alias("keep"),
        F.lit(1).cast("bigint").alias("cluster_size"),
    )
    return out_clustered.unionByName(singles)


def ngram_novelty_scores(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-corpus n-gram novelty — the memorization-risk twin of
    benchmark decontamination: for each document, how much of its
    distinct n-gram inventory also occurs in at least one OTHER
    document. Low novelty flags template/boilerplate-heavy documents a
    model would effectively see many times; the per-doc score is the
    standard input to novelty-weighted sampling.

    Returns ``(id_col, n_grams, n_shared, novelty)`` where ``novelty =
    (n_grams - n_shared) / n_grams`` over the document's DISTINCT
    n-grams (``n_shared`` counts those with corpus document-frequency
    >= 2).

    Scale shape: shingles hash to 60-bit digests IN-ROW, so the only
    exchanges carry ``(doc, hash)`` pairs and hash counts — never text;
    the gram-frequency aggregation is Zipf-collapsed by map-side
    partials, and one digest equi-join + one doc aggregation produce
    both counters in a single pass.
    """
    h60 = F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast("long")
    grams = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("g")
    ).select(id_col, h60.alias("h"))
    freq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per = (
        grams.join(freq, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_shared"),
        )
    )
    return per.select(
        id_col,
        "n_grams",
        "n_shared",
        (
            (F.col("n_grams") - F.col("n_shared")).cast("double")
            / F.col("n_grams")
        ).alias("novelty"),
    )


def pair_set_recall(
    exact_pairs: DataFrame,
    candidate_pairs: DataFrame,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    scale: int = 1_000_000,
) -> DataFrame:
    """Candidate-generation recall for a dedup pipeline — the tuning
    metric for every LSH banding / blocking-key choice (how many TRUE
    near-dup pairs does the candidate generator surface?), mirroring
    what :func:`~.similarity.topk_recall` does for ANN indexes.

    ``exact_pairs`` is the ground-truth pair set (e.g.
    :func:`prefix_filter_jaccard_pairs` — exact, perfect recall by
    theorem); ``candidate_pairs`` the pipeline under test (e.g.
    :func:`minhash_near_duplicates` — banding can miss pairs near the
    threshold).  Returns ONE row: ``(n_true, n_found, n_extra,
    recall_ppm)`` in exact integers — ``n_extra`` counts candidate
    pairs outside the truth set (nonzero means the two pipelines
    disagree on the pair DEFINITION, worth failing loudly on in a
    tuning loop; verified-candidate generators like minhash emit 0).

    Scale shape: pair tables are output-sized (bounded by the
    generators' own sub-quadratic guarantees); the metric joins are equi
    on the id pair and the three aggregates are single-row broadcasts.
    """
    a, b = id_cols
    e = exact_pairs.select(a, b)
    c = candidate_pairs.select(a, b)
    n_true = e.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = c.join(e, [a, b]).agg(F.count(F.lit(1)).alias("n_found"))
    n_extra = c.join(e, [a, b], "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    return (
        n_true.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_extra))
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_found").cast("bigint").alias("n_found"),
            F.col("n_extra").cast("bigint").alias("n_extra"),
            F.expr(
                f"cast(CASE WHEN n_true > 0 THEN n_found * {int(scale)}"
                f" div n_true END as bigint)"
            ).alias("recall_ppm"),
        )
    )
