"""Winnowing document fingerprints (rolling k-gram hash window minima).

Implements the winnowing fingerprint selection of Schleimer, Wilkerson &
Aiken, "Winnowing: Local Algorithms for Document Fingerprinting"
(SIGMOD 2003): hash every word k-gram of a document, slide a window of
``w`` consecutive k-gram hashes, and keep the minimum hash of each window.
The selected set is a position-robust fingerprint: any shared substring of
at least ``w + k - 1`` words between two documents is guaranteed to
produce at least one shared fingerprint, while the expected density of
selected hashes is only ``2 / (w + 1)`` of all k-grams.

Scale design (100 TB): fingerprint selection is a pure per-row expression
chain (split -> k-gram hash -> window minima -> distinct), so it runs in
the scan stage with zero shuffle; candidate pairing is an equi-join on the
fingerprint value — exactly the banding shape of minhash LSH, never an
all-pairs comparison. Hot fingerprints (boilerplate shared by thousands of
docs) are capped by document frequency before the self-join, which bounds
the worst-case join fan-out the same way stop-word removal bounds an
inverted index.

The reference has no near-dup operator at all (its only dedup is the exact
``drop_duplicates(subset=['link'])``, reference: transform.py:62); this is
part of the north-star LLM-curation layer (SURVEY.md §2b).

With ``hash_fn='md5_60'`` every selected fingerprint is bit-reproducible
in DuckDB (same md5-prefix hash, same window minima), so the whole
pipeline — selection AND pairing — is differentially testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_hash_expr

__all__ = [
    "kgram_hash_array",
    "winnow",
    "winnowing_fingerprints",
    "winnowing_near_duplicates",
]


def _words(text: Column) -> Column:
    # normalized word stream: lowercase, collapse whitespace — identical to
    # operators/dedup.word_shingles so fingerprints and shingles agree
    return F.split(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))), " ")


def kgram_hash_array(text: Column | str, k: int = 3, hash_fn: str = "md5_60") -> Column:
    """Positional array of 64-bit hashes of every word k-gram.

    Unlike ``word_shingles`` this keeps POSITION (no distinct) — winnowing
    needs the k-gram sequence, not the k-gram set. Pure narrow expression:
    no shuffle, stays in whole-stage codegen.
    """
    from .dedup import word_ngrams

    text = F.col(text) if isinstance(text, str) else text
    # word_ngrams builds the positional gram stream from k shifted
    # slices zipped together: the lambda references only lambda
    # variables, so the normalize/split chain evaluates once per row.
    # The historical ``transform(sequence(1, n), i -> concat_ws(' ',
    # slice(w, i, k)))`` form re-evaluated ``w`` per gram — O(words^2)
    # per document — and stacking :func:`winnow`'s window lambda on top
    # re-evaluated THIS whole array per window: the two fixes together
    # took the sf0.001 fingerprint pass from 33 s to sub-second with
    # bit-identical output (the DuckDB oracle pins the selected set).
    return F.transform(
        word_ngrams(_words(text), k), lambda g: shingle_hash_expr(g, hash_fn)
    )


def winnow(hashes: Column, w: int = 4) -> Column:
    """Distinct window minima of a hash sequence (the winnowing selection).

    For each of the ``n - w + 1`` windows of ``w`` consecutive hashes, keep
    ``min(window)``; return the distinct selected hashes. Documents shorter
    than one window contribute ``min(all hashes)`` (the standard
    degenerate-window rule). ``slice`` clamps at the array end in both
    Spark and DuckDB, so the mirror is exact.
    """
    from ..functions.hof import bind

    # w shifted slices zipped, minimum per window via least() — the
    # lambda references only lambda variables, and the hash array
    # (itself a full k-gram + hash chain) is bound once per row.  The
    # historical ``transform(sequence, i -> array_min(slice(hashes, i,
    # w)))`` re-evaluated the ENTIRE hash chain once per window —
    # stacked on the same defect inside kgram_hash_array this made the
    # fingerprint pass cubic in document length.  least() skips the
    # NULLs arrays_zip pads short trailing slices with, so the
    # degenerate-window rule (docs shorter than one window contribute
    # min(all hashes)) is preserved exactly; hash values themselves are
    # never NULL (hashes of non-null gram strings).
    def build(hs: Column) -> Column:
        n_win = F.greatest(F.size(hs) - (w - 1), F.lit(1))
        zipped = F.arrays_zip(
            *[F.slice(hs, i + 1, n_win).alias(f"h{i}") for i in range(w)]
        )
        if w == 1:
            return F.transform(zipped, lambda s: s["h0"])
        return F.transform(
            zipped, lambda s: F.least(*[s[f"h{i}"] for i in range(w)])
        )

    return F.array_distinct(bind(hashes, build))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """One row per (document, selected fingerprint).

    Exploded form feeds the inverted fingerprint index / candidate join;
    everything before the explode is a narrow per-row expression.
    """
    from .util import ensure_parallelism

    fps = winnow(kgram_hash_array(F.col(text_col), k, hash_fn), w)
    # per-token hashing is CPU-bound and a single-file scan arrives as
    # one task — spread it first (the minhash_signature_table pattern)
    return ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(fps).alias("fingerprint")
    )


def winnowing_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing >= ``min_shared``
    winnowing fingerprints, with hot fingerprints (document frequency >
    ``max_df``) dropped before pairing.

    Returns (id_a, id_b, n_shared) with ``id_a < id_b``.

    Scale shape: fingerprint df-count is one partial+final agg exchange;
    the pair generator is an equi-join on the fingerprint value whose
    fan-out is bounded by ``max_df``^2 per fingerprint (boilerplate can't
    explode the join); the pair count is one more agg on the (a, b) key.
    No similarity verify step here — compose with ``ngram_jaccard`` or
    minhash verify when an exact score is needed.

    Eager at construction: the result is an eager ``localCheckpoint``, so
    calling this function runs the whole pair job before it returns, and
    the checkpoint blocks stay cached for the session.  A caller that only
    wants the plan (``EXPLAIN``) or a streaming form pays that job too.
    """
    from pyspark import StorageLevel

    # the fingerprint stream feeds the df-count agg AND both pair sides —
    # without a cut the scan+hash+winnow chain executes once per
    # consumer (3x).  Spill-safe persist for the one-shot composition,
    # released once the pair table is materialized; the steady state
    # materializes the fingerprint table instead (the
    # save_minhash_signatures note applies verbatim).
    fps = winnowing_fingerprints(df, text_col, id_col, k, w, hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fingerprint")
    )
    kept = fps.join(rare, "fingerprint")
    a = kept.select(F.col("fingerprint"), F.col(id_col).alias("id_a"))
    b = kept.select(F.col("fingerprint"), F.col(id_col).alias("id_b"))
    out = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    ).localCheckpoint(eager=True)
    fps.unpersist()
    return out
