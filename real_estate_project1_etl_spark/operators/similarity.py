"""Similarity search over embedding columns (north-star §2b).

Two tiers:
- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the corpus; per-row JVM dot product via higher-order
  functions, then per-query top-k window. Correct baseline at any corpus
  size as long as the *query* side is broadcastable.
- ``lsh_topk``: approximate — random-hyperplane LSH buckets (sign of dot
  with r random vectors); candidates only meet within a bucket, so the join
  is equi on the bucket key. The scale path when both sides are large.
- ``brute_force_topk_pandas``: Arrow-batched numpy matmul variant — the
  BLAS-batched alternative when vectors are wide; same results.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm
from .util import ensure_parallelism


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, sim); excludes self-matches.
    Similarity is rounded before ranking so ordering is reproducible across
    engines; ties break on neighbor id (total order -> deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), round_to),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Top-``k`` highest-cosine WRONG-label neighbors per anchor — the
    hard-negative mining step of contrastive / dense-retrieval training
    (a negative that the current embedding space ranks close to the
    anchor is what actually moves the loss; random negatives are
    trivially separable). Same deterministic contract as
    :func:`brute_force_topk`: similarity rounded before ranking,
    neighbor-id tiebreak, self-pairs impossible because the label must
    differ.

    Returns ``(query_id, neighbor_id, rank, sim)``.

    NULL-label contract: rows with a NULL ``label_col`` — on either side
    — take no part in mining (an unlabeled document can be neither a
    confirmed wrong-label negative nor an anchor with a known positive
    class). They are dropped EXPLICITLY below rather than left to the
    NULL-rejecting ``!=`` join predicate, so the contract is visible in
    the plan as a Filter, not an accident of three-valued logic. Label
    your corpus (or assign a sentinel class) if unlabeled rows should be
    mined.

    Scale shape: the anchor batch broadcasts (mining runs per training
    batch, anchors << corpus); scoring is scan-stage; the per-anchor
    top-k is a Filter directly over row_number, so it compiles to
    WindowGroupLimit with a partial stage — each map task pre-prunes to
    its local k before the exchange. For corpus-x-corpus mining, bucket
    with :func:`lsh_topk`/:func:`ivf_topk` first and rescore candidates
    here.
    """
    q = queries.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("q_vec"),
    )
    c = ensure_parallelism(
        corpus.filter(F.col(label_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("n_label"),
            F.col(vec_col).alias("c_vec"),
        )
    )
    scored = c.join(
        F.broadcast(q), F.col("q_label") != F.col("n_label")
    ).withColumn(
        "sim",
        F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), round_to),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG; no
    driver numpy dependency, reproducible across runs)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            # Box-Muller-free symmetric uniform is fine for sign hashing
            v.append(state / 0x40000000 - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-of-dot-product bucket id: bit i = 1 iff dot(vec, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p]))
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: both sides bucketed by random-hyperplane signature,
    equi-join on bucket, exact cosine within bucket. Recall rises with fewer
    planes (bigger buckets) or multi-probe; at 100 TB this replaces the
    O(|Q|x|C|) broadcast join with an O(collisions) shuffle join.

    Fully deterministic: the hyperplanes come from a seeded pure-python
    LCG (``_random_hyperplanes``), so the bucketing — and therefore the
    output — is reproducible in any engine that inlines the same plane
    constants (the DuckDB oracle does exactly that)."""
    planes = _random_hyperplanes(dim, n_planes, seed)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket_expr(vec_col, planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket_expr(vec_col, planes).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine_similarity("q_vec", "c_vec"), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_flip: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS every
    bucket within Hamming distance ``n_flip`` of its signature (bit flips).

    Recall recovery without bigger buckets: a near-neighbor that lands one
    sign-bit away (the common LSH miss) is found by probing the flipped
    bucket. Cost model at scale: corpus is hashed once (unchanged); only the
    tiny query side explodes x(1 + n_planes choose n_flip) rows before the
    equi-join on ``bucket``, so the shuffle stays O(collisions) — the
    candidate set grows linearly with probes, not with corpus size.
    """
    planes = _random_hyperplanes(dim, n_planes, seed)
    base = lsh_bucket_expr(vec_col, planes)
    # bucket ^ (1<<i) for each flipped plane, plus the exact bucket (probe 0)
    probe_masks = [0] + [1 << i for i in range(n_planes)]
    if n_flip >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe_masks.append((1 << i) | (1 << j))
    probes_arr = F.array(*[F.lit(m).cast("long") for m in probe_masks])
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            base.alias("bucket0"),
        )
        .withColumn("mask", F.explode(probes_arr))
        .select(
            "query_id",
            "q_vec",
            F.col("bucket0").bitwiseXOR(F.col("mask")).alias("bucket"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket_expr(vec_col, planes).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a (query, neighbor) pair can meet through several probes — dedup
        # before ranking so row_number sees each candidate once
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("q_vec").alias("q_vec"), F.first("c_vec").alias("c_vec"))
        .withColumn("sim", F.round(cosine_similarity("q_vec", "c_vec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def fit_ivf_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Fit-once coarse quantizer for :func:`ivf_topk`: KMeans over the
    corpus, returned as a plain (list_id, centroid) DataFrame the caller
    can persist (``.write.parquet``) and reuse across queries/sessions.

    At 100 TB the quantizer is fitted ONCE on a sample and saved; every
    subsequent ``ivf_topk(..., centroids=saved)`` call skips the fit — the
    per-call KMeans in the default path is a small-scale convenience only.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = ensure_parallelism(
        corpus.select(F.col(vec_col).alias("c_vec"))
    ).withColumn("features", array_to_vector(F.col("c_vec").cast("array<double>")))
    model = KMeans(k=n_lists, seed=seed, maxIter=5).fit(feat)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return corpus.sparkSession.createDataFrame(
        rows, "list_id int, centroid array<double>"
    )


def assign_to_centroids(
    df: DataFrame, cents: DataFrame, vec_col: str, out_col: str = "list_id"
) -> DataFrame:
    """Nearest-centroid assignment by cosine (ties -> lowest list_id):
    collapse the tiny centroid table to ONE array row, broadcast it, and
    take the per-row argmax with ``array_max`` over a ``transform`` —
    the whole assignment is a pure map inside the scan's codegen stage.
    The corpus never shuffles, never row-explodes to (row x centroid),
    and no window runs (the previous window keyed on the embedding
    column hashed and shuffled every scored pair's full vector — the
    measured 1.5x semantic_dedup regression at sf0.1).

    Tie-break: centroid structs carry ``(cosine, -list_id)``, so the
    struct max is the highest cosine and, among equals (including the
    all-NaN zero-vector case, where NaN compares greatest), the LOWEST
    list id — same decision as the old ``ORDER BY _cd DESC, list_id``.

    Cosine argmax equals Euclidean argmin when vectors are unit-normalized
    (spherical k-means assignment); deterministic for a given centroid
    table, which makes IVF/SemDeDup reproducible across engines.
    """
    cents_arr = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("list_id"), F.col("centroid")))
        ).alias("_cents")
    )
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                cosine_similarity(F.col(vec_col), c["centroid"]).alias("cd"),
                (-c["list_id"]).alias("nlid"),
            ),
        )
    )
    return (
        df.join(F.broadcast(cents_arr))
        .select(*df.columns, (-best["nlid"]).alias(out_col))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: DataFrame | None = None,
    round_to: int = 6,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    into ``n_lists`` cells; each query probes its ``n_probe`` nearest
    cells and scores exact cosine only within them.

    Scale shape: the corpus is scanned once for assignment (model
    broadcast), then the candidate join is equi on ``list_id`` — the probe
    factor (n_probe/n_lists) is the fraction of the corpus each query
    touches. Centroids live on the driver (n_lists x dim — tiny) and ship
    as a broadcast literal table.

    ``centroids``: a pre-fitted (list_id, centroid array<double>) table —
    the fit-once path (:func:`fit_ivf_centroids`, or any deterministic
    choice of centroids). When given, no KMeans fit happens here and corpus
    assignment is nearest-centroid by cosine (:func:`assign_to_centroids`),
    so results are fully deterministic and engine-reproducible. When None,
    a per-call KMeans fit (seeded) supplies the quantizer.
    """
    corp0 = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    if centroids is not None:
        cents = centroids
        assigned = assign_to_centroids(
            ensure_parallelism(corp0), cents, "c_vec", "list_id"
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        spark = corpus.sparkSession
        corp = ensure_parallelism(corp0).withColumn(
            "features", array_to_vector(F.col("c_vec").cast("array<double>"))
        )
        model = KMeans(k=n_lists, seed=seed, maxIter=5, predictionCol="list_id").fit(corp)
        assigned = model.transform(corp).select("neighbor_id", "c_vec", "list_id")

        centroid_rows = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        cents = spark.createDataFrame(centroid_rows, "list_id int, centroid array<double>")

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("cd", cosine_similarity(F.col("q_vec"), F.col("centroid")))
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cd").desc(), F.col("list_id"))
    probed = (
        probes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "q_vec", "list_id")
    )

    scored = (
        assigned.join(probed, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine_similarity("q_vec", "c_vec"), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries_pdf,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched numpy variant: the query matrix ships to every task
    once (closure broadcast); each Arrow batch of corpus vectors does one
    BLAS matmul. Wins over per-row expressions for wide vectors."""
    import numpy as np
    import pandas as pd

    qids = queries_pdf[id_col].to_numpy()
    qmat = np.stack(queries_pdf[vec_col].to_numpy())
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            cmat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            sims = cmat @ qmat.T  # (batch, nq)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(ids)),
                    "neighbor_id": np.tile(ids, len(qids)),
                    "sim": np.round(sims.T.ravel(), 6),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidate_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN memory ladder: coarse top-(k*candidate_factor) over
    INT8-quantized vectors (4-8x smaller scan/shuffle footprint), exact
    cosine re-rank over the full-precision vectors of the survivors only.

    Scale shape: the coarse stage reads the small quantized columns for
    the WHOLE corpus; full-precision vectors are fetched via a semi-join
    for ~k*factor rows per query — the expensive bytes move only for
    candidates. Recall loss is bounded by the int8 grid (cosine distortion
    < 1% — see the quantization tests), recovered by candidate_factor.
    """
    from ..functions.vectors import dequantize_int8, quantize_int8

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    ).withColumn("c_q", quantize_int8(F.col("c_vec")))

    coarse = (
        c.select("neighbor_id", "c_q")
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "coarse_sim",
            cosine_similarity(F.col("q_vec"), dequantize_int8(F.col("c_q"))),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_sim").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        coarse.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= k * candidate_factor)
        .select("query_id", "q_vec", "neighbor_id")
    )

    rer = (
        cands.join(
            c.select("neighbor_id", "c_vec"), "neighbor_id"
        )
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6)
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def random_projection(
    vec, dim: int, out_dim: int, seed: int = 7, scale: bool = True
):
    """Johnson-Lindenstrauss random projection of an embedding column to
    ``out_dim`` components — the standard dimensionality cut before
    clustering / ANN when vectors are wide (JL: pairwise geometry is
    preserved within epsilon for out_dim = O(log n / eps^2)).

    Pure expression tree: ``out_dim`` dot products against seeded-LCG
    hyperplanes (:func:`_random_hyperplanes` — the same deterministic
    generator the LSH bucketing uses), so projections are bit-reproducible
    across runs AND engines (the DuckDB oracle inlines the identical plane
    constants).  ``scale`` multiplies by 1/sqrt(out_dim), making projected
    L2 distances unbiased estimates of the originals (cosine is
    scale-invariant either way).

    At 100 TB this runs in the scan stage (narrow, codegen'd, no Python,
    no shuffle) and cuts every downstream shuffle/sketch byte count by
    dim/out_dim.
    """
    import math as _math

    v = F.col(vec) if isinstance(vec, str) else vec
    planes = _random_hyperplanes(dim, out_dim, seed)
    s = 1.0 / _math.sqrt(out_dim) if scale else 1.0
    comps = [
        dot(v, F.array(*[F.lit(float(x)) for x in p])) * F.lit(s) for p in planes
    ]
    return F.array(*comps)


def projected_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    proj_dim: int = 16,
    k: int = 5,
    n_planes: int = 4,
    seed_proj: int = 7,
    seed_lsh: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """The full ANN memory/compute ladder in one operator:
    JL-project (``dim`` -> ``proj_dim``) -> hyperplane-LSH bucket in the
    PROJECTED space -> candidate equi-join on bucket -> EXACT cosine rerank
    on the ORIGINAL vectors.

    Why project before bucketing: at 100 TB the bucketing pass reads every
    vector — hashing 16 components instead of 1536 cuts that scan's compute
    ~100x while JL preserves the sign-of-dot geometry the buckets encode.
    The rerank stage touches original vectors only for candidates (the
    quantized-rerank pattern, with JL instead of int8 as the cheap tier).

    Deterministic end-to-end (seeded planes for both tiers), so the whole
    ladder — projection, bucketing, candidates, rerank — is mirrorable in
    SQL and differentially checked (``jl_lsh_rerank_topk``).
    """
    pj = lambda c: random_projection(c, dim, proj_dim, seed_proj)  # noqa: E731
    planes = _random_hyperplanes(proj_dim, n_planes, seed_lsh)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("pv", pj(F.col("qv")))
        .withColumn("bucket", lsh_bucket_expr("pv", planes))
        .drop("pv")
    )
    c = (
        ensure_parallelism(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        )
        .withColumn("pv", pj(F.col("cv")))
        .withColumn("bucket", lsh_bucket_expr("pv", planes))
        .drop("pv")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("qv"), F.col("cv")), round_to)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def fit_pq_codebooks(
    corpus: DataFrame,
    m_subspaces: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Fit-once PRODUCT-QUANTIZATION codebooks (Jégou et al., TPAMI
    2011): split each vector into ``m_subspaces`` contiguous
    subvectors and fit an independent KMeans codebook of ``n_codes``
    centroids per subspace. Returns ``(subspace, code, centroid
    array<double>)`` — persist it and reuse across sessions, exactly
    like :func:`fit_ivf_centroids` (and like there, the per-call fit is
    a small-scale convenience; at 100 TB fit on a sample, once).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if m_subspaces < 1 or n_codes < 1:
        raise ValueError(
            "fit_pq_codebooks: m_subspaces and n_codes must be >= 1, got "
            f"{m_subspaces!r}/{n_codes!r}"
        )
    spark = corpus.sparkSession
    base = ensure_parallelism(
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    ).localCheckpoint(eager=True)
    dim = base.select(F.size("v")).first()[0]
    if dim % m_subspaces != 0:
        raise ValueError(
            f"fit_pq_codebooks: dim {dim} not divisible by m_subspaces "
            f"{m_subspaces}"
        )
    sub = dim // m_subspaces
    rows = []
    for s in range(m_subspaces):
        feat = base.select(
            array_to_vector(
                F.slice("v", s * sub + 1, sub)
            ).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed + s, maxIter=5).fit(feat)
        for c, cent in enumerate(model.clusterCenters()):
            rows.append((s, c, [float(x) for x in cent]))
    return spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    )


def _pq_collapse(codebooks: DataFrame):
    """One broadcastable row: ``_cbs[s]`` = code-ascending array of
    ``(code, centroid)`` structs for subspace ``s``; plus (m, sublen).

    Validates the public ``codebooks`` contract (round-10 ADVICE): every
    subspace must carry the SAME number of codes, labeled exactly
    ``0..n-1``, subspaces labeled exactly ``0..m-1``, and all centroids
    the same length — the downstream LUT lookup indexes a flattened
    ``m x n_codes`` array by ``s * n_codes + code``, so a ragged or
    non-contiguous caller-supplied codebook would silently read the
    WRONG LUT entry (or NULL) instead of erroring.  One tiny driver
    aggregate over the codebook table (replaces the two unvalidated
    ``first()`` probes this helper already ran)."""
    stats = (
        codebooks.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("code")).alias("nd"),
            F.min("code").alias("mn"),
            F.max("code").alias("mx"),
            F.count_distinct(F.size("centroid")).alias("nl"),
            F.min(F.size("centroid")).alias("len"),
        )
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.min("subspace").alias("smin"),
            F.max("subspace").alias("smax"),
            F.count_distinct("n").alias("shapes"),
            F.sum(
                F.when(
                    (F.col("nd") != F.col("n"))
                    | (F.col("mn") != 0)
                    | (F.col("mx") != F.col("n") - 1),
                    1,
                ).otherwise(0)
            ).alias("bad_codes"),
            (
                F.count_distinct("len")
                + F.max(F.when(F.col("nl") != 1, 1).otherwise(0))
            ).alias("len_shapes"),
            F.min("len").alias("sublen"),
            F.max("n").alias("n_codes"),
        )
        .first()
    )
    if stats["m"] == 0:
        raise ValueError("_pq_collapse: empty codebooks table")
    if stats["smin"] != 0 or stats["smax"] != stats["m"] - 1:
        raise ValueError(
            "_pq_collapse: subspace labels must be exactly 0..m-1, got "
            f"range [{stats['smin']}, {stats['smax']}] over {stats['m']} "
            "subspaces"
        )
    if stats["shapes"] != 1 or stats["bad_codes"]:
        raise ValueError(
            "_pq_collapse: every subspace must have the same code count "
            "with codes labeled exactly 0..n-1 (duplicate, missing, or "
            "non-contiguous codes found) — a ragged codebook would make "
            "the flattened s*n_codes+code LUT lookup read wrong entries"
        )
    if stats["len_shapes"] != 1:
        raise ValueError(
            "_pq_collapse: centroids must all have the same length"
        )
    per_sub = (
        codebooks.groupBy("subspace")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("code"), F.col("centroid")))
            ).alias("cb")
        )
    )
    row = per_sub.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("subspace"), F.col("cb")))
            ),
            lambda e: e["cb"],
        ).alias("_cbs")
    )
    # n_codes rides along so callers need no second driver job over the
    # codebook table (the per-subspace count is validated uniform above)
    return row, int(stats["m"]), int(stats["sublen"]), int(stats["n_codes"])


def _l2sq(a, b):
    """Sequential left-to-right squared-L2 fold — the FIXED summation
    order both engines reproduce bit-exactly (determinism rule 8: a
    fixed per-row expression tree over exact inputs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ encoding: ``(id, codes array<int>)`` — per subspace, the
    nearest codebook centroid by squared L2 over the double-cast
    subvector (classic PQ; ties -> lowest code). The corpus compresses
    from ``4*dim`` bytes to ``m`` small ints per vector — the memory
    form IVF-PQ indexes store.

    Scale shape: the collapsed codebook is ONE broadcast row; encoding
    is a scan-stage argmin per subspace (m x n_codes x sublen
    multiply-adds per row — for wide production dims swap in an
    Arrow/numpy batch like :func:`brute_force_topk_pandas`, same
    results). The corpus never shuffles.
    """
    from ..functions.hof import bind

    row, m, sub, _ = _pq_collapse(codebooks)
    # the double-cast vector is BOUND once per row (round 14): unbound,
    # the per-centroid lambda re-ran the O(dim) float->double cast once
    # per (subspace, code) pair in the interpreted evaluator
    codes = bind(
        F.col(vec_col).cast("array<double>"),
        lambda v: F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: -F.array_max(
                F.transform(
                    F.element_at(F.col("_cbs"), s + 1),
                    lambda cc: F.struct(
                        (
                            -_l2sq(F.slice(v, s * sub + 1, sub), cc["centroid"])
                        ).alias("negd"),
                        (-cc["code"]).alias("negc"),
                    ),
                )
            )["negc"],
        ),
    )
    return (
        ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
        .join(F.broadcast(row))
        .select(F.col(id_col), codes.alias("codes"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_k: int | None = None,
    round_to: int = 6,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: score every corpus CODE
    vector against each query with ``m`` lookup-table adds instead of
    ``dim`` multiply-adds — the compressed-domain scan of IVF-PQ
    systems. Each query precomputes its ``m x n_codes`` distance table
    against the broadcast codebook; a corpus row's approximate distance
    is the sum of its codes' table entries, summed in FIXED subspace
    order so the float result is engine-exact.

    ``rerank_k``: two-stage mode — take the ``rerank_k`` best ADC
    candidates per query, rescore them with EXACT cosine on the
    original vectors, and return the top ``k`` by true similarity
    (``sim`` column). Without it, returns ADC distances (``adist``,
    ascending rank). Deterministic: distances rounded to ``round_to``
    before ranking, ``neighbor_id`` tiebreak, self-pairs excluded.

    ``codes``: a PRE-ENCODED ``(id, codes)`` table from
    :func:`pq_encode` — the production path. PQ codes are an
    INGEST-TIME compression artifact (encode once, persist, scan the
    codes on every query); the per-call encode here is the small-scale
    convenience, and at 500k vectors it dominates the call (measured:
    the encode is ~1B scalar ops while the ADC scan is m adds/pair).

    Scale shape: encode is scan-stage; the ADC scan is corpus x
    broadcast-queries with m lookups per pair (no shuffle of vectors —
    the join payload is the m-int code array); the optional rerank
    joins only ``rerank_k`` candidates per query back to the originals.
    Pair with IVF lists to prune the scan at extreme corpus sizes.
    """
    if rerank_k is not None and rerank_k < k:
        raise ValueError(
            f"pq_topk: rerank_k ({rerank_k!r}) must be >= k ({k!r})"
        )
    row, m, sub, n_codes = _pq_collapse(codebooks)
    if codes is not None:
        enc = codes.select(
            F.col(id_col).alias("neighbor_id"), F.col("codes")
        )
    else:
        enc = pq_encode(corpus, codebooks, vec_col, id_col).withColumnRenamed(
            id_col, "neighbor_id"
        )
    from ..functions.hof import bind

    # query vector bound once (round 14): unbound, the per-centroid
    # lambda re-ran the O(dim) cast per LUT cell
    lut = bind(
        F.col(vec_col).cast("array<double>"),
        lambda qv: F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.element_at(F.col("_cbs"), s + 1),
                    lambda cc: _l2sq(
                        F.slice(qv, s * sub + 1, sub), cc["centroid"]
                    ),
                ),
            )
        ),
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .join(F.broadcast(row))
        .select("query_id", F.col(vec_col).alias("_qv"), lut.alias("_lut"))
    )
    adist = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.col("_lut"),
                s * int(n_codes) + F.element_at(F.col("codes"), s + 1) + 1,
            ),
        ),
        round_to,
    )
    scored = (
        enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", adist)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_k is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "adist"
        )
    cands = ranked.filter(F.col("rank") <= rerank_k).select(
        "query_id", "_qv", "neighbor_id"
    )
    orig = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    rescored = cands.join(orig, "neighbor_id").withColumn(
        "sim", F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), round_to)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivfpq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _collapsed=None,
    _cents=None,
) -> DataFrame:
    """INGEST-TIME IVF-PQ index build: ``(id, list_id, codes)`` — the
    cell assignment plus residual PQ codes :func:`ivfpq_topk` scans.
    Encode once, persist (bucketed by ``list_id`` at scale), and pass
    back via ``encoded=``; the per-call encode inside
    :func:`ivfpq_topk` is the small-scale convenience only (measured:
    encoding dominates a cold call at 500k vectors).

    ``_collapsed`` / ``_cents`` (private): a caller that already ran
    :func:`_pq_collapse` / built the centroid row can pass
    ``(row, m, sub, n_codes)`` and the ``cents_row`` aggregate so the
    validation aggregate doesn't run a second driver job per search
    call."""
    row, m, sub, _ = _collapsed or _pq_collapse(codebooks)
    if _cents is not None:
        cents_row = _cents
    else:
        cents_row = centroids.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("list_id"), F.col("centroid"))
                    )
                ),
                lambda e: e["centroid"],
            ).alias("_cents")
        )
    cv = F.col(vec_col).cast("array<double>")
    from ..functions.hof import bind

    lid = bind(
        cv,
        lambda v: -F.array_max(
            F.transform(
                # list count comes from the broadcast centroid row itself —
                # a separate centroids.count() driver job is pure overhead
                F.sequence(F.lit(0), F.size(F.col("_cents")) - 1),
                lambda i: F.struct(
                    (-_l2sq(v, F.element_at(F.col("_cents"), i + 1))).alias(
                        "negd"
                    ),
                    (-i).alias("negi"),
                ),
            )
        )["negi"],
    )
    assigned = (
        ensure_parallelism(
            corpus.select(F.col(id_col), F.col(vec_col))
        )
        .join(F.broadcast(cents_row))
        .withColumn("list_id", lid)
        .withColumn(
            "_res",
            F.zip_with(
                cv,
                F.element_at(F.col("_cents"), F.col("list_id") + 1),
                lambda a, b: a - b,
            ),
        )
    )
    # bind the residual: CollapseProject can inline the _res zip_with
    # into this expression, where an unbound reference would re-run it
    # once per (subspace, code) pair — bind makes that collapse harmless
    codes = bind(
        F.col("_res"),
        lambda res: F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: -F.array_max(
                F.transform(
                    F.element_at(F.col("_cbs"), s + 1),
                    lambda cc: F.struct(
                        (
                            -_l2sq(
                                F.slice(res, s * sub + 1, sub),
                                cc["centroid"],
                            )
                        ).alias("negd"),
                        (-cc["code"]).alias("negc"),
                    ),
                )
            )["negc"],
        ),
    )
    return assigned.join(F.broadcast(row)).select(
        F.col(id_col), F.col("list_id"), codes.alias("codes")
    )


def ivfpq_balance_cells(
    encoded: DataFrame,
    max_cell_size: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hot-cell SPLIT for an :func:`ivfpq_encode` index (round-10
    verdict: IVF cell populations are data-dependent, and at cluster
    scale — where the candidate join shuffles on ``list_id`` instead of
    broadcasting — one hot cell is one hot key, i.e. one straggler
    task).  Adds a ``sub_id`` column salting every cell whose
    population exceeds ``max_cell_size`` into
    ``ceil(pop / max_cell_size)`` hash sub-cells; cells under the cap
    keep a single sub-cell.  :func:`ivfpq_topk` detects the column and
    probes ALL of a split cell's sub-cells, so the candidate set — and
    therefore every result row — is IDENTICAL to the unbalanced index;
    only the join-key granularity changes.  Like the PQ codes
    themselves this is an INGEST-TIME artifact: persist the balanced
    table (bucketed by ``(list_id, sub_id)`` at scale) and pass it back
    via ``encoded=``.

    Mirrors the hot-key caps the fingerprint/blocking joins use, but
    lossless: splitting bounds per-key volume without dropping
    candidates.  Population counting is one map-side-combinable agg on
    the (narrow) codes table.
    """
    if max_cell_size < 1:
        raise ValueError(
            f"ivfpq_balance_cells: max_cell_size must be >= 1, got "
            f"{max_cell_size!r}"
        )
    subs = (
        encoded.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("_pop"))
        .select(
            "list_id",
            F.ceil(F.col("_pop") / F.lit(int(max_cell_size)))
            .cast("int")
            .alias("_n_sub"),
        )
    )
    return (
        encoded.join(F.broadcast(subs), "list_id")
        .withColumn(
            "sub_id",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_n_sub")).cast("int"),
        )
        .drop("_n_sub")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_k: int | None = None,
    round_to: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ — the production ANN architecture (FAISS-style): a coarse
    quantizer prunes the scan to ``n_probe`` cells per query, and
    within cells vectors are PQ-compressed RESIDUALS (``x -
    centroid``), scored by asymmetric distance. The two tricks compose:
    IVF bounds how much of the corpus each query touches, residual PQ
    keeps the quantization error small (residuals are centered near 0,
    so one shared codebook covers every cell).

    Both quantizers are caller-supplied fit-once tables
    (:func:`fit_ivf_centroids` shape ``(list_id, centroid)``;
    :func:`fit_pq_codebooks` shape ``(subspace, code, centroid)`` —
    fit the codebooks on residuals for fidelity). All assignment and
    scoring is squared-L2 in fixed summation order (engine-exact, and
    rank-equivalent to cosine on unit-normalized inputs); ties break on
    the lowest list/code/neighbor id.

    ``rerank_k``: rescore the best ADC candidates with exact cosine on
    the original vectors (same contract as :func:`pq_topk`).

    Scale shape: corpus assignment + residual encoding are scan-stage
    against two broadcast tables; the candidate join is equi on
    ``list_id`` (the IVF pruning — n_probe/n_lists of the corpus per
    query); ADC is m lookup-adds per candidate; only ``rerank_k`` rows
    per query ever touch original vectors again.  IVF cell populations
    are data-dependent — when the candidate join shuffles on
    ``list_id`` (large query batches, cluster scale), a hot cell is a
    straggler key; pass an ``encoded=`` table salted by
    :func:`ivfpq_balance_cells` and the join key becomes
    ``(list_id, sub_id)`` with bounded per-key volume, candidate set
    (and results) unchanged.
    """
    if rerank_k is not None and rerank_k < k:
        raise ValueError(
            f"ivfpq_topk: rerank_k ({rerank_k!r}) must be >= k ({k!r})"
        )
    collapsed = _pq_collapse(codebooks)
    row, m, sub, n_codes = collapsed
    cents_row = centroids.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("list_id"), F.col("centroid")))
            ),
            lambda e: e["centroid"],
        ).alias("_cents")
    )
    balanced = encoded is not None and "sub_id" in encoded.columns
    if encoded is not None:
        enc = encoded.select(
            F.col(id_col).alias("neighbor_id"), F.col("list_id"),
            F.col("codes"),
            *([F.col("sub_id")] if balanced else []),
        )
    else:
        # share the collapsed codebook + centroid row with the internal
        # encode — without this the validation aggregate and centroid
        # count each ran a SECOND driver job per search call
        enc = ivfpq_encode(
            corpus, centroids, codebooks, id_col, vec_col,
            _collapsed=collapsed, _cents=cents_row,
        ).select(
            F.col(id_col).alias("neighbor_id"), F.col("list_id"),
            F.col("codes"),
        )

    from ..functions.hof import bind

    qv = F.col(vec_col).cast("array<double>")
    q0 = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .join(F.broadcast(cents_row))
    )
    # probe the n_probe nearest cells by squared L2
    probes = q0.select(
        "query_id",
        F.col(vec_col),
        F.explode(
            bind(
                qv,
                lambda v: F.transform(
                    # list count from the broadcast row, not a count() job
                    F.sequence(F.lit(0), F.size(F.col("_cents")) - 1),
                    lambda i: F.struct(
                        i.cast("int").alias("list_id"),
                        _l2sq(v, F.element_at(F.col("_cents"), i + 1)).alias(
                            "cd"
                        ),
                    ),
                ),
            )
        ).alias("p"),
    ).select("query_id", F.col(vec_col), F.col("p.list_id"), F.col("p.cd"))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cd").asc(), F.col("list_id").asc()
    )
    probed = (
        probes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .join(F.broadcast(cents_row))
        .join(F.broadcast(row))
        .select(
            "query_id",
            F.col(vec_col).alias("_qorig"),
            "list_id",
            # per probed cell: residual query + its m x n_codes LUT
            # residual BOUND once per (query, probed cell): unbound, the
            # per-code lambda re-ran the O(dim) zip_with per LUT cell
            bind(
                F.zip_with(
                    qv,
                    F.element_at(F.col("_cents"), F.col("list_id") + 1),
                    lambda a, b: a - b,
                ),
                lambda res: F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        lambda s: F.transform(
                            F.element_at(F.col("_cbs"), s + 1),
                            lambda cc: _l2sq(
                                F.slice(res, s * sub + 1, sub),
                                cc["centroid"],
                            ),
                        ),
                    )
                ),
            ).alias("_lut"),
        )
    )
    adist = F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.col("_lut"),
                s * int(n_codes) + F.element_at(F.col("codes"), s + 1) + 1,
            ),
        ),
        round_to,
    )
    join_keys = ["list_id"]
    if balanced:
        # a balanced index (ivfpq_balance_cells): probe EVERY sub-cell
        # of each probed cell so the candidate set is identical to the
        # unbalanced index; the join key gains the salt, bounding
        # per-key volume at cluster scale (shuffle-join regime).  The
        # sub-cell fan-out table is one map-side-combinable agg on the
        # narrow codes table.
        subs = enc.groupBy("list_id").agg(
            (F.max("sub_id") + 1).alias("_n_sub")
        )
        probed = (
            probed.join(F.broadcast(subs), "list_id")
            .withColumn(
                "sub_id",
                F.explode(F.sequence(F.lit(0), F.col("_n_sub") - 1)),
            )
            .drop("_n_sub")
        )
        join_keys = ["list_id", "sub_id"]
    scored = (
        enc.join(F.broadcast(probed), join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", adist)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_k is None:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "adist"
        )
    cands = ranked.filter(F.col("rank") <= rerank_k).select(
        "query_id", F.col("_qorig"), "neighbor_id"
    )
    orig = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    rescored = cands.join(orig, "neighbor_id").withColumn(
        "sim",
        F.round(cosine_similarity(F.col("_qorig"), F.col("_cv")), round_to),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Recall@k of an ANN result list against the exact top-k — the
    metric every index-tuning loop optimizes (FAISS/ScaNN report it;
    Jégou et al., TPAMI 2011 report IVF/PQ operating points as
    recall@k vs speed).  Both inputs are ``(query_col, neighbor_col,
    ...)`` top-k tables, e.g. :func:`brute_force_topk` output as the
    truth and :func:`ivf_topk` / :func:`pq_adc_topk` output as the
    candidate.

    Returns one row per query: ``(query_col, n_exact, n_hits,
    recall_ppm, first_hit_rank, mrr_ppm)`` with ``recall_ppm = n_hits *
    scale div n_exact`` — exact integer arithmetic, so the eval itself
    is differentially checkable (queries absent from ``approx`` score 0,
    never drop).  When ``approx`` carries a ``rank_col`` column (the
    in-repo top-k operators all emit ``rank``), ``first_hit_rank`` is
    the best approx rank holding a TRUE neighbor and ``mrr_ppm = scale
    div first_hit_rank`` its scaled reciprocal (the MRR numerator —
    average over queries downstream); both NULL when the query has no
    hits, and omitted entirely when ``approx`` has no rank column.

    Scale shape: top-k tables are |queries| x k rows — the join is equi
    on (query, neighbor) and the aggregates are query-keyed; nothing
    touches the corpus.  At eval sizes (1e4-1e6 queries) this is a
    broadcast-or-small-shuffle job regardless of corpus scale.
    """
    rank_col = "rank" if "rank" in approx.columns else None
    if rank_col:
        dtype = dict(approx.dtypes)[rank_col]
        if dtype not in ("tinyint", "smallint", "int", "bigint"):
            # a string rank would min() LEXICALLY ("10" < "2") and emit a
            # silently-wrong MRR — the rrf integer-guard lesson
            raise TypeError(
                f"topk_recall: approx column 'rank' must be integer, got "
                f"{dtype}"
            )
    e = exact.select(query_col, neighbor_col)
    a = approx.select(
        query_col, neighbor_col,
        *([F.col(rank_col).alias("_apx_rank")] if rank_col else []),
    )
    n_exact = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    hit_aggs = [F.count(F.lit(1)).alias("n_hits")]
    if rank_col:
        hit_aggs.append(F.min("_apx_rank").alias("first_hit_rank"))
    hits = (
        e.join(a, [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(*hit_aggs)
    )
    out_cols = [
        F.col(query_col),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr(
            f"cast(coalesce(n_hits, 0) * {int(scale)} div n_exact"
            f" as bigint)"
        ).alias("recall_ppm"),
    ]
    if rank_col:
        out_cols += [
            F.col("first_hit_rank").cast("bigint").alias("first_hit_rank"),
            F.expr(f"cast({int(scale)} div first_hit_rank as bigint)").alias(
                "mrr_ppm"
            ),
        ]
    return n_exact.join(hits, query_col, "left").select(*out_cols)
