"""Iterative graph operators — connected components for transitive
duplicate groups.

Pairwise near-dup detection (minhash/simhash, dedup.py) emits EDGES; a
duplicate GROUP is the transitive closure of those edges (a ~ b ~ c means
all three are one document). The reference's dedup (transform.py:62) is
single-key and needs no closure; corpus-scale near-dup pruning does —
keeping one representative per component is the standard final stage
(e.g. the dedup pass described in PAPERS.md's similarity-join family).

Algorithm: min-label propagation. Every vertex starts labeled with its
own id; each round every vertex takes the min label over itself and its
neighbors; converged when no label changes. Rounds needed = graph
diameter, which for near-dup clusters is tiny (dup groups are dense).

Scale shape: each round is one shuffle (groupBy vertex id) on the edge
list — no driver-side adjacency, no vertex ever sees more than its
neighbors' labels. ``localCheckpoint`` per round truncates the lineage so
the plan stays O(1) deep instead of O(rounds). The convergence check is
an aggregate action per round (a count, not a collect of data rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    algorithm: str = "auto",
    auto_label_rounds: int = 3,
    _stats: dict | None = None,
) -> DataFrame:
    """Label every vertex of the undirected graph ``edges`` with the
    minimum vertex id reachable from it. Returns ``(id, comp)`` — one row
    per distinct vertex; ``comp`` is the component representative.

    ``algorithm``:

    - ``"auto"`` (default): plain one-hop label rounds first; if the
      graph still hasn't converged after ``auto_label_rounds`` rounds,
      escalate to pointer doubling for the remaining rounds.  Near-dup
      clusters are almost always diameter <= 2 (they converge inside the
      label phase and never pay doubling's second exchange — the round-4
      verdict's regression); a pathological chain pays the few cheap
      probe rounds and then converges in O(log d) doubled rounds.
    - ``"doubling"``: min-label propagation PLUS pointer doubling from
      round 1 — after the one-hop min, every label is shortcut to its
      label's label (``comp <- comp(comp)``, the path-halving step of
      MapReduce connected-components algorithms à la large-star/small-star,
      Kiveris et al. SoCC'14). Distance-to-representative roughly halves
      per round, so convergence takes O(log d) rounds instead of O(d) —
      on a 1024-vertex chain that is ~11 rounds, not 1024 (each round is
      a full shuffle + a driver job for the convergence probe, so at
      cluster scale round count IS the cost). Two shuffles per round
      (neighbor min + shortcut join) vs one — the extra exchange pays for
      itself the moment diameter exceeds ~2.
    - ``"label"``: plain one-hop min-label propagation (one shuffle per
      round, O(diameter) rounds) — cheapest per round, but O(d) rounds
      can stall a deep graph; prefer ``"auto"`` unless the graph is
      known-shallow.

    ``max_iter`` bounds rounds; with doubling in play the default 50
    covers graphs of diameter ~2**45.  ``_stats`` (tests/diagnostics):
    when a dict is passed, ``_stats["rounds"]`` records rounds executed
    and ``_stats["doubling_from_round"]`` the round doubling kicked in
    (None if it never did).
    """
    if algorithm not in ("auto", "doubling", "label"):
        # a typo must not silently fall back to one-hop propagation, which
        # can exhaust max_iter on a deep graph and return SPLIT components
        raise ValueError(
            f"connected_components: unknown algorithm {algorithm!r} "
            "(expected 'auto', 'doubling' or 'label')"
        )
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # LAZY: round 1's probe aggregate scans everything and materializes
    # both cuts; later rounds read the stored blocks
    und = und.localCheckpoint(eager=False)

    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=False)
    )
    rounds = 0
    doubling_from = None
    converged = False
    for _ in range(max_iter):
        if algorithm == "doubling":
            double_now = True
        elif algorithm == "label":
            double_now = False
        else:  # auto: escalate once the cheap probe rounds are spent
            double_now = rounds >= auto_label_rounds
        if double_now and doubling_from is None:
            doubling_from = rounds + 1
        # the previous round's comp rides the aggregation as `_old`
        # (labels contributes exactly one row per id — min() reads it
        # exactly), so the convergence probe needs no join and, below,
        # no separate job: ONE action per round materializes the round
        # AND returns the changed count (was: an eager localCheckpoint
        # job PLUS a join+count probe job — pure per-round overhead).
        msgs = und.join(labels, und.a == labels.id).select(
            F.col("b").alias("id"), F.col("comp"),
            F.lit(None).cast("long").alias("_old"),
        )
        new = (
            labels.select("id", "comp", F.col("comp").alias("_old"))
            .union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("_old").alias("_old"))
        )
        if double_now:
            # shortcut: comp <- min(comp, comp(comp)) over the post-hop
            # labels; labels always point at same-component vertices, so
            # the shortcut preserves the invariant while halving pointer
            # depth. Left join: every comp IS a vertex id, but stay
            # NULL-safe under AQE re-planning.
            lookup = new.select(
                F.col("id").alias("_c"), F.col("comp").alias("_cc")
            )
            new = (
                new.join(lookup, new.comp == F.col("_c"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))
                    ).alias("comp"),
                    "_old",
                )
            )
        # LAZY checkpoint: the probe aggregate below is the round's ONE
        # job — it materializes the checkpoint blocks as it scans (so
        # lineage stays truncated per round, the doubling branch's
        # double self-reference cannot snowball) and returns the probe
        new = new.localCheckpoint(eager=False)
        changed = new.agg(
            F.sum((F.col("comp") != F.col("_old")).cast("int"))
        ).first()[0]
        rounds += 1
        labels = new.select("id", "comp")
        if not changed:
            converged = True
            break
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["doubling_from_round"] = doubling_from
        # False means max_iter rounds ran and labels were STILL changing
        # — the returned labeling may split components (round-10 ADVICE:
        # callers deriving sizes/weights from it should check this)
        _stats["converged"] = converged
    return labels


def component_sizes(labels: DataFrame) -> DataFrame:
    """``(comp, size)`` per component — the dup-group size histogram
    input; one shuffle on the component id."""
    return labels.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edges: distinct part pairs appearing in the
    same order. ``(a, b)`` with a < b, one row per distinct pair.

    Scale shape: the pair explosion is a self-join WITHIN each order
    (equi-join on l_orderkey) — orders have bounded line counts, so the
    blowup per key is O(lines^2) with small lines, never a corpus cross
    join. One shuffle on orderkey, one distinct on the pair.

    No (ok, pk) pre-distinct: the final pair distinct already dedups
    (same edge set — proven exceptAll-identical), duplicate (order,
    part) rows are rare (65 in 600k at sf0.1, bounded by per-order line
    counts at any scale), and the pre-distinct paid a full extra
    exchange+aggregate of the projected lineitem for it.
    """
    parts = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a = parts.alias("x")
    b = parts.select(F.col("ok"), F.col("pk").alias("pk2")).alias("y")
    return (
        a.join(b, ["ok"])
        .filter(F.col("pk") < F.col("pk2"))
        .select(F.col("pk").alias("a"), F.col("pk2").alias("b"))
        .distinct()
    )


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """PageRank with a FIXED iteration count in scaled-integer arithmetic
    — bit-reproducible across engines and partitionings (every step is
    integer floor division and integer sums; no float accumulation
    order).

        pr_0(v)    = floor(scale / N)
        pr_t+1(v)  = floor((den-num)*scale / (den*N))
                     + sum_{u->v} floor(num * pr_t(u) / (den * deg(u)))

    over the undirected graph (both directions of each edge). Returns
    ``(id, pr_scaled)`` for every vertex.

    Scale shape: each iteration is ONE shuffle — messages are the edge
    list joined to current labels (broadcast-sized per-vertex state
    columns only: id + a long), aggregated by destination.
    ``localCheckpoint`` caps lineage depth at O(1) per round instead of
    O(iters). Vertex count enters as a single-row aggregate
    crossJoin-broadcast, not a driver-side collect.
    """
    e = edges.select(F.col("a"), F.col("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = und.localCheckpoint(eager=True)

    verts = und.select(F.col("a").alias("id")).distinct()
    n_df = verts.agg(F.count(F.lit(1)).alias("n_verts"))
    deg = und.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))

    pr = (
        verts.crossJoin(F.broadcast(n_df))
        .select("id", F.expr(f"cast({scale} div n_verts as bigint)").alias("pr"))
    )
    # integer base term: floor((den-num)*scale / (den*N)) — `div`, never
    # double `/`+cast (double rounding can overshoot the floor by 1)
    base = F.expr(
        f"cast({(damp_den - damp_num) * scale} div ({damp_den} * n_verts) as bigint)"
    )

    # each round references `pr` exactly ONCE, so the lineage nests
    # LINEARLY with rounds (no self-reference blowup — contrast the CC
    # doubling branch) and a handful of rounds can run inside the
    # consumer's single execution with full AQE stage reuse of the
    # und/verts/deg subtrees; an eager checkpoint every round paid one
    # scheduled job per round of pure overhead.  A checkpoint every 4th
    # round keeps lineage depth bounded for large `iters`.
    for it in range(iters):
        contrib = (
            und.join(pr.withColumnRenamed("id", "a"), "a")
            .join(deg.withColumnRenamed("id", "a"), "a")
            .select(
                F.col("b").alias("id"),
                F.expr(f"cast({damp_num} * pr div ({damp_den} * deg) as bigint)").alias("m"),
            )
        )
        pr = (
            verts.join(contrib.groupBy("id").agg(F.sum("m").alias("s")), "id", "left")
            .crossJoin(F.broadcast(n_df))
            .select("id", (base + F.coalesce(F.col("s"), F.lit(0))).alias("pr"))
        )
        if (it + 1) % 4 == 0 and it + 1 < iters:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("id", F.col("pr").alias("pr_scaled"))


def triangle_participation(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts: ``(id, n_tri)`` for every vertex that
    participates in at least one triangle of the undirected graph.

    Algorithm: DEGREE-ORDERED edge-adjacency intersection. Edges are
    oriented toward their higher-(degree, id) endpoint (Suri &
    Vassilvitskii WWW'11 — caps out-degree at O(sqrt m), so hub skew
    can't explode any step), then for each oriented edge (u,v) the
    triangles through it are exactly ``out(u) INTERSECT out(v)`` — an
    in-row ``array_intersect`` of the two endpoints' neighbor lists.
    Each triangle {u,v,w} is found once, at its base edge (its two
    lowest-order vertices).

    Why this shape: the only exploded stream is the TRIANGLE list
    itself (1.9M rows at sf0.1), never the wedge list (36M rows there).
    Two further cuts relative to the naive edge-adjacency form: (1) the
    oriented edge list is re-derived by exploding the adjacency table
    in-row, so ``out(u)`` rides along for free and only ONE broadcast
    join (for ``out(v)``) remains; (2) the src/dst contributions use
    ``size(intersect)`` instead of exploding the triangle list three
    times, so the final aggregation shuffles |E'| + |E'| + T rows
    instead of 3T (T = triangles, E' = edges in >=1 triangle).
    Measured at sf0.1 / local[32] (post-regen denser graph: 20k
    vertices, 1.2M edges, avg deg 120, 1.88M triangles): 5.0 s steady
    vs 6.8 s for the two-join/triple-explode form and 14-22 s for
    wedge-join formulations — on par with a vectorized single-node
    engine on the same graph. The adjacency table is |V| rows (arrays
    of out-neighbors) and is broadcast onto the edge list; at 100 TB
    drop the broadcast hint and the adjacency join falls back to a
    shuffled equi-join on vertex id. Output is enumeration-invariant:
    per-vertex counts are unchanged by the orientation.
    """
    # the canonical edge list is consumed 5x downstream (degree union x2,
    # orientation join x2, and through adj) — without a cut the whole
    # lineitem -> within-order pair join -> distinct subtree re-executes
    # each time (41 exchanges in the un-cut plan).  |E| rows of two
    # longs: graph-sized, not data-sized, safe to materialize at any
    # scale (it IS the graph).  Interleaved A/B at sf0.1: 4.17 -> 3.33 s
    # together with the adj cut below.
    e = edges.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct().localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = e.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a").join(
        deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b"
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # adj is consumed twice (the explode side and the broadcast side);
    # |V| rows of out-neighbor arrays, out-degree capped at O(sqrt m)
    # by the orientation — index-sized, cut it rather than re-running
    # the orientation + collect_list aggregation
    adj = oriented.groupBy("src").agg(
        F.collect_list("dst").alias("ns")
    ).localCheckpoint(eager=False)
    # re-derive (src, dst) by exploding adj so out(u) needs no join
    eadj = adj.select(
        "src", F.col("ns").alias("nu"), F.explode("ns").alias("dst")
    ).join(
        F.broadcast(adj.select(F.col("src").alias("_v"), F.col("ns").alias("nv"))),
        F.col("dst") == F.col("_v"),
    )
    tri = eadj.select(
        "src", "dst", F.array_intersect("nu", "nv").alias("ws")
    ).where(F.size("ws") > 0)
    # ONE consumption of the triangle stream: the src/dst/witness
    # contributions explode from an in-row struct array.  The previous
    # 3-way unionAll re-executed the whole explode + broadcast join +
    # intersect pipeline per branch (exchange reuse only dedupes the
    # adjacency shuffle, not the post-exchange compute) — the dominant
    # CPU paid three times.  Row volume is unchanged (2E' + T).
    entries = F.concat(
        F.array(
            F.struct(F.col("src").alias("id"), F.size("ws").alias("c")),
            F.struct(F.col("dst").alias("id"), F.size("ws").alias("c")),
        ),
        F.transform(
            "ws", lambda w: F.struct(w.alias("id"), F.lit(1).alias("c"))
        ),
    )
    contrib = tri.select(F.explode(entries).alias("e")).select("e.id", "e.c")
    return contrib.groupBy("id").agg(F.sum("c").cast("long").alias("n_tri"))


def nhop_min_distance(
    edges: DataFrame, seeds: DataFrame, hops: int = 3
) -> DataFrame:
    """BFS minimum distance from a seed set, capped at ``hops``:
    ``(id, dist)`` for every vertex reachable within the cap.

    Implemented as frontier expansion with a final min-merge — exactly
    the semantics of a recursive UNION CTE (enumerate all (vertex,
    path-length<=hops) pairs, take the min per vertex), which is what
    the DuckDB oracle runs. Each hop is one equi-join shuffle on the
    frontier (distinct-pruned so revisits don't amplify), lineage capped
    by localCheckpoint.
    """
    e = edges.select(F.col("a"), F.col("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = und.localCheckpoint(eager=True)

    frontier = seeds.select(F.col("id")).distinct().withColumn("d", F.lit(0))
    levels = [frontier]
    for k in range(1, hops + 1):
        # LAZY checkpoints: each frontier is referenced twice (next hop
        # + the final union) and the chain materializes inside the ONE
        # final action — same dedup guarantee as the former eager form
        # without a scheduled job per hop
        frontier = (
            und.join(frontier.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"))
            .distinct()
            .withColumn("d", F.lit(k))
            .localCheckpoint(eager=False)
        )
        levels.append(frontier)
    all_levels = levels[0]
    for lv in levels[1:]:
        all_levels = all_levels.unionAll(lv)
    return all_levels.groupBy("id").agg(F.min("d").alias("dist"))


def kcore(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    _stats: dict | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983, "Network
    structure and minimum degree"): repeatedly drop nodes whose degree in
    the SURVIVING subgraph is < ``k`` until a fixed point — the classic
    graph-quality filter (spam-farm pruning, dense-community extraction)
    the components/PageRank/triangles family was missing.

    ``edges`` is undirected ``(a, b)``; returns ``(id, core_deg)`` for
    every node of the k-core, ``core_deg`` its degree within the core —
    exact integers, deterministic (set arithmetic only), so the whole
    fixed point is oracle-checkable as unrolled rounds.

    Scale shape: each round is one degree aggregation + two semi-join
    restrictions on the shrinking edge set — O(rounds) shuffles, edges
    only ever shrink, node ids and counts shuffle but no payload.  The
    edge set is re-materialized per round (``localCheckpoint``) exactly
    like :func:`connected_components`' pointer tables: without the cut,
    round r's plan nests r copies of the full history.  ``max_iter``
    bounds the driver loop; ``_stats['converged']`` records whether the
    fixed point was reached (an unconverged result is a SUPERSET of the
    k-core) and ``_stats['rounds']`` the rounds executed.
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    und = (
        edges.select("a", "b")
        .unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        # LAZY: round 1's stats aggregate scans everything — it is the
        # materializing action
        .localCheckpoint(eager=False)
    )
    cur = und
    rounds = 0
    converged = False
    while rounds < max_iter:
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        # ONE scheduled job per round: the stats aggregate below is the
        # round's only action — `cur` was checkpointed LAZILY by the
        # previous round, so this aggregate materializes the surviving
        # edge set as it scans (the CC-loop trick), and the separate
        # eager-checkpoint job per round is gone.  Totals and survivors
        # come from the same aggregate (two separate counts doubled the
        # per-round latency — the loop is driver-action-bound on small
        # graphs).
        row = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("deg") >= k).cast("int")).alias("nk"),
        ).collect()[0]
        n_nodes, n_keep = row["n"], row["nk"] or 0
        if n_keep == n_nodes or n_keep == 0:
            converged = True
            break
        cur = (
            cur.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        rounds += 1
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["converged"] = converged
    out = cur.groupBy("a").agg(F.count(F.lit(1)).alias("core_deg"))
    return out.filter(F.col("core_deg") >= k).select(
        F.col("a").alias("id"), F.col("core_deg")
    )


def label_propagation_fixed(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation with a FIXED
    iteration count (Raghavan et al. 2007, arXiv:0709.2938), fully
    deterministic: every vertex starts labeled with its own id; each
    round it adopts the label with the most votes among its neighbors
    PLUS one self-vote (the damping that prevents the classic two-class
    oscillation of pure synchronous LPA), ties broken toward the
    SMALLEST label. No randomness, no float — bit-reproducible across
    engines and partitionings, so the whole trajectory is oracle-able
    by unrolling rounds.

    Returns ``(id, community, community_size)`` after ``iters`` rounds
    (community = the surviving label, a vertex id).

    Scale shape: a round is two bounded exchanges and NO sort — edge
    messages come from the edge list joined to the vertex-sized label
    table (broadcast here; at cluster scale drop the hint and it falls
    back to a shuffled equi-join), vote counts partial-aggregate
    map-side on (vertex, label), and the per-vertex argmax is a plain
    ``min(struct(-cnt, lab))`` aggregate — struct ordering encodes
    "largest count, then smallest label" for ANY orderable label type,
    replacing a rank window (which would re-sort every group) with a
    partial-aggregable min. Lineage is cut per round with
    ``localCheckpoint`` (same discipline as :func:`pagerank_fixed`).
    A/B at sf0.1 (copurchase graph, 2.4M directed edges, warm): 10.3 s
    -> 6.8 s for edge build + 3 rounds, value-identical; the remaining
    round cost is the 2.4M-row message shuffle itself — the same
    per-round floor pagerank_fixed pays on this graph (6.6 s).
    """
    e = edges.select("a", "b")
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # LAZY: iteration 1's eager label checkpoint materializes it
    und = und.localCheckpoint(eager=False)

    labels = und.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("lab")
    )
    for _ in range(iters):
        msgs = (
            und.join(F.broadcast(labels.withColumnRenamed("id", "a")), "a")
            .select(F.col("b").alias("id"), "lab")
            .unionByName(labels)  # the self-vote
        )
        cnt = msgs.groupBy("id", "lab").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            cnt.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lab")
                    )
                ).alias("m")
            )
            .select("id", F.col("m.lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("lab").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "lab").select(
        "id", F.col("lab").alias("community"), "community_size"
    )


def word_cooccurrence_edges(
    df: DataFrame, text_col: str = "text", window: int = 2
) -> DataFrame:
    """Undirected word co-occurrence edges for TextRank (Mihalcea &
    Tarau, EMNLP 2004 §3.1: words vote for words that appear within a
    small window). ``(a, b)`` with ``a < b``, one row per distinct pair
    across the corpus; tokenization is the corpus-wide standard
    (lowercase, collapsed whitespace, space split — the
    dedup.word_shingles contract).

    Scale shape: all pair generation is IN-ROW — for each distance
    ``d <= window`` one ``zip_with`` of the token array against its
    shifted slice (the DSIR single-pass gram idiom) — so the only
    exchange is the final distinct on the vocabulary-pair table; the
    corpus text itself never shuffles.
    """
    from ..functions.hof import bind

    t = F.col(text_col)
    ws = F.split(
        F.lower(F.trim(F.regexp_replace(t, r"\s+", " "))), " "
    )

    # word array bound once per row (round 14): the unbound form
    # referenced ws 3x per window offset (size + two slices) and the
    # interpreted evaluator re-ran the normalize/split chain per
    # reference — see functions.hof.bind
    def _pairs(w):
        pair_arrays = []
        for d in range(1, window + 1):
            ln = F.greatest(F.size(w) - d, F.lit(0))
            pair_arrays.append(
                F.zip_with(
                    F.slice(w, 1, ln),
                    F.slice(w, 1 + d, ln),
                    lambda x, y: F.struct(
                        F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                    ),
                )
            )
        return F.concat(*pair_arrays)

    pairs = df.select(F.explode(bind(ws, _pairs)).alias("p")).select(
        "p.a", "p.b"
    )
    return pairs.filter(F.col("a") != F.col("b")).distinct()
