"""Iterative graph analytics: PageRank over DataFrame edge lists.

Connected components (``dedup.connected_components``) covers the
clustering face of graph work; PageRank covers the CENTRALITY face — a
standard corpus-curation signal (rank web documents by link authority,
suppliers/parts by structural importance) and the canonical
fixed-iteration join+aggregate loop.

Scale design (same contract as the components loop):

- one iteration = one join of the edge list with the current rank
  vector (shuffles on node id only — the edge list's payload never
  moves), one partial-aggregated groupBy on the destination, and a
  constant-folded damping expression;
- the per-round rank/label vector is pinned with a LAZY
  ``localCheckpoint`` (round 14): lineage must truncate every round —
  an un-pinned round-i broadcast subtree re-executes rounds 0..i-1
  (Θ(rounds²) recompute: measured +25-120% on a 10x-scale graph even
  though it looked FASTER on the overhead-bound sf0.1 bench) — but the
  materialization can ride inside the NEXT round's broadcast build
  instead of paying a separate eager job + Θ(nodes) write per round
  (10x-scale best-of-3: LPA eager 8.88s / fused-no-pin 9.33s / lazy
  7.23s; PPR 3.36 / 3.18 / 2.58). The LAST round pins eagerly
  (``_run_rounds``), so the loop runs inside the operator while its
  persisted edge/degree/node frames serve it, and they are released on
  return. BFS keeps its EAGER per-round pins —
  its visited/frontier frames feed the next round twice and its
  left_anti join consumes the frontier before any broadcast would
  materialize it;
- one skeleton: PageRank is personalized PageRank with every node
  seeded (one kernel, ``_ranks``); the rank and label loops share
  ``_run_rounds``; all four iterative loops share one edge-pin prologue
  (``_pin_edges``) and one broadcast cutover (``BROADCAST_NODES_MAX``),
  and LPA/BFS one symmetric closure (``_symmetric_edges``);
- iteration count is FIXED (power iteration converges geometrically;
  curation uses a handful of iterations), so wall-clock is
  iterations × one-shuffle, independent of graph diameter.

Determinism contract (what makes an ITERATIVE float algorithm
hash-twinnable in DuckDB): per-edge contributions are rounded to 12dp
and summed as DECIMAL(28,12) — order-independent — then the damped
update is plain double arithmetic rounded to 10dp per iteration, so
both engines walk bit-identical rank vectors. Both roundings use the
floor form ``floor(x·10ⁿ+0.5)/10ⁿ`` (ranks are non-negative): rank
quotients land within ulps of decimal midpoints on real fixtures
(round-7 midpoint audit), where plain ROUND is engine-defined. Every node must have at
least one out-edge (symmetric/bipartite edge lists guarantee it;
dangling-mass redistribution is deliberately out of scope and
documented rather than silently approximated).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pyspark.sql import DataFrame

# Broadcast-regime cutover (node count) for the rank, label and BFS
# loops. Under it the Θ(nodes) rank/label/frontier vectors broadcast and
# the edge list pins on the loop's OUTPUT key, so no edge row re-shuffles
# across rounds; past it the edge list pins on the INPUT key and each
# round pays the one inherent Θ(edges) node-keyed shuffle.
BROADCAST_NODES_MAX = 2_000_000


def _pin_round(df: DataFrame) -> DataFrame:
    """Per-round lineage pin for the rank/label loops: a LAZY local
    checkpoint. Truncation is mandatory (an un-pinned round-i broadcast
    subtree re-executes every earlier round — Θ(rounds²)); laziness
    folds the materialization into the next round's broadcast build, so
    no per-round driver job is launched (module docstring has the
    measured three-way comparison; ``_run_rounds`` pins only its last
    round eagerly). The pinned blocks live on
    executor-local storage — the standard localCheckpoint contract:
    executor loss mid-query fails the job instead of recomputing."""
    return df.localCheckpoint(eager=False)


def _run_rounds(state: DataFrame, rounds: int, step) -> DataFrame:
    """The fixed-round loop skeleton of the rank and label loops:
    ``state = step(state)`` ``rounds`` times, each round pinned by
    :func:`_pin_round` except the LAST, which checkpoints EAGERLY. The
    whole loop thus runs here, while the caller's persisted edge /
    degree / node frames are alive and serve it, and the caller may
    release them on return: the result reads only the final
    checkpoint, never the released caches."""
    for r in range(1, rounds + 1):
        state = step(state)
        state = state.localCheckpoint(eager=True) if r == rounds else _pin_round(state)
    return state


def _pin_edges(raw: DataFrame, out_key: str, in_key: str, node_frame):
    """The edge-pin prologue of the rank, label and BFS loops.

    Persists ``raw`` hash-partitioned on ``out_key`` — the
    broadcast-regime layout, chosen OPTIMISTICALLY so the raw edge
    construction is scanned exactly once — then counts
    ``node_frame(edges)`` to pick the regime. Past
    :data:`BROADCAST_NODES_MAX` nodes the cached edges are re-laid-out
    on ``in_key`` (from the cache, not the source).

    The partition COUNT is explicit: a count-less ``repartition(key)``
    is a REPARTITION_BY_COL hint that AQE byte-coalesces to 1-2 tasks
    on MB-scale inputs, serializing every per-round join (measured on
    the sf0.1 co-order graph: rounds ~3s → ~1s each once pinned); a
    user-specified count survives AQE.

    Returns ``(edges, nodes, n_nodes, bcast, n_parts)``; the caller
    unpersists ``edges``, and ``nodes`` when ``node_frame`` persisted it.
    """
    n_parts = raw.sparkSession.sparkContext.defaultParallelism
    e = raw.repartition(n_parts, out_key).persist()
    nodes = node_frame(e)
    n_nodes = nodes.count()
    bcast = n_nodes <= BROADCAST_NODES_MAX
    if not bcast:
        e_in = e.repartition(n_parts, in_key).persist()
        e_in.count()
        e.unpersist()
        e = e_in
    return e, nodes, n_nodes, bcast, n_parts


def _symmetric_edges(
    edges: DataFrame, src_col: str, dst_col: str, canonical: bool
) -> DataFrame:
    """Symmetric closure (u, v) of an undirected edge list, for LPA and
    BFS. Canonicalizes BEFORE mirroring: distinct on the |E| canonical
    list, then a shuffle-free union with the flipped copy (disjoint by
    construction except self-loops, excluded from the flip) — the naive
    mirror-then-distinct re-shuffles 2|E| rows for nothing.
    ``canonical=True`` (caller guarantees u<v exactly-once, no loops —
    e.g. the cached co-order list) skips the Θ(|E|) distinct shuffle."""
    e = edges.select(
        F.col(src_col).cast("long").alias("u"), F.col(dst_col).cast("long").alias("v")
    )
    ee = (
        e
        if canonical
        else e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()
    )
    return ee.union(
        ee.where(F.col("u") != F.col("v")).select(
            F.col("v").alias("u"), F.col("u").alias("v")
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list. For an
    undirected graph pass the symmetrized edges. Returns (node, rank)
    for every node that appears as a source (with ≥ 1 out-edge —
    see the module docstring's dangling-node contract).

    PageRank is personalized PageRank with EVERY node seeded: with
    ``|S| = n`` and ``is_seed ≡ true`` the PPR recurrence below reduces
    term for term to the uniform one, so both run one kernel
    (``_ranks``) and return bit-identical ranks.

    Determinism (round 8): the ENTIRE iteration runs in exact integer
    picoranks (10⁻¹² units) — no IEEE arithmetic anywhere until the
    final ``rank = pico/10¹²`` emission (one IEEE division of the same
    exact integer in every engine/build; the round-7 driver failure
    proved float folds 1-ulp-fragile ACROSS DuckDB builds even in
    floor form). With damping ``dn/dd`` (0.85 = 17/20 exactly):

        R₀      = halfup(10¹²/n)
        c(edge) = halfup(R(src)/deg(src))                 [pico]
        R'      = 100·halfup(((dd−dn)·10¹² + dn·Σc·n) / (100·dd·n))

    (the last line is base + damping·Σc quantized at 10dp, scaled back
    to pico — matching the prior 10dp update contract). halfup is
    integral division (``rounding.rational_micro``); sums of integer
    picoranks are order-free; the twin replays the identical integer
    recurrence, so every intermediate rank vector is bit-identical.

    Plan shape (round 9, two regimes by node count — the LPA design):
    under ``BROADCAST_NODES_MAX`` nodes the edge list pins partitioned
    on DST (the contribution stream's output key) and each iteration
    broadcast-joins the Θ(nodes) rank/degree vectors onto it — the
    contribution groupBy inherits HashPartitioning(dst) and the damped
    update joins two co-partitioned Θ(nodes) frames, so NO edge row
    ever re-shuffles. Past the cutover the edge list pins on SRC and
    each iteration pays the one inherent Θ(edges) dst-keyed shuffle
    into the contribution sum."""
    return _ranks(edges, None, iterations, damping, src_col, dst_col)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the restart mass concentrates on a SEED
    set instead of spreading uniformly — "importance as seen from
    these nodes", the relatedness/recommendation face of PageRank
    (related items from a seed basket, domain authority relative to
    trusted seeds, TrustRank-style propagation). ``seeds`` is a
    one-column ``node`` frame; rank_{t+1}(v) = (1−d)·p(v) + d·Σ
    contributions with p = uniform over seeds, r0 = p.

    Same kernel, plan shape and round-8 exact-integer picorank
    recurrence as :func:`pagerank` (PPR's restart arithmetic lands
    EXACTLY on 10dp decimal boundaries — observed at sf0.01 with plain
    ROUND: 0.0011315211 vs 0.001131521 — and the round-7 audit showed
    even fixed-order float forms 1-ulp-fragile across DuckDB builds):

        R₀      = is_seed ? halfup(10¹²/|S|) : 0
        c(edge) = halfup(R(src)/deg(src))                  [pico]
        R'      = 100·halfup(([seed]·(dd−dn)·10¹² + dn·Σc·|S|)
                             / (100·dd·|S|))

    all in integral division (``rounding.rational_micro``); the only
    IEEE op is the final ``pico/10¹²`` emission of identical integers.
    Nodes unreachable from the seeds report rank 0 — absence of
    relatedness is a value, not a missing row."""
    return _ranks(edges, seeds, iterations, damping, src_col, dst_col)


def _ranks(edges, seeds, iterations, damping, src_col, dst_col) -> DataFrame:
    """The one PageRank kernel: personalized PageRank over ``seeds``, or
    over every node when ``seeds`` is None. The all-seed case skips the
    seed join and its count (``|S| = n`` is the degree count) and pins
    its node frame only in the broadcast regime, where the damped
    update joins it co-partitioned with the contribution sums."""
    from fractions import Fraction

    from bearly_spark.operators.rounding import rational_micro

    e, deg, n, bcast, n_parts = _pin_edges(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "dst",
        "src",
        lambda by_dst: by_dst.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist(),
    )
    pinned = [e, deg]
    ids = deg.select(F.col("src").alias("node"))
    try:
        if seeds is None:
            nodes, s_count = ids, n
            if bcast:
                nodes = ids.repartition(n_parts, "node").persist()
                pinned.append(nodes)
                nodes.count()
        else:
            sd = seeds.select(F.col("node").cast("long").alias("node")).distinct()
            # ONE materialization of the node/seed frame, persisted
            # directly in the update-join layout; s_count pins it
            nodes = (
                ids.join(sd.withColumn("_s", F.lit(1)), "node", "left")
                .select("node", F.col("_s").isNotNull().alias("is_seed"))
                .repartition(n_parts, "node")
                .persist()
            )
            pinned.append(nodes)
            s_count = nodes.filter("is_seed").count()
            if s_count == 0:
                raise ValueError("personalized_pagerank: no seed appears in the graph")

        def seeded(value, zero):
            # value on seed rows, zero elsewhere; every node is a seed
            # when seeds is None, so the value needs no CASE at all
            if seeds is None:
                return value
            return F.when(F.col("is_seed"), value).otherwise(zero)

        dfr = Fraction(damping).limit_denominator(1000)
        dn, dd = dfr.numerator, dfr.denominator
        dec = "decimal(38,0)"
        # r0 is a projection of a persisted frame — no pin needed
        # (recompute is a cache read)
        ranks = (ids if seeds is None else nodes).select(
            "node",
            seeded(rational_micro(F.lit(1), F.lit(s_count), 12), F.lit(0)).alias("_pico"),
        )
        s38 = F.coalesce(F.col("_s"), F.lit(0)).cast(dec)
        num = seeded(
            F.lit((dd - dn) * 10**12).cast(dec), F.lit(0).cast(dec)
        ) + F.lit(dn).cast(dec) * s38 * F.lit(s_count).cast(dec)
        den = F.lit(100 * dd).cast(dec) * F.lit(s_count).cast(dec)

        def step(ranks):
            # per-EDGE halfup contribution in plain LONG arithmetic (the
            # hot path — Θ(edges)/round): picoranks sum to ~10¹², so
            # 2·R + deg ≤ ~2·10¹² at ANY corpus scale — no DECIMAL
            # needed (rational_micro's DECIMAL(38,0) chain measured
            # +~10% on the bench graph trio); the Θ(nodes) damped update
            # keeps DECIMAL for the dn·S·n blow-up. deg is NOT annotated
            # onto the edge list (round 14, measured): in the broadcast
            # regime its join is a cheap Θ(nodes) probe, while the
            # annotation costs an extra Θ(edges) materialization plus a
            # wider cached edge row every iteration (10x-scale
            # best-of-3: pagerank 2.61s plain vs 3.94s annotated).
            rv = ranks.withColumnRenamed("node", "src")
            dv = deg
            if bcast:
                rv, dv = F.broadcast(rv), F.broadcast(dv)
            contrib = (
                e.join(rv, "src")
                .join(dv, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.call_function(
                        "div",
                        F.lit(2).cast("long") * F.col("_pico") + F.col("deg"),
                        F.lit(2).cast("long") * F.col("deg"),
                    ).alias("w"),
                )
            )
            agg = contrib.groupBy("node").agg(F.sum("w").alias("_s"))
            # left-join back onto the FULL node set: a node with
            # out-edges but no in-edges (possible on non-symmetric
            # graphs) must keep its base rank and stay in the vector —
            # grouping only the contribution stream would silently drop
            # it AND its out-edges from every later iteration
            return nodes.join(agg, "node", "left").select(
                "node", (rational_micro(num, den, 0) * F.lit(100)).alias("_pico")
            )

        ranks = _run_rounds(ranks, iterations, step)
        return ranks.select(
            "node", (F.col("_pico").cast("double") / F.lit(1e12)).alias("rank")
        )
    finally:
        for df_ in pinned:
            df_.unpersist()


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    third classic graph primitive beside components (clustering face)
    and PageRank (centrality face): triangle participation drives local
    clustering coefficients, spam/link-farm detection and community
    strength scoring over co-occurrence graphs.

    Input rows are undirected and may be dirty: duplicates, self-loops
    and both orientations are tolerated (canonicalized to ``u < v``
    DISTINCT, self-loops dropped). Returns ``(node, n_triangles)`` for
    every node in ≥ 1 triangle.

    Scale design — degree-ordered orientation (the standard
    O(m^1.5)-wedge bound, vs Θ(Σ deg²) for naive id-ordered wedge
    enumeration, which a high-degree hub makes quadratic):

    - each canonical edge is oriented from its LOWER (degree, id)
      endpoint to its higher one, so every node's out-degree is
      O(√m) regardless of its real degree;
    - wedges are generated by self-joining the oriented list on the
      common SOURCE (one hash shuffle on node id; the orientation key
      rides along as a struct so no second lookup is needed), and each
      wedge (b, c) is closed by one hash semi-pair join against the
      oriented edge (b → c) itself;
    - each triangle materializes exactly once (at its lowest-order
      vertex), then explodes into its three member nodes for the final
      wordcount-shaped groupBy.

    The DuckDB twin enumerates with plain id-ordering (u < v < w) —
    same result set by symmetry, simpler SQL, and its worst case only
    bites at scales the oracle never runs at.
    """
    canon = _canonical_edges(edges, src_col, dst_col, canonical)
    deg = _degrees(canon)
    tri = _triangles(canon, deg)
    return (
        tri.select(F.explode("nodes").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _canonical_edges(
    edges: DataFrame, src_col: str, dst_col: str, canonical: bool = False
) -> DataFrame:
    """Undirected edge canonicalization shared by the triangle kernel
    and :func:`local_clustering`: ``u < v`` DISTINCT, self-loops
    dropped — dirty input (dups / reversed / loops) tolerated.

    ``canonical=True`` is the caller's guarantee that the input already
    satisfies all three invariants (each undirected edge exactly once,
    as ``src < dst``, no self-loops — e.g. a cached co-occurrence edge
    list built that way); it skips the dropDuplicates, which is a full
    Θ(|E|) shuffle that would otherwise re-run per consuming query."""
    if canonical:
        return edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


def _degrees(canon: DataFrame) -> DataFrame:
    """(node, deg) over a canonical edge list — one wordcount pass."""
    return (
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _triangles(canon: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration over precomputed canonical
    edges + degrees (each triangle exactly once, as a 3-node array) —
    callers share canon/deg so neither pass runs twice."""
    # orientation key: (deg, id) as a comparable struct
    keyed = (
        canon.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(deg.withColumnRenamed("node", "v"), "v")
        .withColumnRenamed("deg", "dv")
        .select(
            "u",
            "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("n")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("n")).alias("kv"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kdst"),
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.src") == F.col("e2.src")).filter(
        F.col("e1.kdst") < F.col("e2.kdst")
    )
    return wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        (F.col("e1.dst") == F.col("b")) & (F.col("e2.dst") == F.col("c")),
        "inner",
    ).select(
        F.array(F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst")).alias("nodes")
    )


def local_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    canonical: bool = False,
) -> DataFrame:
    """Local clustering coefficient per node over an undirected edge
    list: ``2·triangles / (deg·(deg−1))`` — how close each node's
    neighborhood is to a clique (community-strength / link-farm signal;
    the per-node normalization of :func:`triangle_counts`). Returns
    ``(node, n_triangles, deg, coeff)`` for EVERY node with ≥ 1 edge
    (nodes in no triangle report 0.0; deg-1 nodes report 0.0 by the
    deg ≥ 2 guard). Same canonicalization and scale shape as
    triangle_counts (one extra wordcount-shaped degree pass + one
    node-keyed left join); coeff rounded to 6dp for engine parity."""
    canon = _canonical_edges(edges, src_col, dst_col, canonical)
    deg = _degrees(canon)
    tri = (
        _triangles(canon, deg)
        .select(F.explode("nodes").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("deg").cast("double")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            "deg",
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)) / (d * (d - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
    canonical: bool = False,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation: labels
    start as node ids; each round every node adopts the most frequent
    label among its NEIGHBORS, ties broken by the smaller label — a
    fully deterministic variant of Raghavan et al.'s LPA (the
    textbook algorithm's random tie-breaks and asynchronous sweeps
    don't reproduce; this one is exact-twinnable round for round).
    A FIXED round count (not convergence detection) keeps the
    result a pure function of the input — synchronous LPA can
    oscillate on bipartite structure, so "run R rounds" IS the
    defined semantics, matching practice (GraphFrames' LPA does the
    same). Returns (node, community) for every node with ≥ 1 edge.

    Scale shape (round 9, two regimes by node count): when the label
    vector fits a broadcast (≤ ``BROADCAST_NODES_MAX`` nodes — the
    co-order part graph, entity graphs, most dimension-derived graphs),
    the symmetric edge list is pinned partitioned on the OUTPUT key
    ``u`` and every round is a broadcast-hash join + two
    partitioning-preserved hash aggs — ZERO per-round shuffles of edge
    rows (HashPartitioning(u) satisfies both the (node,label) count
    clustering and the per-node argmax). Past the broadcast cutover
    (billions of nodes) the edge list pins on the neighbor key ``v``
    instead and each round pays the one inherent Θ(edges) node-keyed
    shuffle between the join and the count — LPA's information flow
    (neighbor labels regroup by node) made explicit. Labels pin with a
    LAZY per-round checkpoint (``_pin_round``, round 14): truncation is
    mandatory — an un-pinned round re-executes all earlier rounds
    through its broadcast subtree — but the materialization rides
    inside the next round's broadcast build instead of a separate
    eager job per round (10x-scale: eager 8.88s / no-pin 9.33s /
    lazy 7.23s); only the last round pins eagerly (``_run_rounds``)."""
    sym, labels, _, bcast, n_parts = _pin_edges(
        _symmetric_edges(edges, src_col, dst_col, canonical),
        "u",
        "v",
        lambda sym: sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
    )

    def step(labels):
        joined = sym.join(
            F.broadcast(labels) if bcast else labels,
            sym["v"] == labels["node"],
        ).select(F.col("u").alias("node"), "label")
        if not bcast:
            # explicit node-keyed repartition: HashPartitioning(node)
            # satisfies the (node, label) grouping AND the per-node
            # argmax agg, so the round costs ONE pinned shuffle — without
            # it AQE coalesces the count shuffle to a single task that
            # sorts ~|edges| rows (measured sf0.1: rounds 3.5s -> ~1s)
            joined = joined.repartition(n_parts, "node")
        nb = joined.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # argmax as a hash agg, not a sort window: max_by over the
        # (count, -label) struct = most-frequent label, min-label ties —
        # (c, -label) is unique per node (labels are distinct after the
        # groupBy), so the result is fully deterministic and the
        # per-round partition sort disappears from the plan
        return nb.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )

    try:
        labels = _run_rounds(labels, rounds, step)
        return labels.select("node", F.col("label").alias("community"))
    finally:
        sym.unpersist()


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 3,
    canonical: bool = False,
) -> DataFrame:
    """Multi-source BFS shortest-path levels: hop distance from a seed
    set (a one-column ``node`` frame) over the undirected edge list,
    expanded a FIXED number of rounds — "friends-of-friends within R
    hops", the reachability primitive behind influence radii and
    related-item expansion. Returns (node, dist) for every node reached
    within ``rounds`` hops, dist 0 for the seeds; unreached nodes are
    absent. A fixed round count (not emptiness detection) keeps the
    result a pure function of the input and the plan static.

    Scale shape: the symmetric edge list is pinned partitioned on the
    neighbor key and reused every round (it never re-shuffles); each
    round is one edges⋈frontier hash join + a distinct + an anti-join
    against the Θ(reached) visited vector, which localCheckpoints per
    round (the ``connected_components`` lineage discipline). Work per
    round is Θ(edges touching the frontier), never corpus-quadratic.

    Round 9, two regimes by node count (the LPA design): under
    ``BROADCAST_NODES_MAX`` nodes the edge list pins on the OUTPUT key
    ``u`` and each round broadcast-joins the frontier and anti-joins
    the visited vector (both ≤ Θ(nodes)) — the expansion's distinct
    inherits HashPartitioning(u), so no touched-edge row ever shuffles.
    Past the cutover the v-pinned shuffle form remains."""
    sym, _, _, bcast, n_parts = _pin_edges(
        _symmetric_edges(edges, src_col, dst_col, canonical),
        "u",
        "v",
        lambda sym: sym.select("u").distinct(),
    )
    try:
        visited = (
            seeds.select(F.col("node").cast("long").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0))
            .localCheckpoint(eager=True)
        )
        frontier = visited.select("node")
        for r in range(1, rounds + 1):
            fv = frontier.withColumnRenamed("node", "v")
            expanded = sym.join(F.broadcast(fv) if bcast else fv, "v").select(
                F.col("u").alias("node")
            )
            if not bcast:
                expanded = expanded.repartition(n_parts, "node")
            nxt = (
                expanded.distinct()
                .join(
                    F.broadcast(visited) if bcast else visited,
                    "node",
                    "left_anti",
                )
                .withColumn("dist", F.lit(r))
                .localCheckpoint(eager=True)
            )
            # visited needs no checkpoint of its own: it is a union of
            # already-checkpointed frontiers, so its lineage is flat and
            # bounded by the fixed round count — checkpointing it too
            # would pay one extra eager job per round for nothing
            visited = visited.unionByName(nxt)
            frontier = nxt.select("node")
        return visited
    finally:
        sym.unpersist()
