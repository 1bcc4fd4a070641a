"""Graph analytics over the part co-order projection: PageRank, personalized PageRank, BFS, triangles, clustering coefficient, label propagation."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.sources.tables import load_table, read_parquet

from bearly_spark.registry._core import register
from bearly_spark.cache import derived_dir



def _pagerank_oracle(iterations: int = 3, k: int = 20) -> str:
    """Twin of ``pagerank_supplier_part``: the power iteration UNROLLED
    as one CTE per iteration, in EXACT INTEGER PICORANKS (round 8 —
    the graph.pagerank determinism contract: halfup integral-division
    contributions, the damped update quantized at 10dp and rescaled to
    pico, HUGEINT throughout; no IEEE arithmetic until the final
    ``pico/10¹²`` emission, so every intermediate rank vector is
    bit-identical to Spark's in every engine AND build — the round-7
    audit showed float folds 1-ulp-fragile across DuckDB versions)."""
    prev = "r0"
    its = []
    for i in range(1, iterations + 1):
        its.append(
            f"""it{i} AS (SELECT e.dst AS node,
               100 * ((2 * (3000000000000::HUGEINT
                            + 17 * SUM((2 * r.pr + d.deg) // (2 * d.deg))
                                 * (SELECT n FROM nn))
                       + 2000 * (SELECT n FROM nn))
                      // (2 * 2000 * (SELECT n FROM nn))) AS pr
        FROM e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
        GROUP BY e.dst)"""
        )
        prev = f"it{i}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
                FROM lineitem),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node,
                  (2 * 1000000000000::HUGEINT + (SELECT n FROM nn))
                      // (2 * (SELECT n FROM nn)) AS pr
           FROM deg),
    {its_sql},
    t AS (SELECT node, CAST(pr AS DOUBLE) / 1e12 AS page_rank,
                 CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INTEGER) AS rk
          FROM {prev})
    SELECT node, page_rank, rk FROM t WHERE rk <= {k}
    """


@register("pagerank_supplier_part", oracle=_pagerank_oracle())
def q_pagerank(spark, sf_dir):
    """PageRank (round 6, ``operators/graph.py``) — the centrality face
    of graph analytics next to connected components' clustering face:
    3 power iterations over the symmetrized supplier–part bipartite
    graph derived from lineitem (the link-authority signal corpus
    curation applies to web-document graphs). One node-keyed join +
    partial-aggregated groupBy per iteration, lineage truncated per
    round; the iteration is hash-twinnable because it runs ENTIRELY in
    exact integer picoranks (round 8 — halfup integral-division
    contributions, 10dp-quantized damped update) — both engines walk
    bit-identical rank vectors through every unrolled iteration of the
    oracle, in every engine build."""
    from bearly_spark.operators.graph import pagerank

    e0 = _bipartite_edges(spark, sf_dir)
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iterations=3)
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.col("rank").desc(), F.col("node")))
    return (
        pr.select("node", F.col("rank").alias("page_rank"), rk.cast("int").alias("rk"))
        .filter(F.col("rk") <= 20)
    )


def _build_coorder_edges(spark, sf_dir):
    """Part co-order edge list (two parts linked when some order
    contains both — the market-basket projection) shared by the graph
    family. The (order, part) projection is repartitioned with an
    EXPLICIT partition count on the join key: without it AQE coalesces
    the ~MB-scale shuffle to 1-2 tasks and the pair-expansion self-join
    (the expensive part: output >> input) serializes; a user-specified
    count survives AQE (sf0.1: edge build 7.4s -> ~2s)."""
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = spark.sparkContext.defaultParallelism
    op = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .repartition(n_parts, "o")
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )


def _coorder_edges(spark, sf_dir):
    """The co-order edge list served from a ``.scratch/`` parquet built
    ONCE per fixture (round-7 verdict #5): four graph queries
    (triangles, local clustering, bfs, label propagation) share this
    edge list, and each used to re-run the distinct + pair-expansion
    self-join from lineitem — ~20% of the bench headline spent
    rebuilding identical edges. Same fixture-keyed reuse as the
    ANN/BM25/IVF-PQ index entries; a refreshed fixture invalidates.
    Deterministic content (DISTINCT of a pure projection), so cached
    vs inline is row-identical for the oracle gate."""
    edge_dir, _ = derived_dir(
        sf_dir,
        "coorder-edges",
        [f"{sf_dir}/lineitem.parquet"],
        lambda d: _build_coorder_edges(spark, sf_dir).write.parquet(d),
    )
    return read_parquet(spark, edge_dir)


def _bipartite_edges(spark, sf_dir):
    """The supplier–part bipartite edge list (suppkey*2 → partkey*2+1,
    DISTINCT — the even/odd encoding keeps the two node spaces
    disjoint) served from the same fixture-keyed ``.scratch/`` parquet
    reuse as ``_coorder_edges``: pagerank and personalized-pagerank
    both derive it from lineitem, and the Θ(|lineitem|) distinct is
    pure rebuild cost after the first run. Directed canonical form is
    cached; consumers mirror it (a narrow union, no shuffle)."""
    edge_dir, _ = derived_dir(
        sf_dir,
        "supplier-part-bipartite",
        [f"{sf_dir}/lineitem.parquet"],
        lambda d: load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .write.parquet(d),
    )
    return read_parquet(spark, edge_dir)



@register(
    "triangle_count_parts",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
    t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    n AS (SELECT a AS part FROM t
          UNION ALL SELECT b FROM t
          UNION ALL SELECT c FROM t)
    SELECT part, COUNT(*) AS n_triangles FROM n GROUP BY part
    """,
)
def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts (``graph.triangle_counts``) over the
    part co-order graph (two parts linked when some order contains
    both — the market-basket projection). Third classic graph
    primitive beside components and PageRank; the Spark side uses
    degree-ordered orientation (every node's out-degree O(sqrt(m)), so
    wedge generation is O(m^1.5) even with hub nodes) while the twin
    enumerates id-ordered — identical result set by symmetry."""
    from bearly_spark.operators.graph import triangle_counts

    edges = _coorder_edges(spark, sf_dir)
    return triangle_counts(edges, canonical=True).withColumnRenamed("node", "part")


@register(
    "local_clustering_parts",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT node, COUNT(*) AS deg FROM (
              SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
    t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    tc AS (SELECT node, COUNT(*) AS n_triangles FROM (
             SELECT a AS node FROM t UNION ALL SELECT b FROM t
             UNION ALL SELECT c FROM t) GROUP BY node)
    SELECT d.node AS part,
           COALESCE(tc.n_triangles, 0) AS n_triangles, d.deg,
           ROUND(CASE WHEN d.deg >= 2
                      THEN 2.0 * COALESCE(tc.n_triangles, 0)
                           / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0))
                      ELSE 0.0 END, 6) AS coeff
    FROM deg d LEFT JOIN tc ON d.node = tc.node
    """,
)
def q_local_clustering(spark, sf_dir):
    """Local clustering coefficient per part (``graph.local_clustering``)
    over the same co-order projection as `triangle_count_parts`:
    2T/(deg·(deg−1)) — neighborhood-clique-ness, the normalized form of
    triangle participation (community strength / link-farm signal).
    Every node with ≥ 1 edge reports (0.0 when deg < 2 or no
    triangles); coeff rounded to 6dp for engine parity."""
    from bearly_spark.operators.graph import local_clustering

    edges = _coorder_edges(spark, sf_dir)
    return local_clustering(edges, canonical=True).withColumnRenamed("node", "part")


def _lpa_oracle(rounds: int = 4) -> str:
    """Twin of ``label_communities_parts``: the deterministic
    synchronous LPA unrolled round-by-round (same pattern as the
    PageRank twin's unrolled power iterations) over the part co-order
    projection. Per round: neighbor-label counts, then per-node argmax
    with the (count DESC, label ASC) tie-break."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        "e0 AS (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
        "e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0)",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"n{r} AS (SELECT e.u AS node, l.label, COUNT(*) AS c\n"
            f"         FROM e JOIN l{r - 1} l ON l.node = e.v GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{r} AS (SELECT node, label FROM\n"
            f"         (SELECT node, label, ROW_NUMBER() OVER\n"
            f"            (PARTITION BY node ORDER BY c DESC, label) AS rn FROM n{r})\n"
            f"         WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label AS community FROM l{rounds}"
    )


@register("label_communities_parts", oracle=_lpa_oracle())
def q_label_communities(spark, sf_dir):
    """Community detection (``graph.label_propagation``) over the part
    co-order graph: 4 rounds of deterministic synchronous LPA
    (most-frequent neighbor label, min-label ties) — the fourth classic
    graph primitive beside components, PageRank and triangles. Fixed
    round count IS the semantics (sync LPA can oscillate), which is
    what makes the twin exact round-for-round."""
    from bearly_spark.operators.graph import label_propagation

    edges = _coorder_edges(spark, sf_dir)
    # canonical=True: the cached co-order list is u<v exactly-once
    return label_propagation(edges, "src", "dst", rounds=4, canonical=True)


def _bfs_oracle(rounds: int = 3) -> str:
    """Twin of ``bfs_part_coorder``: fixed-round multi-source BFS
    unrolled level by level (the LPA/PageRank unrolling pattern) over
    the part co-order projection, seeded at the minimum node id."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        "e0 AS (SELECT DISTINCT a.p AS u, b.p AS v\n"
        "       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)",
        "e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0)",
        "v0 AS (SELECT MIN(u) AS node, 0 AS dist FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"f{r} AS (SELECT DISTINCT e.u AS node FROM e\n"
            f"         JOIN v{r - 1} pv ON e.v = pv.node\n"
            f"         WHERE e.u NOT IN (SELECT node FROM v{r - 1}))"
        )
        ctes.append(
            f"v{r} AS (SELECT node, dist FROM v{r - 1}\n"
            f"         UNION ALL SELECT node, {r} AS dist FROM f{r})"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist FROM v{rounds}"


@register("bfs_part_coorder", oracle=_bfs_oracle())
def q_bfs_levels(spark, sf_dir):
    """Multi-source BFS hop levels (``graph.bfs_levels``) over the part
    co-order graph from the minimum part id: every part within 3 hops
    with its shortest-path distance — the reachability/influence-radius
    primitive beside components, PageRank, triangles and LPA. Fixed
    round count keeps the result a pure input function and the twin an
    exact level-by-level unroll."""
    from bearly_spark.operators.graph import bfs_levels

    edges = _coorder_edges(spark, sf_dir)
    seeds = edges.select(
        F.least(F.min("src"), F.min("dst")).alias("node")
    )
    # canonical=True: the cached co-order list is u<v exactly-once
    return bfs_levels(edges, seeds, "src", "dst", rounds=3, canonical=True)


def _ppr_oracle(iterations: int = 3, k: int = 20) -> str:
    """Twin of ``ppr_supplier_part``: personalized PageRank unrolled
    (the ``_pagerank_oracle`` shape with the restart mass CASEd onto
    the seed set), in EXACT INTEGER PICORANKS (round 8 — the
    ``graph.personalized_pagerank`` contract: halfup integral-division
    contributions, 10dp-quantized damped update rescaled to pico,
    HUGEINT throughout; the only IEEE op is the final ``pico/10¹²``
    emission of identical integers)."""
    seed_case = (
        "CASE WHEN n.node IN (SELECT node FROM seeds)"
        " THEN 3000000000000::HUGEINT ELSE 0::HUGEINT END"
    )
    prev = "r0"
    its = []
    for i in range(1, iterations + 1):
        its.append(
            f"""it{i} AS (
      SELECT n.node,
             100 * ((2 * ({seed_case}
                          + 17 * COALESCE(c.sd, 0::HUGEINT)
                               * (SELECT s FROM sc))
                     + 2000 * (SELECT s FROM sc))
                    // (2 * 2000 * (SELECT s FROM sc))) AS pr
      FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 SUM((2 * r.pr + d.deg) // (2 * d.deg)) AS sd
          FROM e JOIN {prev} r ON r.node = e.src JOIN deg d ON d.src = e.src
          GROUP BY e.dst) c ON c.node = n.node)"""
        )
        prev = f"it{i}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
                FROM lineitem),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    seeds AS (SELECT DISTINCT l_suppkey * 2 AS node FROM lineitem
              ORDER BY node LIMIT 5),
    sc AS (SELECT COUNT(*) AS s FROM seeds),
    r0 AS (SELECT node,
                  CASE WHEN node IN (SELECT node FROM seeds)
                       THEN (2 * 1000000000000::HUGEINT + (SELECT s FROM sc))
                                // (2 * (SELECT s FROM sc))
                       ELSE 0::HUGEINT END AS pr
           FROM nodes),
    {its_sql},
    t AS (SELECT node, CAST(pr AS DOUBLE) / 1e12 AS rank,
                 CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INTEGER) AS rk
          FROM {prev})
    SELECT node, rank, rk FROM t WHERE rk <= {k}
    """


@register("ppr_supplier_part", oracle=_ppr_oracle())
def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (``graph.personalized_pagerank``) from the
    5 smallest supplier nodes over the symmetrized supplier–part
    bipartite graph: top-20 by seed-relative importance — the
    related-items / trust-propagation primitive beside global
    PageRank. Shares its determinism contract (12dp DECIMAL sums,
    10dp damped updates) so the twin walks bit-identical vectors."""
    from pyspark.sql import Window

    from bearly_spark.operators.graph import personalized_pagerank

    e0 = _bipartite_edges(spark, sf_dir)
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # seed set from the cached edges (src = even supplier nodes), not a
    # second lineitem scan — identical values to DISTINCT l_suppkey*2
    seeds = e0.select(F.col("src").alias("node")).distinct().orderBy("node").limit(5)
    pr = personalized_pagerank(edges, seeds, iterations=3)
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        pr.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 20)
        .select("node", "rank", "rk")
    )
