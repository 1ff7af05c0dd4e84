"""Graph analytics over the co-purchase graph (parts co-occurring in
an order), DataFrame-native: PageRank as unrolled power iterations in
FIXED-POINT integer arithmetic.

Why fixed-point: a float PageRank is not portable — measured 34/2000
node values flipping their 9th significant digit between Spark and
DuckDB purely from float-sum order (join/aggregation order is engine-
private). The same problem the money sums hit (analytics._money_sum),
same cure: all mass lives in integer micro-units (SCALE = 1e12), every
per-edge share is an integer floor-division, every damping step is
integer multiply-then-divide — associative, order-independent,
bit-identical on any engine and any partitioning. The ~1e-12 mass
leak per floor-division is irrelevant to ranking and a price worth
paying for a hash-verifiable iterative operator.

Scale shape: edges come from the per-order part self-join (bounded by
order size, the parts_bought_together argument); each iteration is
one broadcast-degree join + one groupBy(dst) shuffle over the edge
table — iterations unrolled, no driver-side loop state beyond the
plan. At 100 TB you checkpoint pr between iterations; here 3
iterations compose into one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

PR_SCALE = 1_000_000_000_000  # 1e12 micro-units of probability mass
PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Directed edge list (src, dst) of parts sharing an order, both
    directions, distinct. Pair generation is per-order (inverted-index
    shape): only parts that actually co-occur ever meet."""
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "o")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank_fixed_point(edges: DataFrame, n_iters: int = PR_ITERS) -> DataFrame:
    """(node, pr_micro) after `n_iters` damped power iterations in
    integer micro-units. Every arithmetic step is integer and
    floor-divided, so the result is bit-exact across engines,
    partitionings, and join orders — the property the SQL oracle
    hash-verifies."""
    from pyspark import StorageLevel

    # the edge table feeds deg, nodes, the n_nodes count, AND every
    # iteration's join — without a persist the per-order self-join
    # that builds it re-executes ~(n_iters + 3) times through lineage
    # (measured 7.1s -> 2.6s at sf0.1 with the persist). At warehouse
    # scale this is the step you materialize to parquet once.
    # (The cached partition count tracks AQE's advisory size via
    # canChangeCachedPlanOutputPartitioning=true in session.py — r15:
    # it otherwise pinned the distinct's raw 32-lane fan-out, and
    # every downstream job re-walked all 32 cached partitions of a
    # node-scale table; BENCH_r14's 8-vs-32-core inversion, ratio
    # 0.47, came from exactly this.)
    from saurav_nayak_recipe_etl_project_spark.functions.cachereg import (
        persist_scoped,
    )

    edges = persist_scoped(edges, "pagerank.edges")
    # deg and nodes are NODE-sized and re-read by every iteration's
    # broadcast build / label join — cache them once (lazy: the first
    # consumer is a full-scan broadcast/count, so the r15 limit-probe
    # hazard does not apply) instead of re-aggregating the edge table
    # per iteration (r15: each re-aggregation was a full cached-edge
    # pass per iteration, the bulk of this entry's 32-core overhead)
    deg = edges.groupBy("src").agg(
        F.count("*").alias("deg")).localCheckpoint(eager=False)
    nodes = edges.select(
        F.col("src").alias("node")).distinct().localCheckpoint(eager=False)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("pr_micro", F.lit(0).cast("long"))
    init = PR_SCALE // n_nodes
    base = (15 * init) // PR_DAMP_DEN  # (1-d) * uniform mass, integer
    pr = nodes.withColumn("pr_micro", F.lit(init).cast("long"))
    for it in range(n_iters):
        # pr and deg are NODE-sized (the distinct-parts dimension, not
        # the edge fact) — broadcast them so each iteration is one
        # edge-table pass + one groupBy(dst) shuffle, never a shuffle
        # of the edge table onto src. For graphs whose node table
        # outgrows broadcast, drop the hints and pre-partition edges
        # and pr by the join key instead.
        contrib = (
            edges.join(F.broadcast(pr.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("pr_micro div deg")).alias("c"))
        )
        pr = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (F.lit(base)
                 + F.expr(f"({PR_DAMP_NUM} * coalesce(c, 0)) div {PR_DAMP_DEN}"))
                .cast("long").alias("pr_micro"),
            )
        )
        # lazy localCheckpoint on INTERMEDIATE iterations: iteration
        # i+1 broadcasts pr, which without the cut re-executes the
        # whole chain of earlier iterations once per broadcast build
        # (plan depth grows per iteration — guide §5 lineage
        # truncation for iterative algorithms). Node-sized frame;
        # values unchanged (integer arithmetic, same rows). The LAST
        # iteration stays un-checkpointed so the returned plan keeps
        # its broadcast-join shape visible (plan pin in test_graph).
        if it < n_iters - 1:
            pr = pr.localCheckpoint(eager=False)
    return pr


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E51 — PageRank over the co-purchase part graph (fixed-point,
    3 unrolled iterations). Full node list with integer micro-unit
    mass; ranking-stable and hash-verified against the identically
    unrolled SQL oracle."""
    edges = copurchase_edges(load_table(spark, "lineitem", sf_dir))
    return pagerank_fixed_point(edges)


def _pagerank_oracle_sql(n_iters: int = PR_ITERS) -> str:
    """The oracle mirrors the exact integer recurrence, iterations
    unrolled as chained CTEs (init/base computed inline from the same
    integer formulas)."""
    sql = f"""
        WITH edges AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey <> b.l_partkey
        ),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        consts AS (
          SELECT CAST({PR_SCALE} // COUNT(*) AS BIGINT) AS init,
                 CAST((15 * ({PR_SCALE} // COUNT(*))) // {PR_DAMP_DEN} AS BIGINT)
                   AS base
          FROM nodes
        ),
        it0 AS (SELECT node, init AS pr FROM nodes, consts)"""
    prev = "it0"
    for i in range(1, n_iters + 1):
        sql += f""",
        c{i} AS (
          SELECT dst, CAST(SUM(pr // deg) AS BIGINT) AS c
          FROM edges JOIN {prev} ON {prev}.node = edges.src
          JOIN deg USING (src) GROUP BY dst
        ),
        it{i} AS (
          SELECT node,
            CAST(base + ({PR_DAMP_NUM} * COALESCE(c, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS pr
          FROM nodes CROSS JOIN consts
          LEFT JOIN c{i} ON c{i}.dst = nodes.node
        )"""
        prev = f"it{i}"
    sql += f"""
        SELECT node, pr AS pr_micro FROM {prev}"""
    return sql


TRI_MIN_SUPPORT = 2


def support_edges(li: DataFrame, min_support: int = TRI_MIN_SUPPORT) -> DataFrame:
    """Canonical undirected edges (pa < pb) of parts co-occurring in at
    least min_support DISTINCT orders. The support threshold is the
    scale knob: it prunes the long random-co-occurrence tail before any
    graph algorithm runs (measured here: 1.2M raw pairs -> 3.6k edges
    at sf0.1), and pair generation stays per-order — no part x part
    cross product ever forms."""
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    b = items.select(F.col("o"), F.col("p").alias("q"))
    return (
        items.join(b, "o")
        .filter(F.col("p") < F.col("q"))
        .groupBy(F.col("p").alias("pa"), F.col("q").alias("pb"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
        .select("pa", "pb")
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census: edges, wedges (open 2-paths), triangles,
    and the transitivity ratio 3*triangles/wedges.

    Triangle enumeration is DEGREE-ORIENTED (the standard
    triangle-counting trick): each undirected edge points from its
    lower-(degree, id) endpoint to the higher, wedges are enumerated
    only from a node's OUT-edges, and the closing edge is checked
    against the canonical (min,max) edge set. Under this orientation
    every node's out-degree is bounded by the graph's arboricity
    (≈ sqrt(|E|)), so a hub with degree d contributes O(arboricity²)
    wedges instead of O(d²) — the skewed-co-purchase blowup the
    un-oriented two-join pays. Each triangle has exactly one vertex
    with both out-edges inside it, so the count is exact and
    identical. The wedge count comes from the degree table alone
    (sum deg*(deg-1)/2 — no join at all). All counts integer, the
    ratio is one raw double division: engine-exact."""
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("_db"))
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = (
        edges.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
    )
    w2 = oriented.select(F.col("src"), F.col("dst").alias("dst2"))
    tri = (
        oriented.join(w2, "src")
        .where(F.col("dst") < F.col("dst2"))
        .select(F.col("dst").alias("pa"), F.col("dst2").alias("pb"))
        .join(edges, ["pa", "pb"])
        .agg(F.count("*").alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("n_wedges"),
        F.count("*").alias("n_nodes"),
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(wedges).crossJoin(tri)  # three 1-row frames
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("transitivity"),
        )
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: triangle census of the support-2 co-purchase
    graph (cite: reference analysis_queries.py stops at pair counts;
    this is the next structure up).

    The edge set is localCheckpoint-materialized ONCE before the
    census: triangle_stats references it six times (e1/e2/e3, two
    degree legs, edge count), and Catalyst does not common-subexpress
    a repeated aggregation subtree — without this the fact table is
    scanned 24x (measured; 4 scans after). Same pattern as
    star_components; the edge table is support-pruned tiny."""
    li = load_table(spark, "lineitem", sf_dir)
    return triangle_stats(support_edges(li).localCheckpoint())


_TRIANGLE_ORACLE = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT a.p AS pa, b.p AS pb
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
      ) GROUP BY node
    ),
    w AS (
      SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
             COUNT(*) AS n_nodes
      FROM deg
    ),
    ne AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
             AS transitivity
    FROM ne, w, tri
"""

KCORE_K = 3
KCORE_ROUNDS = 3


def kcore_peel_stats(edges: DataFrame, k: int = KCORE_K,
                     rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Bounded k-core peeling: `rounds` iterations of "drop every node
    with degree < k, restrict edges to survivors", reporting
    (peel_round, n_nodes, n_edges) after each peel. The dense-core
    extractor recommenders run before trusting graph features — hubs
    survive, the random-co-occurrence fringe evaporates.

    Bounded-round form for the same reason copurchase_reach3 bounds
    its recursion: run-to-fixpoint is data-dependent iteration count
    (worst case O(|V|) rounds on a path graph), while R rounds of
    degree-filtering are R edge-join + groupBy passes over the
    support-pruned edge table — each round strictly shrinks the frame,
    and the oracle unrolls the identical R stages. Fixpoint detection
    at 100 TB would add one count() action per round on the same
    shrinking frame (noted, not needed for the bounded report)."""
    rows = []
    cur = edges.select("pa", "pb").localCheckpoint()
    for r in range(1, rounds + 1):
        deg = (
            cur.select(F.col("pa").alias("node"))
            .unionAll(cur.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        cur = (
            cur.join(keep.withColumnRenamed("node", "pa"), "pa", "semi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "semi")
            .select("pa", "pb")
            .localCheckpoint()  # each round re-reads the previous one
            # several times (two semi-join probes + both stat counts);
            # frames are support-pruned tiny
        )
        n_nodes = keep.agg(F.count("*").alias("n_nodes"))
        n_edges = cur.agg(F.count("*").alias("n_edges"))
        rows.append(
            n_nodes.crossJoin(n_edges)
            .select(F.lit(r).cast("long").alias("peel_round"),
                    "n_nodes", "n_edges")
        )
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionAll(frame)
    return out


def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: 3 peels at k=3 over the support-2 co-purchase
    graph (same edge set as the triangle census)."""
    li = load_table(spark, "lineitem", sf_dir)
    return kcore_peel_stats(support_edges(li))


def _kcore_oracle_sql() -> str:
    stages = [f"""
    edges0 AS (
      SELECT a.p AS pa, b.p AS pb
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    )"""]
    selects = []
    for r in range(1, KCORE_ROUNDS + 1):
        stages.append(f"""
    deg{r} AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT pa AS node FROM edges{r - 1}
        UNION ALL SELECT pb FROM edges{r - 1}
      ) GROUP BY node
    ),
    keep{r} AS (SELECT node FROM deg{r} WHERE deg >= {KCORE_K}),
    edges{r} AS (
      SELECT e.pa, e.pb FROM edges{r - 1} e
      JOIN keep{r} ka ON e.pa = ka.node
      JOIN keep{r} kb ON e.pb = kb.node
    )""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS peel_round,"
            f" CAST((SELECT COUNT(*) FROM keep{r}) AS BIGINT) AS n_nodes,"
            f" CAST((SELECT COUNT(*) FROM edges{r}) AS BIGINT) AS n_edges"
        )
    return (
        "WITH items AS (\n"
        "  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem\n"
        "),\n" + ",".join(stages) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


GRAPH_QUERIES = {
    "part_pagerank": part_pagerank,
    "copurchase_triangles": copurchase_triangles,
    "copurchase_kcore": copurchase_kcore,
}
GRAPH_ORACLES = {
    "part_pagerank": _pagerank_oracle_sql(),
    "copurchase_triangles": _TRIANGLE_ORACLE,
    "copurchase_kcore": _kcore_oracle_sql(),
}
