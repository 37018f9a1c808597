"""Iterative graph analytics: PageRank over the customer→supplier
purchase graph — the join-per-iteration pattern every distributed graph
algorithm (label propagation, SSSP, embedding propagation) reduces to.
Complements the connected-components operator in dedup.py (which
iterates to convergence on boolean labels) with a FLOAT-valued fixed
iteration count, dangling-mass redistribution, and an EXACT oracle.

Determinism: each iteration's ranks are snapped to a 12-decimal grid on
both engines, so cross-engine float-summation order differences (~1e-19
absolute here) can never survive an iteration boundary — the same
snap-before-compare discipline as tpch_q8/q17. Output rounds to 9dp.

Scale notes (100 TB): edge extraction is one distinct over the
fact-join (shuffle on the pair); each iteration is one equi-join
(edges ⋈ ranks on src, shuffle on node id) + a groupBy(dst) with
map-side partial sums, plus a 1-row dangling aggregate cross-joined
back (broadcast). Each iteration's ranks are checkpointed
(``store.materialize``), so the lineage stays one round deep. Skewed
in-degree (celebrity nodes) is AQE skew-split territory — the groupBy
is a sum, so salting composes if needed.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gasket_rs_spark import store
from gasket_rs_spark.grid import snap, units
from gasket_rs_spark.tables import load

_PR_D = 0.85
_PR_ITERS = 5
_PR_SNAP = 12
_PR_TOPK = 20


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """PageRank over ``nodes(node)`` / ``edges(src, dst)``.

    Standard damped formulation with dangling-node redistribution:
    pr'(v) = (1-d)/N + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling_mass/N),
    snapped to the 12dp grid each iteration. Returns (node, pr).
    """
    n_frame = nodes.agg(F.count("*").cast("double").alias("nn"))
    # Edges are consumed by deg AND the per-iteration contrib join, and
    # ranks is rebuilt per iteration — without lineage truncation the
    # plan re-runs the (often expensive) caller edge extraction O(iters)
    # times and the rank lineage O(3^iters) times (measured 25s -> ~3s
    # at sf0.01). Same localCheckpoint(eager) pattern as
    # dedup._lsh_candidates. r21 restructure (guide §1.2/§2.4): the
    # edge subtree is checkpointed ONCE and deg derives from it — the
    # previous shape checkpointed deg and edges_deg separately, each
    # re-running the caller's full edge extraction (for the purchase
    # graph: one orders⋈lineitem+distinct pass per frame, 2.8s of the
    # 6.4s query at sf0.1). outdeg now rides the RANK frame, so the
    # per-edge weight join needs no edge-side degree column and the
    # dangling-mass probe is a FILTER (outdeg IS NULL), not a
    # per-iteration anti-join against deg. Per-edge terms are the same
    # IEEE divisions (pr/outdeg per node, replicated over its edges);
    # oracle EXACT ×3 SFs after the restructure. The checkpoints are
    # lazy (r21 session 3), but adaptive execution still runs every
    # shuffle-map stage below each one while the loop builds it, so each
    # round waits on the last: at sf0.01 building graph_pagerank starts
    # 51 jobs, 47 of them in these checkpoints (2 for edges_c, 5 for the
    # initial ranks, 8 per round), and the action 1. Lazy still beat
    # eager (interleaved A/B min 4.058 → 3.664 s at sf0.1, identical
    # rows).
    edges_c = store.materialize(edges.select("src", "dst"), "graph.pagerank_edges", eager=False)
    deg = edges_c.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
    ranks = store.materialize(
        nodes.crossJoin(F.broadcast(n_frame))
        .join(deg, nodes.node == deg.src, "left")
        .select(
            "node",
            "nn",
            "outdeg",
            F.round(F.lit(1.0) / F.col("nn"), _PR_SNAP).alias("pr"),
        ),
        "graph.pagerank_init", eager=False,
    )
    for _ in range(iters):
        contrib = (
            edges_c.join(
                ranks.select(
                    "node", (F.col("pr") / F.col("outdeg")).alias("w")
                ).where(F.col("outdeg").isNotNull()),
                edges_c.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum("w").alias("contrib"))
        )
        dangling = (
            ranks.where(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass"))
        )
        ranks = store.materialize(
            ranks.select("node", "nn", "outdeg")
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "nn",
                "outdeg",
                F.round(
                    F.lit((1.0 - _PR_D)) / F.col("nn")
                    + F.lit(_PR_D)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / F.col("nn")
                    ),
                    _PR_SNAP,
                ).alias("pr"),
            ),
            "graph.pagerank_round", eager=False,
        )
    return ranks.select("node", "pr")


def _purchase_edges(
    spark: SparkSession, sf_dir: str, cust: Column, supp: Column
) -> DataFrame:
    """The distinct customer–supplier purchase edges (orders ⋈ lineitem
    on the order key), projected as ``cust`` (over o_custkey) and
    ``supp`` (over l_suppkey) — the one extraction behind every
    bipartite-graph witness here."""
    return (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(cust, supp)
        .distinct()
    )


def _bipartite_edges(spark: SparkSession, sf_dir: str, u: str, v: str) -> DataFrame:
    """The purchase edges with disjoint node ids, customer → 2c as
    ``u`` and supplier → 2s+1 as ``v`` — the one spelling of the id
    scheme behind the pagerank, k-core, label-propagation and
    assortativity witnesses."""
    return _purchase_edges(
        spark,
        sf_dir,
        (F.col("o_custkey") * 2).alias(u),
        (F.col("l_suppkey") * 2 + 1).alias(v),
    )


def _degrees(edges: DataFrame, u: str, v: str) -> DataFrame:
    """``(node, deg)``: each node's degree in the undirected edge list
    ``edges(u, v)``, one count per endpoint occurrence."""
    return (
        edges.select(F.col(u).alias("node"))
        .unionByName(edges.select(F.col(v).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _triangles(edges: DataFrame) -> DataFrame:
    """``(a, c, b)`` per triangle of ``edges(ea, eb)`` (ea < eb): the
    ordered wedge join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c), a < b < c, which
    finds each triangle exactly once."""
    e1 = edges.select(F.col("ea").alias("a"), F.col("eb").alias("b"))
    e2 = edges.select(F.col("ea").alias("b"), F.col("eb").alias("c"))
    e3 = edges.select(F.col("ea").alias("a"), F.col("eb").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"])


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by PageRank on the purchase graph.

    Nodes: every customer (2k) and supplier (2k+1); directed edges
    customer→supplier for each distinct (o_custkey, l_suppkey) pair in
    the order history. Suppliers have no out-edges, so ~6% of the mass
    is dangling every iteration — the witness exercises the
    redistribution term, not just the sparse matvec.
    """
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    edges = _bipartite_edges(spark, sf_dir, "src", "dst")
    nodes = customer.select((F.col("c_custkey") * 2).alias("node")).unionByName(
        supplier.select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    ranks = pagerank(nodes, edges)
    return (
        ranks.where(F.col("node") % 2 == 1)
        .select(
            ((F.col("node") - 1) / 2).cast("bigint").alias("s_suppkey"),
            F.round("pr", 9).alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), "s_suppkey")
        .limit(_PR_TOPK)
    )


_TRI_EDGE_Q = 0.9  # edge = co-purchase pair in the top decile of strength


def _strong_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRONG co-purchase edges (ea < eb), the shared input of
    q_graph_triangles and q_local_clustering_coefficient — top-decile
    pairs by shared-order count with the data-derived p90 threshold
    (see q_graph_triangles for why a fixed count degenerates). The
    returned frame is localCheckpointed: both consumers fan it into
    5+ branches and the basket self-join is the dominant shuffle."""
    d = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = d.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    b = d.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    co = store.materialize(
        a.join(b, "ok")
        .where(F.col("s1") < F.col("s2"))
        .groupBy(F.col("s1").alias("ea"), F.col("s2").alias("eb"))
        .agg(F.count("*").alias("co")),
        # co feeds TWO consumers (histogram, edge filter) and its derived
        # edges frame feeds FIVE more — without lineage truncation the
        # basket self-join (the dominant shuffle) re-executed per branch.
        # Round-10 interleaved A/B (load 0.12): shipped r9 shape min 4.10 s
        # / med 5.09 s → this shape min 3.19 s / med 3.43 s at sf0.1,
        # identical output; rerun with `scripts/ab.py 4657ee8^ 4657ee8
        # --metric graph_triangles -- python3 {ab} time --sf <sf0.1>
        # graph_triangles`.
        "graph.strong_cooccur", eager=True,
    )
    hist = co.groupBy("co").agg(F.count("*").alias("cnt"))
    # n_pairs as a 1-row broadcast agg (not a second full-frame window):
    # one window pass over the bounded histogram is all the sort we need.
    n_pairs = hist.agg(F.sum("cnt").alias("n_pairs"))
    # single-partition window over the bounded co histogram (<= distinct
    # shared-order counts) — the Heaps-curve bounded-window pattern
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("co")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select("co", F.sum("cnt").over(w).alias("cum")).crossJoin(
        F.broadcast(n_pairs)
    )
    thr = cum.where(
        F.col("cum") >= F.ceil(F.lit(_TRI_EDGE_Q) * F.col("n_pairs"))
    ).agg(F.min("co").alias("thr"))
    return store.materialize(
        co.crossJoin(F.broadcast(thr))
        .where(F.col("co") >= F.col("thr"))
        .select("ea", "eb"),
        # the small post-p90 decile, consumed by deg/e1/e2/e3/n_edges —
        # cheap to materialize, saves 5 re-filters of co.
        "graph.strong_edges", eager=True,
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the STRONG
    supplier co-purchase graph — edges are the top-decile pairs by
    shared-order count (a data-derived p90 threshold: a fixed count
    degenerates with corpus density — measured, co ≥ 2 yields a complete
    clique at sf ≤ 0.01 and coefficient ≡ 1.0). The standard
    node-iterator/ordered-adjacency formulation: edges stored once as
    (a < b), triangles counted by the two-hop join e1(a,b) ⋈ e2(b,c) ⋈
    e3(a,c) with a < b < c — each triangle generated exactly once, no
    dedup/division pass, join fan per edge bounded by node degree (at
    100 TB the degeneracy-ordered variant of this exact plan is the
    published MapReduce algorithm). Edge generation reuses the
    market-basket shape: keyed on the ORDER, linear in orders, never
    suppliers².

    The p90 threshold comes from the CO-COUNT HISTOGRAM (distinct
    shared-order counts — bounded by max basket statistics, ~hundreds of
    rows), cumulated with a single-partition window over that bounded
    frame (the Heaps-curve pattern) — never a global sort of the pairs.

    Output: one row — n_edges, n_wedges, n_triangles, clustering
    coefficient 3·triangles/wedges snapped at 6dp. EXACT oracle
    (identical SQL)."""
    edges = _strong_edges(spark, sf_dir)
    deg = _degrees(edges, "ea", "eb")
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    tri = _triangles(edges).agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_edges = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                snap(3.0 * F.col("n_triangles") / F.col("n_wedges")),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


# Shared CTE prefix: the strong-edge construction (SQL twin of
# _strong_edges), reused by the triangles and local-clustering oracles.
_EDGES_CTES = f"""
    WITH d AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
    ), co AS (
        SELECT a.s AS ea, b.s AS eb, count(*) AS co
        FROM d a JOIN d b ON a.ok = b.ok AND a.s < b.s
        GROUP BY 1, 2
    ), hist AS (
        SELECT co, count(*) AS cnt FROM co GROUP BY co
    ), cum AS (
        SELECT co,
               sum(cnt) OVER (ORDER BY co
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               sum(cnt) OVER () AS n_pairs
        FROM hist
    ), thr AS (
        SELECT min(co) AS thr FROM cum
        WHERE cum >= ceil({_TRI_EDGE_Q} * n_pairs)
    ), edges AS (
        SELECT ea, eb FROM co, thr WHERE co.co >= thr.thr
    )"""

_TRI_ORACLE = _EDGES_CTES + """, deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT ea AS node FROM edges
            UNION ALL SELECT eb FROM edges
        ) GROUP BY node
    ), w AS (
        SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.ea = e1.eb
        JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
    ), ne AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
    )
    SELECT n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN floor(3.0 * n_triangles / n_wedges * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS clustering_coeff
    FROM ne, w, tri
"""


def q_local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998)
    over the strong co-purchase graph — c(v) = triangles(v) / C(deg v,
    2), the node-level drilldown of q_graph_triangles' single global
    coefficient (which node sits in a tight clique vs a hub-and-spoke
    star?).

    Per-node triangle counts come from the SAME a<b<c ordered join
    (each triangle found once), then credited to all three corners via
    a 3-way union — no per-node neighborhood re-scan. Determinism:
    counts are int64 and lcc6 = 2·tri·10⁶ div (deg·(deg−1)) is the
    pure-integer micro-unit ratio — no floats at all.

    Scale: shares _strong_edges' checkpointed decile frame with the
    triangles witness; the credit union and both aggs shuffle on the
    8-byte node key."""
    edges = _strong_edges(spark, sf_dir)
    deg = _degrees(edges, "ea", "eb")
    tris = _triangles(edges)
    tri_per_node = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri"))
    )
    return (
        deg.join(tri_per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri"),
        )
        .where(F.col("deg") >= 2)
        .withColumn("lcc6", F.expr("2 * tri * 1000000 div (deg * (deg - 1))"))
        .orderBy("node")
    )


_LCC_ORACLE = _EDGES_CTES + """, deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT ea AS node FROM edges
            UNION ALL SELECT eb FROM edges
        ) GROUP BY node
    ), tris AS (
        SELECT e1.ea AS a, e1.eb AS b, e2.eb AS c
        FROM edges e1
        JOIN edges e2 ON e2.ea = e1.eb
        JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
    ), tri_per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ) GROUP BY node
    )
    SELECT d.node, d.deg,
           CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
           CAST(2 * coalesce(t.tri, 0) * 1000000 // (d.deg * (d.deg - 1))
                AS BIGINT) AS lcc6
    FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
    WHERE d.deg >= 2
    ORDER BY d.node
"""


def unrolled_sql(head: str, step: Callable[[int], str], iters: int, tail: str) -> str:
    """An iterative oracle as one DuckDB query: the ``head`` CTEs, then
    ``step(i)`` — the CTEs of iteration i — for i = 1..iters, then the
    ``tail`` SELECT over the last iteration."""
    return head + "".join(step(i) for i in range(1, iters + 1)) + tail


def _pr_oracle() -> str:
    return unrolled_sql(
        """
        WITH edges AS (
            SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), nodes AS (
            SELECT c_custkey * 2 AS node FROM customer
            UNION ALL
            SELECT s_suppkey * 2 + 1 AS node FROM supplier
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes
        ), deg AS (
            SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src
        ), rk0 AS (
            SELECT n.node, round(1.0 / nn.nn, 12) AS pr FROM nodes n CROSS JOIN nn
        )""",
        lambda i: f""", c{i - 1} AS (
            SELECT e.dst AS node, sum(r.pr / d.outdeg) AS contrib
            FROM edges e
            JOIN deg d ON d.src = e.src
            JOIN rk{i - 1} r ON r.node = e.src
            GROUP BY e.dst
        ), g{i - 1} AS (
            SELECT coalesce(sum(r.pr), 0) AS dmass
            FROM rk{i - 1} r LEFT JOIN deg d ON d.src = r.node
            WHERE d.src IS NULL
        ), rk{i} AS (
            SELECT n.node,
                   round((1 - {_PR_D}) / nn.nn
                         + {_PR_D} * (coalesce(c.contrib, 0) + g{i - 1}.dmass / nn.nn),
                         {_PR_SNAP}) AS pr
            FROM nodes n
            CROSS JOIN nn
            CROSS JOIN g{i - 1}
            LEFT JOIN c{i - 1} c ON c.node = n.node
        )""",
        _PR_ITERS,
        f"""
        SELECT CAST((node - 1) / 2 AS BIGINT) AS s_suppkey,
               round(pr, 9) AS pagerank
        FROM rk{_PR_ITERS}
        WHERE node % 2 = 1
        ORDER BY pagerank DESC, s_suppkey
        LIMIT {_PR_TOPK}""",
    )


_KCORE_ITERS = 5  # fixed peeling rounds — deterministic on both engines
_KCORE_Q = 0.6  # k = smallest degree at/above the p60 of the initial dist


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling trajectory of the customer–supplier purchase graph
    (Seidman 1983; the distributed formulation is Montresor et al. 2013).
    k is DATA-DERIVED — the p60 of the initial degree distribution — via
    the bounded degree HISTOGRAM + single-partition cumulative window
    (the triangles-p90 pattern; a fixed k degenerates to no peeling at
    small SFs where bipartite degrees collapse). Then ``_KCORE_ITERS``
    fixed rounds of: degree-count → keep nodes with deg ≥ k → keep edges
    with both endpoints kept. A fixed iteration count (not
    to-convergence) keeps the oracle a bounded CTE unroll and is
    deterministic on both engines regardless of convergence.

    Output: one row per round — (iter, n_nodes, n_edges), all int64.

    Scale shape (100 TB): each round is one groupBy(node) degree count
    (map-side combinable, 8-byte keys) + two semi-joins of the edge list
    against the surviving-node set — shuffle on node id, never
    nodes². localCheckpoint per round truncates the O(iters)-deep
    lineage (cluster variant: reliable checkpoint, see SCALE.md).
    """
    edges = _bipartite_edges(spark, sf_dir, "a", "b")
    edges = store.materialize(edges, "graph.kcore_edges", eager=True)
    hist = _degrees(edges, "a", "b").groupBy("deg").agg(F.count("*").alias("cnt"))
    n_nodes0 = hist.agg(F.sum("cnt").alias("n0"))
    w = (
        # bounded: one row per distinct degree value
        Window.partitionBy(F.lit(1))
        .orderBy("deg")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kf = store.materialize(
        hist.select("deg", F.sum("cnt").over(w).alias("cum"))
        .crossJoin(F.broadcast(n_nodes0))
        .where(F.col("cum") >= F.ceil(F.lit(_KCORE_Q) * F.col("n0")))
        .agg(F.min("deg").alias("k")),
        "graph.kcore_degrees", eager=True,  # consumed every round
    )
    return kcore_peel(edges, kf, _KCORE_ITERS)


def kcore_peel(edges: DataFrame, kf: DataFrame, iters: int) -> DataFrame:
    """``iters`` rounds of k-core peeling over undirected ``edges(a, b)``
    with the threshold in 1-row frame ``kf(k)``. Returns the trajectory
    (iter, n_nodes, n_edges)."""
    rows = []
    for i in range(1, iters + 1):
        deg = _degrees(edges, "a", "b")
        # kept feeds THREE consumers (two semi-joins + the n_nodes
        # count); unmaterialized, the degree aggregation re-ran per
        # consumer. The checkpoints are lazy, but adaptive execution
        # still runs every shuffle-map stage below each one while the
        # loop builds it, so each round waits on the last: at sf0.01
        # building q_graph_kcore starts 36 jobs, 25 of them in these
        # two checkpoints (5 per round), and the action 16. Lazy still
        # beat eager (interleaved A/B min 4.460 → 3.885 s at sf0.1,
        # identical trajectory rows).
        kept = store.materialize(
            deg.crossJoin(F.broadcast(kf))
            .where(F.col("deg") >= F.col("k"))
            .select("node"),
            "graph.peel_kept", eager=False,
        )
        edges = store.materialize(
            edges.join(kept.withColumnRenamed("node", "a"), "a", "semi")
            .join(kept.withColumnRenamed("node", "b"), "b", "semi")
            .select("a", "b"),
            "graph.peel_edges", eager=False,
        )
        stat = (
            edges.agg(F.count("*").cast("bigint").alias("n_edges"))
            .crossJoin(
                F.broadcast(kept.agg(F.count("*").cast("bigint").alias("n_nodes")))
            )
            .select(F.lit(i).cast("bigint").alias("iter"), "n_nodes", "n_edges")
        )
        rows.append(stat)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_LP_CAP = 32  # per-supplier neighbor-list cap before pair generation


def _capped_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bipartite customer–supplier purchase graph with each
    supplier's fan-out capped at ``_LP_CAP`` customers: a deterministic
    row_number over md5(supp:cust) — identical hex-string ordering on
    both engines. Checkpointed: it feeds the degrees and both pair
    sides."""
    raw = _purchase_edges(
        spark, sf_dir, F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    )
    wcap = Window.partitionBy("supp").orderBy(
        F.md5(F.concat_ws(":", F.col("supp"), F.col("cust"))), "cust"
    )
    return store.materialize(
        raw.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= _LP_CAP)
        .select("cust", "supp"),
        "graph.capped_edges", eager=True,
    )


def _neighbor_pairs(edges: DataFrame) -> DataFrame:
    """Customer pairs ca < cb per shared supplier, from the equi-join on
    that neighbor — only pairs with a common neighbor ever materialize."""
    a = edges.select(F.col("supp"), F.col("cust").alias("ca"))
    b = edges.select(F.col("supp"), F.col("cust").alias("cb"))
    return a.join(b, "supp").where(F.col("ca") < F.col("cb"))


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (Liben-Nowell & Kleinberg
    2003) over the bipartite purchase graph: for customer pairs sharing
    at least one supplier, score = |Γ(a)∩Γ(b)| and Jaccard =
    cn/(deg_a+deg_b−cn); top-20 predicted links by Jaccard.

    Hub fan-out cap — part of the SEMANTICS, not a shortcut: each
    supplier contributes at most ``_LP_CAP`` neighbors (a deterministic
    md5-ranked sample per supplier), so candidate volume is bounded by
    suppliers·cap² instead of Σ deg² — the production discipline for
    common-neighbor scoring on graphs with hubs (hub co-occurrence
    carries no signal; Adamic-Adar down-weights it for the same reason,
    and fan-out caps are how WTF-style systems bound it). The uncapped
    variant measured 3.6e8 candidate pairs at sf0.1 (~180 s); capped it
    is ≤ 1e6. Degrees in the Jaccard denominator are the CAPPED degrees,
    keeping the score in [0,1] w.r.t. the sampled neighbor sets.

    Determinism: the cap is a row_number over md5(supp:cust) — identical
    hex-string ordering on both engines; Jaccard snapped to int64
    micro-units from exact int64 counts (one double division of exact
    integers); ranking and tie-breaks on (jaccard6, cust_a, cust_b).

    Scale shape (100 TB): candidates are generated by the equi-join on
    the SHARED NEIGHBOR (supplier) — only pairs with ≥1 common sampled
    neighbor ever materialize, never customers²; the cap bounds the
    per-key fan-out, so no AQE skew handling is even needed.
    """
    edges = _capped_edges(spark, sf_dir)
    deg = edges.groupBy("cust").agg(F.count("*").cast("bigint").alias("deg"))
    cn = (
        _neighbor_pairs(edges)
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("bigint").alias("cn"))
    )
    scored = (
        cn.join(deg.withColumnRenamed("cust", "ca").withColumnRenamed("deg", "da"), "ca")
        .join(deg.withColumnRenamed("cust", "cb").withColumnRenamed("deg", "db"), "cb")
        .select(
            F.col("ca").alias("cust_a"),
            F.col("cb").alias("cust_b"),
            "cn",
            units(
                F.col("cn") * 1000000.0 / (F.col("da") + F.col("db") - F.col("cn")), 1
            ).alias("jaccard6"),
        )
    )
    return scored.orderBy(
        F.col("jaccard6").desc(), "cust_a", "cust_b"
    ).limit(20)


def _aa_weights() -> list[int]:
    """Adamic-Adar weights 1/log2(d) in micro-units for capped supplier
    degrees d = 2.._LP_CAP — precomputed in PYTHON and inlined as
    literals on both engines (the nDCG-weight discipline; degree-1
    neighbors are excluded per the AA convention, 1/log(1) diverges)."""
    import math

    return [int(math.floor(1e6 / math.log2(d) + 0.5)) for d in range(2, _LP_CAP + 1)]


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over the same
    capped bipartite purchase graph as q_link_prediction: score(a,b) =
    Σ_{s ∈ Γ(a)∩Γ(b), deg(s)≥2} 1/log2(deg(s)) — rare shared neighbors
    count more, the refinement plain common-neighbor counting misses.
    Top-20 by score.

    Determinism: capped degrees live on the known grid 2..32, so the
    1/log2 weights are Python-inlined literal micro-unit ints and the
    score is a pure integer sum — neither engine evaluates a
    transcendental. Same md5-ranked fan-out cap as q_link_prediction
    (the scores are defined w.r.t. the sampled neighbor sets).

    Scale shape: identical to q_link_prediction — candidates keyed on
    the shared neighbor, fan-out bounded by the cap, plus one broadcast
    join of the (supplier, weight) table (≤ suppliers rows)."""
    edges = _capped_edges(spark, sf_dir)
    weights = _aa_weights()
    warr = F.array(*[F.lit(x) for x in weights])
    sdeg = (
        edges.groupBy("supp")
        .agg(F.count("*").cast("int").alias("sdeg"))
        .where(F.col("sdeg") >= 2)
        .select("supp", F.element_at(warr, F.col("sdeg") - 1).alias("w6"))
    )
    scored = (
        _neighbor_pairs(edges)
        .join(F.broadcast(sdeg), "supp")
        .groupBy("ca", "cb")
        .agg(
            F.count("*").cast("bigint").alias("cn"),
            F.sum("w6").cast("bigint").alias("aa6"),
        )
        .select(
            F.col("ca").alias("cust_a"), F.col("cb").alias("cust_b"), "cn", "aa6"
        )
    )
    return scored.orderBy(F.col("aa6").desc(), "cust_a", "cust_b").limit(20)


def _aa_oracle() -> str:
    weights = _aa_weights()
    warr = "[" + ", ".join(str(x) for x in weights) + "]"
    return f"""
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
        SELECT cust, supp FROM (
            SELECT cust, supp,
                   row_number() OVER (
                       PARTITION BY supp
                       ORDER BY md5(supp || ':' || cust), cust) AS rn
            FROM raw
        ) WHERE rn <= {_LP_CAP}
    ), sdeg AS (
        SELECT supp, {warr}[CAST(count(*) AS INT) - 1] AS w6
        FROM edges GROUP BY supp HAVING count(*) >= 2
    )
    SELECT a.cust AS cust_a, b.cust AS cust_b,
           CAST(count(*) AS BIGINT) AS cn,
           CAST(sum(sd.w6) AS BIGINT) AS aa6
    FROM edges a
    JOIN edges b ON a.supp = b.supp AND a.cust < b.cust
    JOIN sdeg sd ON sd.supp = a.supp
    GROUP BY 1, 2
    ORDER BY aa6 DESC, cust_a, cust_b
    LIMIT 20
    """


_LPA_ITERS = 3
_LPA_TOPK = 20


def propagate_labels(raw_edges: DataFrame, iters: int = _LPA_ITERS) -> DataFrame:
    """Synchronous mode-label propagation over an undirected edge list
    ``raw_edges(src, dst)`` (one orientation; symmetrized here).
    Returns ``(node, label)`` after ``iters`` rounds; ties break to the
    smallest label. Pure int64; join-per-iteration with per-round
    localCheckpoint (see q_label_propagation for scale notes)."""
    edges = raw_edges.union(raw_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = store.materialize(edges, "graph.lpa_edges", eager=False)
    lab = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(iters):
        nbr = edges.join(
            lab.withColumnRenamed("node", "nid"), F.col("dst") == F.col("nid")
        ).select(F.col("src").alias("node"), "label")
        cnts = nbr.groupBy("node", "label").agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        # Mode-argmax as max(struct(cnt, -label)) instead of a windowed
        # row_number (r21): same total order — max cnt, ties to the
        # SMALLEST label via the negated field (labels are non-negative
        # ids by the 2k/2k+1 scheme; int64 negation is exact) — but a
        # hash aggregation with map-side partial combine in place of a
        # full sort of the counts frame, and one fewer exchange (the
        # window needed hash(node) after cnts' hash(node,label)).
        # Interleaved A/B at sf0.1 (quiet box, 4 pairs): every pair
        # favors the agg shape, min 4.065 s vs 4.512 s, identical
        # labels. The checkpoints are lazy (r21 session 3), but adaptive
        # execution still runs every shuffle-map stage below each one
        # while the loop builds it, so each round waits on the last: at
        # sf0.01 building label_propagation starts 18 jobs, 16 of them
        # in this function's checkpoints (2 for edges, 14 over the 3
        # rounds), and the action 2. Lazy still beat eager (A/B min
        # 5.006 → 3.807 s).
        lab = store.materialize(
            cnts.groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label")),
            "graph.lpa_round", eager=False,
        )
    return lab


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) over the bipartite customer–supplier purchase
    graph (customers at 2k, suppliers at 2k+1, the k-core id scheme):
    every node starts labeled with its own id; each of the
    3 synchronous rounds relabels every node to the MODE of
    its neighbors' labels (ties to the smallest label — the standard
    deterministic LPA tie-break). Output: the top-20 communities by
    size, with a Σ-member-id checksum pinning the exact membership.

    Determinism: labels and counts are pure int64 end-to-end; the
    argmax is a windowed row_number over (cnt DESC, label ASC) — a
    total order, so synchronous updates are engine-independent. (On a
    bipartite graph synchronous LPA can oscillate; a fixed iteration
    count makes that irrelevant for the witness.)

    Scale shape (100 TB): the canonical join-per-iteration pattern
    (see q_graph_pagerank): per round one equi-join of the edge list
    with the node-sized label frame (shuffle on node id) + one
    windowed argmax (same shuffle key — AQE reuses the exchange).
    Labels are checkpointed per round to truncate lineage; skewed hubs
    are AQE skew-join territory. No pair explosion anywhere — cost is
    O(E) per round."""
    raw = _bipartite_edges(spark, sf_dir, "src", "dst")
    lab = propagate_labels(raw, _LPA_ITERS)
    return (
        lab.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("node").cast("bigint").alias("member_sum"),
        )
        .orderBy(F.col("n_members").desc(), "community")
        .limit(_LPA_TOPK)
    )


_HITS_ITERS = 2
_HITS_TOPK = 10


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the bipartite
    customer→supplier purchase graph: customers are hubs, suppliers
    authorities. 2 mutual-reinforcement rounds with
    max-normalization after every half-step; output the top-10
    per side as (side, node, score6).

    Determinism: scores live on the int64 micro-unit grid end-to-end —
    each half-step is an integer sum over edges followed by
    ``raw · 1e6 div max(raw)`` (the global max is a 1-row broadcast);
    no engine ever divides doubles, so unlike the textbook L2
    formulation there is no sqrt and no float-summation order anywhere.

    Scale shape (100 TB): per half-step one edge⋈score equi-join
    (shuffle on node id) + a map-side-combinable groupBy + a 1-row max
    cross-joined back (broadcast) — the q_graph_pagerank discipline,
    including per-round localCheckpoint. Top-k extraction is
    sort-limit (TakeOrdered), never a global window."""
    edges = _purchase_edges(
        spark,
        sf_dir,
        F.col("o_custkey").cast("bigint").alias("cust"),
        F.col("l_suppkey").cast("bigint").alias("supp"),
    )
    edges = store.materialize(edges, "graph.hits_edges", eager=False)
    auth = edges.select("supp").distinct().select(
        "supp", F.lit(1_000_000).cast("bigint").alias("a6")
    )
    hub = None
    for _ in range(_HITS_ITERS):
        # checkpoint the RAW frame, not the normalized one: the max and
        # the normalized projection both consume it, and checkpointing
        # downstream of the crossJoin made the edge-join+agg subtree run
        # twice per half-step (once under the BroadcastExchange for mx,
        # once in the main branch — §2.4 pruning-defeats-reuse).
        # The checkpoints are lazy, but adaptive execution still runs
        # each one's shuffle-map stages while the loop builds it: at
        # sf0.01 building the witness starts 23 jobs, 19 of them in
        # these two checkpoints (4-5 per half-step), and the action 5.
        # Lazy still beat eager (interleaved A/B min 3.540 → 3.045 s at
        # sf0.1, identical rows).
        hraw = store.materialize(
            edges.join(auth, "supp")
            .groupBy("cust")
            .agg(F.sum("a6").cast("bigint").alias("raw")),
            "graph.hits_hubs", eager=False,
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "cust", F.expr("raw * 1000000 div mx").cast("bigint").alias("h6")
        )
        araw = store.materialize(
            edges.join(hub, "cust")
            .groupBy("supp")
            .agg(F.sum("h6").cast("bigint").alias("raw")),
            "graph.hits_auths", eager=False,
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "supp", F.expr("raw * 1000000 div mx").cast("bigint").alias("a6")
        )
    top_h = (
        hub.orderBy(F.col("h6").desc(), "cust")
        .limit(_HITS_TOPK)
        .select(F.lit("hub").alias("side"), F.col("cust").alias("node"), F.col("h6").alias("score6"))
    )
    top_a = (
        auth.orderBy(F.col("a6").desc(), "supp")
        .limit(_HITS_TOPK)
        .select(F.lit("auth").alias("side"), F.col("supp").alias("node"), F.col("a6").alias("score6"))
    )
    return top_h.unionAll(top_a)


def _hits_oracle() -> str:
    return unrolled_sql(
        """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS cust,
                        CAST(l.l_suppkey AS BIGINT) AS supp
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), a0 AS MATERIALIZED (
        SELECT DISTINCT supp, CAST(1000000 AS BIGINT) AS a6 FROM e
    )""",
        lambda i: f""", hr{i} AS MATERIALIZED (
        SELECT e.cust, CAST(sum(p.a6) AS BIGINT) AS raw
        FROM e JOIN a{i - 1} p USING (supp) GROUP BY 1
    ), h{i} AS MATERIALIZED (
        SELECT cust, CAST(raw * 1000000 // (SELECT max(raw) FROM hr{i})
                          AS BIGINT) AS h6
        FROM hr{i}
    ), ar{i} AS MATERIALIZED (
        SELECT e.supp, CAST(sum(h.h6) AS BIGINT) AS raw
        FROM e JOIN h{i} h USING (cust) GROUP BY 1
    ), a{i} AS MATERIALIZED (
        SELECT supp, CAST(raw * 1000000 // (SELECT max(raw) FROM ar{i})
                          AS BIGINT) AS a6
        FROM ar{i}
    )""",
        _HITS_ITERS,
        f"""
    SELECT * FROM (
        SELECT 'hub' AS side, cust AS node, h6 AS score6
        FROM h{_HITS_ITERS} ORDER BY h6 DESC, cust LIMIT {_HITS_TOPK})
    UNION ALL
    SELECT * FROM (
        SELECT 'auth' AS side, supp AS node, a6 AS score6
        FROM a{_HITS_ITERS} ORDER BY a6 DESC, supp LIMIT {_HITS_TOPK})
    """,
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks"): the Pearson correlation of endpoint degrees
    across edges — do high-degree nodes attach to other high-degree
    nodes? Computed over the symmetrized customer–supplier purchase
    graph (both orientations, so the x/y marginals coincide — the
    standard undirected formulation). Output: one row with the exact
    integer moments (m, Σx, Σx², Σxy) and the 6dp-snapped coefficient.

    Determinism: the four moments are exact int64 sums (the raw sums
    fit comfortably; only their cross-PRODUCTS don't, see below); the
    coefficient is computed from them in DOUBLE with the identical
    spelling on both engines — int64→double conversion and IEEE
    multiply/divide are bit-deterministic, and the symmetric marginals
    cancel the usual sqrt entirely:
    r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²).

    Scale shape (100 TB): one distinct over the fact join, one
    degree hash-agg, one node-keyed join per endpoint, one global
    4-moment aggregate with map-side partials — no windows, no pair
    explosion. The int64 moments hold to ~10¹⁵ edges·deg³; past that
    the moments themselves go to double (or Spark DECIMAL) with the
    same downstream arithmetic."""
    raw = _bipartite_edges(spark, sf_dir, "src", "dst")
    edges = raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = store.materialize(edges, "graph.assortativity_edges", eager=True)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e2 = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("dx")), "src"
        )
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dy")), "dst")
    )
    m = e2.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    return m.select(
        "m",
        "sx",
        "sxx",
        "sxy",
        F.expr(
            "CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0"
            " ELSE CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * 1e6 + 0.5) AS BIGINT) END"
        ).alias("assort6"),
    )


_ASSORT_ORACLE = """
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                        CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS MATERIALIZED (
        SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
    ), deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(a.deg) AS BIGINT) AS sx,
               CAST(sum(a.deg * a.deg) AS BIGINT) AS sxx,
               CAST(sum(a.deg * b.deg) AS BIGINT) AS sxy
        FROM e JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst
    )
    SELECT m, sx, sxx, sxy,
           CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0
                ELSE CAST(floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * 1e6 + 0.5) AS BIGINT) END AS assort6
    FROM mom
"""


def _lpa_oracle() -> str:
    return unrolled_sql(
        """
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                        CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS MATERIALIZED (
        SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
    ), l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e
    )""",
        lambda i: f""", c{i} AS (
        SELECT e.src AS node, p.label, CAST(count(*) AS BIGINT) AS cnt
        FROM e JOIN l{i - 1} p ON e.dst = p.node GROUP BY 1, 2
    ), l{i} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )""",
        _LPA_ITERS,
        f"""
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(node) AS BIGINT) AS member_sum
    FROM l{_LPA_ITERS} GROUP BY 1
    ORDER BY n_members DESC, community LIMIT {_LPA_TOPK}
    """,
    )


def _kcore_oracle() -> str:
    return unrolled_sql(
        f"""
        WITH e0 AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), d0 AS (
            SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
            ) GROUP BY node
        ), hist AS (
            SELECT deg, count(*) AS cnt FROM d0 GROUP BY deg
        ), cum AS (
            SELECT deg,
                   sum(cnt) OVER (ORDER BY deg
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER () AS n0
            FROM hist
        ), kf AS MATERIALIZED (
            SELECT min(deg) AS k FROM cum
            WHERE cum >= ceil({_KCORE_Q} * n0)
        )""",
        lambda i: f""", dg{i} AS MATERIALIZED (
            SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1}
            ) GROUP BY node
        ), v{i} AS MATERIALIZED (
            SELECT node FROM dg{i}, kf WHERE deg >= k
        ), e{i} AS MATERIALIZED (
            SELECT a, b FROM e{i - 1}
            WHERE a IN (SELECT node FROM v{i})
              AND b IN (SELECT node FROM v{i})
        )""",
        _KCORE_ITERS,
        "\n"
        + "\nUNION ALL\n".join(
            f"""SELECT CAST({i} AS BIGINT) AS iter,
               (SELECT CAST(count(*) AS BIGINT) FROM v{i}) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e{i}) AS n_edges"""
            for i in range(1, _KCORE_ITERS + 1)
        ),
    )


_LINKPRED_ORACLE = f"""
    WITH raw AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
        SELECT cust, supp FROM (
            SELECT cust, supp,
                   row_number() OVER (
                       PARTITION BY supp
                       ORDER BY md5(supp || ':' || cust), cust) AS rn
            FROM raw
        ) WHERE rn <= {_LP_CAP}
    ), deg AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY cust
    ), cn AS (
        SELECT a.cust AS ca, b.cust AS cb, CAST(count(*) AS BIGINT) AS cn
        FROM edges a JOIN edges b ON a.supp = b.supp AND a.cust < b.cust
        GROUP BY 1, 2
    )
    SELECT cn.ca AS cust_a, cn.cb AS cust_b, cn.cn,
           CAST(floor(cn.cn * 1000000.0 / (da.deg + db.deg - cn.cn) + 0.5)
                AS BIGINT) AS jaccard6
    FROM cn
    JOIN deg da ON da.cust = cn.ca
    JOIN deg db ON db.cust = cn.cb
    ORDER BY jaccard6 DESC, cust_a, cust_b
    LIMIT 20
"""


ORACLES: dict[str, str] = {
    "graph_pagerank": _pr_oracle(),
    "graph_triangles": _TRI_ORACLE,
    "local_clustering_coefficient": _LCC_ORACLE,
    "graph_kcore": _kcore_oracle(),
    "link_prediction": _LINKPRED_ORACLE,
    "adamic_adar": _aa_oracle(),
    "label_propagation": _lpa_oracle(),
    "degree_assortativity": _ASSORT_ORACLE,
    "hits_scores": _hits_oracle(),
}
